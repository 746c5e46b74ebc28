package graft.models

/** The batched-GEMM seam behind [[CatsModel.forwardBatch]] (VERDICT r6
  * #10): the two hot accumulations — the LSTM gate pre-activations and
  * the conv taps — are expressed as one primitive. [[CatsKernel.Scalar]]
  * is the only implementation, because an explicit Vector-API kernel
  * measured 0.86-1.02x of it (SCALE_r09 "Flags and honesty notes": C2's
  * superword pass already vectorizes the scalar k-loop, and the
  * bit-stability contract below forbids the fused add(mul)->fma rewrite
  * where the remaining headroom lives). The trait is the seam
  * CatsModelSpec injects a counting kernel through. Q17GoldenSpec holds
  * the model output to the committed goldens at 1e-9 against Scalar.
  */
trait CatsKernel extends Serializable {

  /** Accumulate a batch GEMM: for every batch row b,
    * `out(b)(k) += sum_j x(b)(j) * w(j)(k)` with `j` over `w.length`
    * and `k` over `w(j).length`.
    *
    * CONTRACT (bit-stability): per OUTPUT ELEMENT the additions must
    * be applied j-ascending. The model's goldens are pinned at 1e-9
    * and the batch path is spec-pinned bit-identical to the per-row
    * path, so implementations may tile or vectorize across `b` and
    * `k` freely (those reorderings leave each element's add sequence
    * intact) but must NOT split, reorder, or pairwise-reduce the `j`
    * accumulation.
    */
  def gemmAcc(x: Array[Array[Double]], w: Array[Array[Double]],
      out: Array[Array[Double]]): Unit
}

object CatsKernel {

  /** The scalar kernel: 4-row batch tiles with the tile
    * OUTERMOST, so each weight row streams from L2 once per 4 batch
    * rows while the 4 output rows stay L1-resident across the j loop.
    * Measured at the JVM's superword ceiling (~5.3 GMAC/s L2-resident,
    * SCALE_r06 "q17 batched CNN forward"); the batch win over per-row
    * is ~1.15x.
    */
  object Scalar extends CatsKernel {
    def gemmAcc(x: Array[Array[Double]], w: Array[Array[Double]],
        out: Array[Array[Double]]): Unit = {
      val bN = x.length
      val nJ = w.length
      var b = 0
      while (b + 4 <= bN) {
        val o0 = out(b); val o1 = out(b + 1)
        val o2 = out(b + 2); val o3 = out(b + 3)
        val x0 = x(b); val x1 = x(b + 1)
        val x2 = x(b + 2); val x3 = x(b + 3)
        var j = 0
        while (j < nJ) {
          val wr = w(j)
          val v0 = x0(j); val v1 = x1(j)
          val v2 = x2(j); val v3 = x3(j)
          var k = 0
          val len = wr.length
          while (k < len) {
            val wv = wr(k)
            o0(k) += v0 * wv; o1(k) += v1 * wv
            o2(k) += v2 * wv; o3(k) += v3 * wv
            k += 1
          }
          j += 1
        }
        b += 4
      }
      while (b < bN) { // remainder rows, single-row order
        val o = out(b); val xr = x(b)
        var j = 0
        while (j < nJ) {
          val wr = w(j)
          val v = xr(j)
          var k = 0
          val len = wr.length
          while (k < len) { o(k) += v * wr(k); k += 1 }
          j += 1
        }
        b += 1
      }
    }
  }
}
