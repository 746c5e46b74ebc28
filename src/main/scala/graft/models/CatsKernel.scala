package graft.models

/** The batched-GEMM seam behind [[CatsModel.forwardBatch]] (VERDICT r6
  * #10): the two hot accumulations — the LSTM gate pre-activations and
  * the conv taps — are expressed as one primitive so an explicit-SIMD
  * implementation (jdk.incubator.vector, once the incubator module is
  * permissible in the build) can slot in behind the same API. The
  * scalar path below is the pinned default; Q17GoldenSpec holds the
  * model output to the committed goldens at 1e-9 against it.
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

  /** Runtime-selected kernel. MEASURED NULL RESULT (r9,
    * SCALE_r09 "Flags and honesty notes", on the model's two hot
    * shapes): the explicit Vector-API kernel lands at 0.86-1.02x of
    * Scalar — C2's superword pass already auto-vectorizes the scalar
    * k-loop (~7.3 GMAC/s, up from the 5.3 the r6 axpy microbench
    * measured on the narrower tile, SCALE_r06 "q17 batched CNN
    * forward"), and the bit-stability contract forbids the fused add(mul)->fma
    * rewrite where the remaining explicit-SIMD headroom lives. So
    * Scalar stays the default; `-Dgraft.cats.kernel=vector` opts in
    * to [[CatsVectorKernel]] (bit-identical by contract and by
    * CatsModelSpec's fuzzed raw-bits pin, so selection never changes
    * results), falling back cleanly when the incubator module is
    * absent from the runtime.
    */
  lazy val default: CatsKernel =
    if (!sys.props.get("graft.cats.kernel").contains("vector")) Scalar
    else
      try {
        val k = CatsVectorKernel
        // force linkage of the incubator classes NOW so an absent
        // module surfaces here (caught) and not mid-inference
        val probe = Array(new Array[Double](3))
        k.gemmAcc(Array(Array(1.0, 2.0)),
          Array(Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)), probe)
        require(probe(0)(0) == 9.0 && probe(0)(2) == 15.0)
        k
      } catch { case _: LinkageError | _: Exception => Scalar }

  /** Pinned-default scalar kernel: 4-row batch tiles with the tile
    * OUTERMOST, so each weight row streams from L2 once per 4 batch
    * rows while the 4 output rows stay L1-resident across the j loop.
    * Measured at the JVM's superword ceiling (~5.3 GMAC/s L2-resident,
    * SCALE_r06 "q17 batched CNN forward"); the batch win over per-row
    * is ~1.15x and the order-of-magnitude step needs the vector API —
    * which is exactly what this seam is for.
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
