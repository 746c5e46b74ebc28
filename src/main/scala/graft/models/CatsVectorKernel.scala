package graft.models

import jdk.incubator.vector.DoubleVector

/** Explicit-SIMD [[CatsKernel]] over `jdk.incubator.vector` (VERDICT
  * r7 #9 / r9 #9): vector lanes run across `k` — distinct OUTPUT
  * elements — so each element's `j`-ascending add order is untouched,
  * and the combine is `add(mul)` (two roundings, exactly the scalar
  * sequence), NOT `fma` (single rounding), so results are
  * BIT-IDENTICAL to [[CatsKernel.Scalar]]; CatsModelSpec pins that and
  * Q17GoldenSpec holds the end-to-end model on whichever kernel
  * [[CatsKernel.default]] selects.
  *
  * Loading this object requires the incubator module on the runtime
  * (`--add-modules jdk.incubator.vector` — build.sbt adds it to every
  * forked run). MEASURED (SCALE_r09 "Flags and honesty notes"):
  * 0.86-1.02x of Scalar on the hot shapes — C2's superword pass
  * already vectorizes the scalar loop and the no-FMA contract caps the
  * explicit-SIMD headroom — so
  * this kernel is OPT-IN (`-Dgraft.cats.kernel=vector`), kept as the
  * seam's proof-of-concept and the place an FMA-relaxed variant would
  * land if the goldens were ever re-pinned; [[CatsKernel.default]]
  * falls back to Scalar when the module is absent, so library
  * consumers never hard-depend on it.
  *
  * Batch rows are tiled 2-wide (vs Scalar's 4): with each weight row's
  * SIMD load shared across the tile, two output rows already saturate
  * the load ports, and the narrower tile keeps both output rows
  * L1-resident for the wider vectors.
  */
object CatsVectorKernel extends CatsKernel {

  private val SP = DoubleVector.SPECIES_PREFERRED

  def gemmAcc(x: Array[Array[Double]], w: Array[Array[Double]],
      out: Array[Array[Double]]): Unit = {
    val bN = x.length
    val nJ = w.length
    val lanes = SP.length()
    var b = 0
    while (b + 2 <= bN) {
      val o0 = out(b); val o1 = out(b + 1)
      val x0 = x(b); val x1 = x(b + 1)
      var j = 0
      while (j < nJ) {
        val wr = w(j)
        val len = wr.length
        val ub = SP.loopBound(len)
        val s0 = x0(j); val s1 = x1(j)
        val v0 = DoubleVector.broadcast(SP, s0)
        val v1 = DoubleVector.broadcast(SP, s1)
        var k = 0
        while (k < ub) {
          val wv = DoubleVector.fromArray(SP, wr, k)
          DoubleVector.fromArray(SP, o0, k).add(wv.mul(v0)).intoArray(o0, k)
          DoubleVector.fromArray(SP, o1, k).add(wv.mul(v1)).intoArray(o1, k)
          k += lanes
        }
        while (k < len) {
          val wv = wr(k)
          o0(k) += s0 * wv; o1(k) += s1 * wv
          k += 1
        }
        j += 1
      }
      b += 2
    }
    while (b < bN) {
      val o = out(b); val xr = x(b)
      var j = 0
      while (j < nJ) {
        val wr = w(j)
        val len = wr.length
        val ub = SP.loopBound(len)
        val s = xr(j)
        val v = DoubleVector.broadcast(SP, s)
        var k = 0
        while (k < ub) {
          val wv = DoubleVector.fromArray(SP, wr, k)
          DoubleVector.fromArray(SP, o, k).add(wv.mul(v)).intoArray(o, k)
          k += lanes
        }
        while (k < len) { o(k) += s * wr(k); k += 1 }
        j += 1
      }
      b += 1
    }
  }
}
