package graft.models

import java.util.zip.ZipFile

import graft.models.Hdf5Reader.Tensor

/** Native runtime for the reference's bundled CATS broad classifier
  * (rubin/cats/processor.py:36-38 loads the TF SavedModel; the sibling
  * `cats_small_nometa_serial.keras` archive carries byte-identical
  * weights plus the architecture JSON, which is what we parse here).
  *
  * Architecture (config.json of the serial archive): two branches over
  * the (395, 4) light-curve tensor —
  *
  *  - CNN: 3x [Conv1D(k=2, same) -> BatchNorm(eps 1e-3) -> swish ->
  *    squeeze-excitation (GlobalAvgPool -> Dense(C/16, relu, no bias)
  *    -> Dense(C, sigmoid, no bias) -> channel-scale)] with widths
  *    64 -> 128 -> 256, then GlobalMaxPool over time;
  *  - RNN: BiLSTM(50, return sequences) -> BiLSTM(150, last state);
  *
  * concat([rnn(300), cnn(256)]) -> Dense(176) -> LeakyReLU(0.3) ->
  * Dense(5) -> softmax. Dropout layers are inference no-ops.
  *
  * The forward pass is computed in double precision over the float32
  * weights; class probabilities differ from TF's float32 execution only
  * at the ~1e-6 level (pinned against an independent NumPy evaluation of
  * the same archive in CatsModelSpec).
  */
final class CatsModel(w: Map[String, Tensor],
    kern: CatsKernel = CatsKernel.default) extends Serializable {
  import CatsModel._

  private def mat(name: String): Array[Array[Float]] = w(name).matrix
  private def vec(name: String): Array[Float] = w(name).vector

  private val convs = Array.tabulate(3) { i =>
    val base = if (i == 0) "conv1d" else s"conv1d_$i"
    val k = w(s"/layers/$base/vars/0") // (kernel=2, in, out)
    require(k.shape(0) == 2, s"conv kernel ${k.shape.toList}")
    (k.shape(1), k.shape(2), k.data.map(_.toDouble),
      vec(s"/layers/$base/vars/1").map(_.toDouble))
  }
  // the conv taps as per-tap weight-row matrices [dt][in][outC], the
  // shape CatsKernel.gemmAcc consumes in the batched forward
  private val convTapRows = convs.map { case (in, outC, kdata, _) =>
    Array.tabulate(2)(dt => Array.tabulate(in)(j =>
      java.util.Arrays.copyOfRange(kdata, (dt * in + j) * outC,
        (dt * in + j + 1) * outC)))
  }
  private val bns = Array.tabulate(3) { i =>
    val base = if (i == 0) "batch_normalization" else s"batch_normalization_$i"
    (vec(s"/layers/$base/vars/0"), vec(s"/layers/$base/vars/1"),
      vec(s"/layers/$base/vars/2"), vec(s"/layers/$base/vars/3"))
  }
  // squeeze-excitation dense pairs (no bias): (64->4->64), (128->8->128), (256->16->256)
  private val seDense = Array.tabulate(3) { i =>
    (mat(s"/layers/dense_${2 * i}/vars/0".replace("dense_0", "dense"))
        .map(_.map(_.toDouble)),
      mat(s"/layers/dense_${2 * i + 1}/vars/0").map(_.map(_.toDouble)))
  }
  private val lstm1 = BiLstm(loadCell(w, "bidirectional/forward_layer"),
    loadCell(w, "bidirectional/backward_layer"))
  private val lstm2 = BiLstm(loadCell(w, "bidirectional_1/forward_layer"),
    loadCell(w, "bidirectional_1/backward_layer"))
  private val headW = mat("/layers/dense_6/vars/0").map(_.map(_.toDouble))
  private val headB = vec("/layers/dense_6/vars/1").map(_.toDouble)
  private val outW = mat("/layers/dense_7/vars/0").map(_.map(_.toDouble))
  private val outB = vec("/layers/dense_7/vars/1").map(_.toDouble)

  /** Classify one padded (seqLen x 4) input tensor (CATS preprocessing,
    * Rubin.catsInputTensor); returns the 5 softmax probabilities.
    */
  def forward(x: Array[Array[Float]]): Array[Double] = {
    val steps = x.length
    var a: Array[Array[Double]] = x.map(_.map(_.toDouble))

    // ---- CNN branch ----
    var cnn: Array[Array[Double]] = a
    for (b <- 0 until 3) {
      val (in, outC, kdata, bias) = convs(b)
      val conv = Array.ofDim[Double](steps, outC)
      var t = 0
      while (t < steps) {
        val row = conv(t)
        var c = 0
        while (c < outC) { row(c) = bias(c); c += 1 }
        var dt = 0
        while (dt < 2) { // 'same' padding for k=2: taps t and t+1, zero past the end
          if (t + dt < steps) {
            val xt = cnn(t + dt)
            var j = 0
            while (j < in) {
              val xv = xt(j)
              val kOff = (dt * in + j) * outC
              c = 0
              while (c < outC) { row(c) += xv * kdata(kOff + c); c += 1 }
              j += 1
            }
          }
          dt += 1
        }
        t += 1
      }
      val (gamma, beta, mean, variance) = bns(b)
      val scale = Array.tabulate(outC)(c =>
        gamma(c) / math.sqrt(variance(c).toDouble + 1e-3))
      val shift = Array.tabulate(outC)(c => beta(c).toDouble - mean(c) * scale(c))
      t = 0
      while (t < steps) {
        val row = conv(t)
        var c = 0
        while (c < outC) {
          val z = row(c) * scale(c) + shift(c)
          row(c) = z / (1.0 + math.exp(-z)) // swish
          c += 1
        }
        t += 1
      }
      // squeeze-excitation: mean over ALL timesteps (no masking), two
      // bias-free denses, per-channel sigmoid gate
      val pooled = new Array[Double](outC)
      t = 0
      while (t < steps) {
        val row = conv(t)
        var c = 0
        while (c < outC) { pooled(c) += row(c); c += 1 }
        t += 1
      }
      var c = 0
      while (c < outC) { pooled(c) /= steps; c += 1 }
      val (w1, w2) = seDense(b)
      val hid = Array.tabulate(w1(0).length) { h =>
        var z = 0.0; var j = 0
        while (j < outC) { z += pooled(j) * w1(j)(h); j += 1 }
        math.max(z, 0.0)
      }
      val gate = Array.tabulate(outC) { g =>
        var z = 0.0; var j = 0
        while (j < hid.length) { z += hid(j) * w2(j)(g); j += 1 }
        1.0 / (1.0 + math.exp(-z))
      }
      t = 0
      while (t < steps) {
        val row = conv(t)
        c = 0
        while (c < outC) { row(c) *= gate(c); c += 1 }
        t += 1
      }
      cnn = conv
    }
    val cnnOut = new Array[Double](cnn(0).length)
    java.util.Arrays.fill(cnnOut, Double.NegativeInfinity)
    for (t <- 0 until steps; c <- cnnOut.indices)
      if (cnn(t)(c) > cnnOut(c)) cnnOut(c) = cnn(t)(c)

    // ---- RNN branch ----
    val h1 = lstm1.sequences(a)
    val rnnOut = lstm2.lastState(h1)

    // ---- head ----
    val cat = rnnOut ++ cnnOut
    val hidden = Array.tabulate(headB.length) { h =>
      var z = headB(h); var j = 0
      while (j < cat.length) { z += cat(j) * headW(j)(h); j += 1 }
      if (z >= 0) z else 0.3 * z // LeakyReLU(alpha=0.3)
    }
    val logits = Array.tabulate(outB.length) { c =>
      var z = outB(c); var j = 0
      while (j < hidden.length) { z += hidden(j) * outW(j)(c); j += 1 }
      z
    }
    val mx = logits.max
    val exps = logits.map(z => math.exp(z - mx))
    val s = exps.sum
    exps.map(_ / s)
  }

  /** Batched forward over same-length padded tensors — bit-identical
    * to mapping [[forward]] (every row's accumulation order is
    * unchanged; only the loop NESTING moves the batch into 4-row
    * tiles), matching the reference's Arrow-batch scoring granularity
    * (rubin/cats/processor.py:60-169).
    *
    * Measured honestly (SCALE_r06 "q17 batched CNN forward", local
    * box): the per-row pass runs at ~4-5 GMAC/s, which is ALREADY the
    * JVM's measured single-stream axpy ceiling for L2-resident weights
    * (an isolated `g(k) += x*w(k)` microbench tops out at 5.3 GMAC/s from L2,
    * 9.6 GMAC/s from L1 — same section), so weight-reuse tiling
    * buys ~1.15x here, not TF's order-of-magnitude batch win; without
    * explicit SIMD (jdk.incubator.vector) or float32 (which would
    * break the 1e-9 golden pins) the scalar/superword ceiling is the
    * binding constraint. The batch entry point is still the right
    * plumbing: it amortizes per-call overhead, and a future vectorized
    * kernel slots in behind the same API.
    *
    * Mixed-length inputs are grouped by length and each group runs in
    * lockstep (CATS preprocessing pads everything to one maxLen, so in
    * practice there is one group).
    */
  def forwardBatch(xs: Array[Array[Array[Float]]]): Array[Array[Double]] = {
    val out = new Array[Array[Double]](xs.length)
    xs.indices.groupBy(i => xs(i).length).foreach { case (_, idxs) =>
      val preds = forwardLockstep(idxs.map(xs).toArray)
      idxs.zipWithIndex.foreach { case (i, k) => out(i) = preds(k) }
    }
    out
  }

  private def forwardLockstep(
      xs: Array[Array[Array[Float]]]): Array[Array[Double]] = {
    val bN = xs.length
    val steps = xs(0).length
    val a: Array[Array[Array[Double]]] = xs.map(_.map(_.map(_.toDouble)))

    // ---- CNN branch (batched) ----
    var cnn: Array[Array[Array[Double]]] = a
    val xRows = new Array[Array[Double]](bN)
    val oRows = new Array[Array[Double]](bN)
    for (layer <- 0 until 3) {
      val (_, outC, _, bias) = convs(layer)
      val taps = convTapRows(layer)
      val conv = Array.fill(bN)(Array.ofDim[Double](steps, outC))
      var t = 0
      while (t < steps) {
        var b = 0
        while (b < bN) {
          val row = conv(b)(t)
          var c = 0
          while (c < outC) { row(c) = bias(c); c += 1 }
          oRows(b) = row
          b += 1
        }
        // both conv taps through the CatsKernel seam; per output
        // element the add order (bias, tap 0 j-ascending, tap 1
        // j-ascending) matches the per-row forward bit-for-bit
        var dt = 0
        while (dt < 2) {
          if (t + dt < steps) {
            b = 0
            while (b < bN) { xRows(b) = cnn(b)(t + dt); b += 1 }
            kern.gemmAcc(xRows, taps(dt), oRows)
          }
          dt += 1
        }
        t += 1
      }
      val (gamma, beta, mean, variance) = bns(layer)
      val scale = Array.tabulate(outC)(c =>
        gamma(c) / math.sqrt(variance(c).toDouble + 1e-3))
      val shift = Array.tabulate(outC)(c => beta(c).toDouble - mean(c) * scale(c))
      var b = 0
      while (b < bN) {
        val cb = conv(b)
        var t2 = 0
        while (t2 < steps) {
          val row = cb(t2)
          var c = 0
          while (c < outC) {
            val z = row(c) * scale(c) + shift(c)
            row(c) = z / (1.0 + math.exp(-z)) // swish
            c += 1
          }
          t2 += 1
        }
        // squeeze-excitation per row (weights are small; order matches
        // the single-row path exactly)
        val pooled = new Array[Double](outC)
        t2 = 0
        while (t2 < steps) {
          val row = cb(t2)
          var c = 0
          while (c < outC) { pooled(c) += row(c); c += 1 }
          t2 += 1
        }
        var c = 0
        while (c < outC) { pooled(c) /= steps; c += 1 }
        val (w1, w2) = seDense(layer)
        val hid = Array.tabulate(w1(0).length) { h =>
          var z = 0.0; var j = 0
          while (j < outC) { z += pooled(j) * w1(j)(h); j += 1 }
          math.max(z, 0.0)
        }
        val gate = Array.tabulate(outC) { g =>
          var z = 0.0; var j = 0
          while (j < hid.length) { z += hid(j) * w2(j)(g); j += 1 }
          1.0 / (1.0 + math.exp(-z))
        }
        t2 = 0
        while (t2 < steps) {
          val row = cb(t2)
          c = 0
          while (c < outC) { row(c) *= gate(c); c += 1 }
          t2 += 1
        }
        b += 1
      }
      cnn = conv
    }

    // ---- RNN branch (batched lockstep) ----
    val h1 = lstm1.sequencesBatch(a, kern)
    val rnnOut = lstm2.lastStateBatch(h1, kern)

    // ---- head + global max pool, per row ----
    Array.tabulate(bN) { b =>
      val cb = cnn(b)
      val cnnOut = new Array[Double](cb(0).length)
      java.util.Arrays.fill(cnnOut, Double.NegativeInfinity)
      for (t <- 0 until steps; c <- cnnOut.indices)
        if (cb(t)(c) > cnnOut(c)) cnnOut(c) = cb(t)(c)
      val cat = rnnOut(b) ++ cnnOut
      val hidden = Array.tabulate(headB.length) { h =>
        var z = headB(h); var j = 0
        while (j < cat.length) { z += cat(j) * headW(j)(h); j += 1 }
        if (z >= 0) z else 0.3 * z // LeakyReLU(alpha=0.3)
      }
      val logits = Array.tabulate(outB.length) { c =>
        var z = outB(c); var j = 0
        while (j < hidden.length) { z += hidden(j) * outW(j)(c); j += 1 }
        z
      }
      val mx = logits.max
      val exps = logits.map(z => math.exp(z - mx))
      val s = exps.sum
      exps.map(_ / s)
    }
  }
}

object CatsModel {

  /** tanh via the exp identity. java.lang.Math.tanh on JDK 17 is a
    * NATIVE fdlibm call (no x86 intrinsic until much later JDKs) at
    * ~100 ns/call — the LSTM makes ~316k tanh calls per forward, which
    * profiling showed dominating the pass, ahead of the matmuls.
    * Math.exp IS a HotSpot intrinsic. |difference| vs fdlibm is ~1 ulp;
    * the golden pins (1e-9 vs independent NumPy float64) hold because
    * the LSTM recurrence is contractive (gates saturate, cell state is
    * convexly mixed), so per-call 1e-16 noise cannot amplify.
    */
  @inline private[models] def tanhFast(z: Double): Double =
    if (z >= 0) { val e = math.exp(-2.0 * z); (1.0 - e) / (1.0 + e) }
    else { val e = math.exp(2.0 * z); (e - 1.0) / (e + 1.0) }

  /** One Keras LSTM cell: kernel (in, 4u), recurrent (u, 4u), bias (4u);
    * gate column order i, f, c-candidate, o.
    */
  final case class LstmCell(kernel0: Array[Array[Float]],
      recurrent0: Array[Array[Float]], bias0: Array[Float]) extends Serializable {
    // pre-widened to double once: the step loops would otherwise pay a
    // float->double conversion on every multiply-accumulate
    private val kernel: Array[Array[Double]] = kernel0.map(_.map(_.toDouble))
    private val recurrent: Array[Array[Double]] = recurrent0.map(_.map(_.toDouble))
    private val bias: Array[Double] = bias0.map(_.toDouble)
    val units: Int = recurrent0.length

    /** Run over the sequence (optionally reversed); returns all hidden
      * states in PROCESSING order.
      */
    def run(x: Array[Array[Double]], reverse: Boolean): Array[Array[Double]] = {
      val n = x.length
      val h = new Array[Double](units)
      val c = new Array[Double](units)
      val out = new Array[Array[Double]](n)
      val gates = new Array[Double](4 * units)
      var step = 0
      while (step < n) {
        val xt = x(if (reverse) n - 1 - step else step)
        var g = 0
        while (g < 4 * units) { gates(g) = bias(g); g += 1 }
        var j = 0
        while (j < xt.length) {
          val xv = xt(j); val kr = kernel(j)
          g = 0
          while (g < 4 * units) { gates(g) += xv * kr(g); g += 1 }
          j += 1
        }
        j = 0
        while (j < units) {
          val hv = h(j); val rr = recurrent(j)
          g = 0
          while (g < 4 * units) { gates(g) += hv * rr(g); g += 1 }
          j += 1
        }
        var u = 0
        while (u < units) {
          val i = 1.0 / (1.0 + math.exp(-gates(u)))
          val f = 1.0 / (1.0 + math.exp(-gates(units + u)))
          val cand = tanhFast(gates(2 * units + u))
          val o = 1.0 / (1.0 + math.exp(-gates(3 * units + u)))
          c(u) = f * c(u) + i * cand
          h(u) = o * tanhFast(c(u))
          u += 1
        }
        out(step) = h.clone()
        step += 1
      }
      out
    }

    /** Batched [[run]] over same-length sequences in lockstep:
      * per-row gate accumulation order is unchanged (j ascending, then
      * recurrent j ascending, gate index ascending) so results are
      * bit-identical to mapping [[run]]; the batch loop sits INSIDE
      * the weight-row loop so each 4u-wide kernel/recurrent row is
      * read from L2 once per step and reused across the batch — the
      * per-row path re-streams the full weight matrices every row.
      */
    def runBatch(x: Array[Array[Array[Double]]], reverse: Boolean,
        kern: CatsKernel = CatsKernel.default): Array[Array[Array[Double]]] = {
      val bN = x.length
      val n = x(0).length
      val h = Array.ofDim[Double](bN, units)
      val c = Array.ofDim[Double](bN, units)
      val out = Array.fill(bN)(new Array[Array[Double]](n))
      val gates = Array.ofDim[Double](bN, 4 * units)
      val xRows = new Array[Array[Double]](bN) // per-step input-row views
      var step = 0
      while (step < n) {
        val ti = if (reverse) n - 1 - step else step
        var b = 0
        while (b < bN) {
          val g = gates(b)
          var k = 0
          while (k < 4 * units) { g(k) = bias(k); k += 1 }
          xRows(b) = x(b)(ti)
          b += 1
        }
        // the two hot batch GEMMs go through the CatsKernel seam (the
        // pinned scalar default is the 4-row-tile loop measured at the
        // JVM superword ceiling — see CatsKernel.Scalar); per gate
        // element the accumulation order is unchanged (input j
        // ascending, then recurrent j ascending), so results stay
        // bit-identical to the per-row path
        kern.gemmAcc(xRows, kernel, gates)
        kern.gemmAcc(h, recurrent, gates)
        b = 0
        while (b < bN) {
          val g = gates(b); val hb = h(b); val cb = c(b)
          var u = 0
          while (u < units) {
            val i = 1.0 / (1.0 + math.exp(-g(u)))
            val f = 1.0 / (1.0 + math.exp(-g(units + u)))
            val cand = tanhFast(g(2 * units + u))
            val o = 1.0 / (1.0 + math.exp(-g(3 * units + u)))
            cb(u) = f * cb(u) + i * cand
            hb(u) = o * tanhFast(cb(u))
            u += 1
          }
          out(b)(step) = hb.clone()
          b += 1
        }
        step += 1
      }
      out
    }
  }

  final case class BiLstm(fwd: LstmCell, bwd: LstmCell) extends Serializable {
    /** return_sequences=true: per-step [fwd(t) ++ bwd(t)] with the
      * backward outputs restored to forward time order (Keras
      * Bidirectional concat merge).
      */
    def sequences(x: Array[Array[Double]]): Array[Array[Double]] = {
      val f = fwd.run(x, reverse = false)
      val b = bwd.run(x, reverse = true)
      val n = x.length
      Array.tabulate(n)(t => f(t) ++ b(n - 1 - t))
    }

    /** return_sequences=false: [last fwd state ++ last bwd state]. */
    def lastState(x: Array[Array[Double]]): Array[Double] = {
      val f = fwd.run(x, reverse = false)
      val b = bwd.run(x, reverse = true)
      f.last ++ b.last
    }

    /** Batched [[sequences]] (lockstep; see [[LstmCell.runBatch]]). */
    def sequencesBatch(x: Array[Array[Array[Double]]],
        kern: CatsKernel = CatsKernel.default): Array[Array[Array[Double]]] = {
      val f = fwd.runBatch(x, reverse = false, kern)
      val b = bwd.runBatch(x, reverse = true, kern)
      val n = x(0).length
      Array.tabulate(x.length)(r =>
        Array.tabulate(n)(t => f(r)(t) ++ b(r)(n - 1 - t)))
    }

    /** Batched [[lastState]] (lockstep; see [[LstmCell.runBatch]]). */
    def lastStateBatch(x: Array[Array[Array[Double]]],
        kern: CatsKernel = CatsKernel.default): Array[Array[Double]] = {
      val f = fwd.runBatch(x, reverse = false, kern)
      val b = bwd.runBatch(x, reverse = true, kern)
      Array.tabulate(x.length)(r => f(r).last ++ b(r).last)
    }
  }

  private def loadCell(w: Map[String, Tensor], base: String): LstmCell =
    LstmCell(w(s"/layers/$base/cell/vars/0").matrix,
      w(s"/layers/$base/cell/vars/1").matrix,
      w(s"/layers/$base/cell/vars/2").vector)

  /** Load from a Keras v3 `.keras` archive (a zip holding
    * model.weights.h5); `kern` selects the batched-GEMM kernel
    * (default: the pinned scalar path).
    */
  def load(kerasPath: String,
      kern: CatsKernel = CatsKernel.default): CatsModel = {
    val zf = new ZipFile(kerasPath)
    try {
      val entry = zf.getEntry("model.weights.h5")
      require(entry != null, s"$kerasPath has no model.weights.h5")
      val in = zf.getInputStream(entry)
      val bytes = in.readAllBytes()
      in.close()
      new CatsModel(Hdf5Reader.read(bytes), kern)
    } finally zf.close()
  }
}
