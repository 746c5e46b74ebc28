package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.models.{CatsModel, Hdf5Reader, RefModels}
import graft.operators.Rubin

/** Pins the native CATS runtime (models/CatsModel.scala, the bundled
  * serial `.keras` archive) against an independent NumPy forward pass of
  * the same HDF5 weights: identical LCG-generated light curves run
  * through the exact reference preprocessing (Rubin.catsInputTensor)
  * and the full network; probabilities agree to float32-eval levels.
  */
class CatsModelSpec extends AnyFunSuite {

  private val kerasPath =
    s"${RefModels.dir}/cats_models/cats_small_nometa_serial.keras"
  private def available = new java.io.File(kerasPath).isFile

  private final class Lcg(seed: Long) {
    private var x = seed & Long.MaxValue
    def next(): Double = {
      x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      x.toDouble / (1L << 62).toDouble - 1.0
    }
  }

  // NumPy float64 forward pass of the same archive (h5 parsed without
  // h5py), LCG seed 2026, sequence lengths 2/7/40/395/410.
  private val golden: Map[Int, Array[Double]] = Map(
    2 -> Array(0.9517930505040887, 0.0004885664026721997,
      0.008517376200237185, 0.03122508913103455, 0.007975917761967306),
    7 -> Array(0.061571434819941, 0.00012176700580537814,
      0.0004513405541962503, 0.9339037756642, 0.0039516819558573285),
    40 -> Array(2.1093780855415498e-06, 1.684240524523964e-07,
      5.340566257144202e-08, 0.9999903975674316, 7.271224767918363e-06),
    395 -> Array(1.6618158029788625e-11, 2.4976499308088716e-09,
      3.695458502335466e-12, 0.999999996915971, 5.660654068802618e-10),
    410 -> Array(8.481682310967153e-11, 9.449855294270837e-09,
      9.540954658348792e-12, 0.9999999888706937, 1.5850930728061294e-09))

  test("weights load: every expected tensor with its shape") {
    assume(available)
    val zf = new java.util.zip.ZipFile(kerasPath)
    val bytes =
      try zf.getInputStream(zf.getEntry("model.weights.h5")).readAllBytes()
      finally zf.close()
    val w = Hdf5Reader.read(bytes)
    assert(w("/layers/conv1d/vars/0").shape.toList === List(2, 4, 64))
    assert(w("/layers/conv1d_2/vars/0").shape.toList === List(2, 128, 256))
    assert(w("/layers/bidirectional/forward_layer/cell/vars/1").shape.toList === List(50, 200))
    assert(w("/layers/bidirectional_1/backward_layer/cell/vars/0").shape.toList === List(100, 600))
    assert(w("/layers/dense_6/vars/0").shape.toList === List(556, 176))
    assert(w("/layers/dense_7/vars/1").shape.toList === List(5))
    assert(w.size === 40)
  }

  test("forward pass matches the independent NumPy evaluation") {
    assume(available)
    val model = CatsModel.load(kerasPath)
    val lcg = new Lcg(2026L)
    val bands = Array("u", "g", "r", "i", "z", "y")
    for (seqLen <- Seq(2, 7, 40, 395, 410)) {
      // generation order mirrors the Python golden script exactly
      val incs = Array.fill(seqLen)(math.abs(lcg.next()) * 3 + 0.1)
      val mjd = incs.scanLeft(0.0)(_ + _).drop(1).map(_ + 60000.0)
      val flux = Array.fill(seqLen)(lcg.next() * 1e4)
      val err = Array.fill(seqLen)(math.abs(lcg.next()) * 100 + 1)
      val band = Array.fill(seqLen)(bands(((lcg.next() + 1) * 3).toInt % 6))
      val x = Rubin.catsInputTensor(mjd, flux, err, band)
      val p = model.forward(x)
      val g = golden(seqLen)
      assert(p.length === 5)
      assert(math.abs(p.sum - 1.0) < 1e-12)
      for (c <- 0 until 5)
        assert(math.abs(p(c) - g(c)) < 1e-9,
          s"seqLen=$seqLen class=$c got ${p(c)} want ${g(c)}")
      assert(p.indexOf(p.max) === g.indexOf(g.max))
    }
  }

  test("RefModels wires the real model as the default scorer") {
    assume(available)
    assert(RefModels.cats.isDefined)
  }

  test("the CatsKernel seam is live: a delegating kernel is invoked and bit-identical") {
    assume(available)
    var calls = 0L
    val counting = new graft.models.CatsKernel {
      def gemmAcc(x: Array[Array[Double]], w: Array[Array[Double]],
          out: Array[Array[Double]]): Unit = {
        calls += 1
        graft.models.CatsKernel.Scalar.gemmAcc(x, w, out)
      }
    }
    val base = CatsModel.load(kerasPath)
    val seamed = CatsModel.load(kerasPath, counting)
    val lcg = new Lcg(99L)
    val bands = Array("u", "g", "r", "i", "z", "y")
    val xs = Array(5, 5, 12).map { seqLen =>
      val incs = Array.fill(seqLen)(math.abs(lcg.next()) * 3 + 0.1)
      val mjd = incs.scanLeft(0.0)(_ + _).drop(1).map(_ + 60000.0)
      val flux = Array.fill(seqLen)(lcg.next() * 1e4)
      val err = Array.fill(seqLen)(math.abs(lcg.next()) * 100 + 1)
      val band = Array.fill(seqLen)(bands(((lcg.next() + 1) * 3).toInt % 6))
      Rubin.catsInputTensor(mjd, flux, err, band)
    }
    val got = seamed.forwardBatch(xs)
    assert(calls > 0, "the injected kernel was never invoked — dead seam")
    // bit-identical both to the default-kernel batch path and to the
    // per-row forward (the contract CatsKernel documents)
    val viaDefault = base.forwardBatch(xs)
    val viaPerRow = xs.map(base.forward)
    for (i <- xs.indices; c <- 0 until 5) {
      assert(got(i)(c) == viaDefault(i)(c), s"row $i class $c vs default batch")
      assert(got(i)(c) == viaPerRow(i)(c), s"row $i class $c vs per-row")
    }
  }

  test("vector kernel loads under test and is BIT-identical to scalar on fuzzed shapes") {
    // Scalar is the measured default (the SCALE_r09 vector-kernel null
    // result — see CatsKernel.default); the vector kernel must still
    // LOAD here (build.sbt adds the incubator module to forked runs) so
    // the opt-in path stays exercised, and must be raw-bits identical
    assert(graft.models.CatsKernel.default eq graft.models.CatsKernel.Scalar,
      "default drifted from the measured-scalar decision")
    val lcg = new Lcg(7L)
    // shapes straddling the lane width (SPECIES_PREFERRED is 2-8
    // doubles): remainders, sub-lane rows, odd batch counts
    for (trial <- 0 until 20) {
      val bN = 1 + (trial % 5)
      val nJ = 1 + ((trial * 7) % 9)
      val nK = 1 + ((trial * 13) % 19)
      def mat(rows: Int, cols: Int) =
        Array.fill(rows)(Array.fill(cols)(lcg.next() * 3.5))
      val x = mat(bN, nJ)
      val w = mat(nJ, nK)
      val o1 = mat(bN, nK)
      val o2 = o1.map(_.clone())
      graft.models.CatsKernel.Scalar.gemmAcc(x, w, o1)
      graft.models.CatsVectorKernel.gemmAcc(x, w, o2)
      for (b <- 0 until bN; k <- 0 until nK)
        assert(java.lang.Double.doubleToRawLongBits(o1(b)(k)) ==
          java.lang.Double.doubleToRawLongBits(o2(b)(k)),
          s"trial $trial out($b)($k): scalar ${o1(b)(k)} vs vector ${o2(b)(k)}")
    }
  }
}
