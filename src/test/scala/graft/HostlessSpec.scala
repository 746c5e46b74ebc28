package graft

import org.apache.spark.sql.functions._

import graft.kernels.{Fits, ImageStats, PowerSpectrum}
import graft.operators.HostlessDetection

class HostlessSpec extends SparkSpec {

  val fixture = "/root/reference/fink_science/data/alerts/hostless_detection/part-0-0-435829.parquet"

  test("FITS stamps decode to 63x63 float images") {
    ReferenceFixtures.assumePresent(fixture)
    val df = spark.read.parquet(fixture)
      .select(col("cutoutScience.stampData").as("sci")).limit(5)
    df.collect().foreach { r =>
      val img = Fits.readGzipped(r.getAs[Array[Byte]](0))
      assert(img.isDefined)
      assert(img.get.rows === 63 && img.get.cols === 63)
    }
  }

  test("sigma clipping masks outliers and converges") {
    val rng = new java.util.Random(1L)
    val img = Array.tabulate(20, 20)((_, _) => rng.nextGaussian())
    img(5)(5) = 1000.0
    img(7)(3) = -500.0
    val clipped = ImageStats.sigmaClip(img)
    assert(clipped.mask(5)(5) && clipped.mask(7)(3))
    assert(clipped.countMasked < 20)
  }

  test("power spectrum of white noise vs structured image") {
    val rng = new java.util.Random(7L)
    val noise = Array.tabulate(30, 30)((_, _) => rng.nextGaussian())
    // structured: bright central blob (host-like)
    val blob = Array.tabulate(30, 30)((r, c) =>
      10.0 * math.exp(-((r - 15) * (r - 15) + (c - 15) * (c - 15)) / 8.0) +
        rng.nextGaussian() * 0.1)
    val (dNoise, _) = PowerSpectrum.hostStatistic(noise, 14, 50, new java.util.Random(3L))
    val (dBlob, _) = PowerSpectrum.hostStatistic(blob, 14, 50, new java.util.Random(3L))
    // the blob's real spectrum is far from its shuffles; noise is not
    assert(dBlob > dNoise)
    assert(dBlob > 0.8)
  }

  test("KS two-sample statistic matches a hand-computed case") {
    val (d, p) = PowerSpectrum.ksTest(Array(1.0, 2.0, 3.0), Array(10.0, 11.0, 12.0))
    assert(d === 1.0)
    assert(p < 0.2)
    val (d2, _) = PowerSpectrum.ksTest(Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0))
    assert(d2 === 0.0)
  }

  test("base hostless golden: 3 of 72 fixtures get a non-negative statistic") {
    ReferenceFixtures.assumePresent(fixture)
    val df = spark.read.parquet(fixture)
    val out = HostlessDetection.base(spark, df, iterations = 100)
    val processed = out.filter(col("kstest_static")(0) >= 0)
    assert(out.count() === 72)
    assert(processed.count() === 3)
  }
}
