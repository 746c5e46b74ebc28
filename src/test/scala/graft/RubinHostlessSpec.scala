package graft

import org.apache.spark.sql.functions._

import graft.kernels.Fits
import graft.operators.RubinHostless

class RubinHostlessSpec extends SparkSpec {

  val rubinSample = "/root/reference/fink_science/data/alerts/or4_lsst7.1"

  test("rubin cutouts decode as plain FITS") {
    ReferenceFixtures.assumePresent(rubinSample)
    val rows = spark.read.parquet(rubinSample)
      .select(col("cutoutScience")).limit(5).collect()
    val decoded = rows.flatMap(r => Fits.read(r.getAs[Array[Byte]](0)))
    assert(decoded.nonEmpty, "no cutout decoded — format unexpected")
    decoded.foreach(img => assert(img.rows > 0 && img.cols > 0))
  }

  test("rubin hostless base runs over the fixture with sentinels") {
    ReferenceFixtures.assumePresent(rubinSample)
    val df = spark.read.parquet(rubinSample)
    val out = RubinHostless.base(spark, df, iterations = 30)
    val res = out.select("kstest_static").collect()
    assert(res.length === 50)
    res.foreach { r =>
      val arr = r.getSeq[Float](0)
      assert(arr.length === 2)
      assert(arr.forall(v => v == -99f || (v >= -1.0f && v <= 1.0f)))
    }
  }

  test("moving-transient veto flags linear motion, keeps stationary") {
    val mjd = Array(60000.0, 60000.05, 60000.1, 60000.15)
    val movingRa = mjd.map(t => 150.0 + (t - 60000.0) * 0.01) // 1.5"/hr in RA
    val staticRa = Array.fill(4)(150.0)
    val dec = Array.fill(4)(-20.0)
    assert(RubinHostless.maybeMoving(movingRa, dec, mjd,
      minMovingArcsecHour = 1.0))
    assert(!RubinHostless.maybeMoving(staticRa, dec, mjd))
  }
}
