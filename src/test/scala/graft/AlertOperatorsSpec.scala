package graft

import org.apache.spark.sql.functions._

import graft.alerts.AlertCols
import graft.operators.{Asteroids, Nalerthist}

/** Golden-count tests on the reference's 124-alert ZTF fixture
  * (/root/reference/fink_science/data/alerts/datatest, read-only).
  * Expected values from the reference doctests (FIXTURES.md §7).
  */
class AlertOperatorsSpec extends SparkSpec {

  val ztfSample = "/root/reference/fink_science/data/alerts/datatest"

  private lazy val alerts = spark.read.parquet(ztfSample)

  test("fixture loads with the expected shape") {
    ReferenceFixtures.assumePresent(ztfSample)
    assert(alerts.count() === 124)
    assert(alerts.columns.contains("candidate"))
    assert(alerts.columns.contains("prv_candidates"))
  }

  test("concat_col appends current after history") {
    ReferenceFixtures.assumePresent(ztfSample)
    val df = AlertCols.concatCol(alerts, "jd")
    val r = df.select(col("cjd"), col("candidate.jd"),
      size(coalesce(col("prv_candidates"), array())).as("nh")).limit(50).collect()
    r.foreach { row =>
      val cjd = row.getSeq[Double](0)
      assert(cjd.last === row.getDouble(1), "current must be last")
      assert(cjd.length === row.getInt(2) + 1)
    }
  }

  // The fixture ships the production-computed enrichment columns; we
  // assert row-wise equality against them (stronger than the doctest
  // golden counts, which reflect a doctest-harness pandas quirk where
  // null history entries compare equal and count as detections).

  test("nalerthist matches the fixture's production column row-wise") {
    ReferenceFixtures.assumePresent(ztfSample)
    val df = Nalerthist.fromPacket(alerts.withColumnRenamed("nalerthist", "expected"))
    assert(df.filter(col("nalerthist") =!= col("expected")).count() === 0)
    val mm = df.agg(min("nalerthist"), max("nalerthist")).head()
    assert(mm.getInt(0) === 1)
    assert(mm.getInt(1) === 26)
  }

  test("roid matches the fixture's production column row-wise") {
    ReferenceFixtures.assumePresent(ztfSample)
    val df = Asteroids(AlertCols.withHistory(
      alerts.withColumnRenamed("roid", "expected"), Seq("jd", "magpsf")))
    assert(df.filter(col("roid") =!= col("expected")).count() === 0)
    assert(df.filter(col("roid") === 3).count() === 1)
  }
}
