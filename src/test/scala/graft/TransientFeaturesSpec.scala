package graft

import org.apache.spark.sql.functions._

import graft.operators.TransientFeatures

/** Row-wise comparison against the reference implementation's own output
  * on the 124-alert fixture (generated once with the reference's pyspark
  * code into src/test/resources/transient_features_expected.parquet).
  */
class TransientFeaturesSpec extends SparkSpec {

  val ztfSample = "/root/reference/fink_science/data/alerts/datatest"
  val expectedPath = "src/test/resources/transient_features_expected.parquet"

  test("adds exactly the 7 feature columns") {
    ReferenceFixtures.assumePresent(ztfSample)
    val alerts = spark.read.parquet(ztfSample)
    val out = TransientFeatures(alerts)
    assert(out.columns.length === alerts.columns.length + 7)
  }

  test("features match the reference output row-wise (nulls included)") {
    ReferenceFixtures.assumePresent(ztfSample)
    val alerts = spark.read.parquet(ztfSample)
    val out = TransientFeatures(alerts)
      .select("candid", TransientFeatures.featureColumns: _*)
    val expected = spark.read.parquet(expectedPath)
    val joined = out.as("g").join(expected.as("e"), "candid")
    assert(joined.count() === 124)
    TransientFeatures.featureColumns.foreach { fc =>
      val diff = joined.filter(
        !(col(s"g.$fc") <=> col(s"e.$fc"))).count()
      assert(diff === 0, s"column $fc differs on $diff rows")
    }
  }
}
