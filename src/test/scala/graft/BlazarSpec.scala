package graft

import org.apache.spark.sql.functions._

import graft.operators.{DrLightCurveClient, ExtremeState, StandardizedFlux}

class BlazarSpec extends SparkSpec {

  import spark.implicits._

  // synthetic CTAO catalog: one monitored blazar
  private lazy val catalog = Seq(
    ("SRC1", "ZTF19aaaaaaa", (10.0, 20.0), 0.5, 2.0))
    .toDF("Source_name", "ZTF_name", "medians", "low_threshold", "high_threshold")
    .withColumn("medians", struct(
      col("medians._1").as("1"), col("medians._2").as("2")))

  // alert history: two g-band epochs + one r-band, one upper limit
  private lazy val alerts = Seq(
    ("ZTF19aaaaaaa", 1L,
      Seq[java.lang.Double](18.0, null, 18.5), Seq[java.lang.Double](0.1, null, 0.1),
      Seq[java.lang.Double](17.0, 17.0, 17.0), Seq[java.lang.Double](0.05, 0.05, 0.05),
      Seq("t", "t", "t"), Seq(1, 1, 2), Seq(100.0, 105.0, 110.0),
      Seq(10.0, 10.0, 10.0), Seq(20.0, 20.0, 20.0)),
    ("ZTFunknown", 2L,
      Seq[java.lang.Double](18.0), Seq[java.lang.Double](0.1),
      Seq[java.lang.Double](17.0), Seq[java.lang.Double](0.05),
      Seq("t"), Seq(1), Seq(100.0), Seq(11.0), Seq(21.0)))
    .toDF("objectId", "candid", "cmagpsf", "csigmapsf", "cmagnr", "csigmagnr",
      "cisdiffpos", "cfid", "cjd", "cra", "cdec")

  private lazy val withFlux = StandardizedFlux(alerts, catalog)

  test("standardized flux: catalog objects get per-band flux/median, others empty") {
    val rows = withFlux.select("objectId", "cstd_flux").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(rows("ZTFunknown").isEmpty)
    val f = rows("ZTF19aaaaaaa")
    assert(f.length === 3)
    // epoch 0: g-band, dc flux = 3631*(10^(-.4*17) + 10^(-.4*18)) / median 10
    val expected0 = 3631.0 * (math.pow(10, -0.4 * 17.0) + math.pow(10, -0.4 * 18.0)) / 10.0
    assert(math.abs(f(0) - expected0) < 1e-12)
    assert(f(1).isNaN) // upper limit stays NaN
    // epoch 2: r-band -> median 20
    val expected2 = 3631.0 * (math.pow(10, -0.4 * 17.0) + math.pow(10, -0.4 * 18.5)) / 20.0
    assert(math.abs(f(2) - expected2) < 1e-12)
  }

  test("extreme state: criteria computed for monitored, -1 defaults otherwise") {
    val out = ExtremeState(spark, withFlux, catalog)
    val stats = out.select("objectId", "blazar_stats").collect()
      .map(r => r.getString(0) -> r.getMap[String, Float](1)).toMap
    val unknown = stats("ZTFunknown")
    assert(unknown.values.forall(_ === -1.0f))
    val known = stats("ZTF19aaaaaaa")
    // robustness_low key carries last-flux/threshold (reference mapping)
    assert(known("robustness_low") > 0)
    assert(known("instantness_low") > 0)
    assert(known("cdf_quantile") === -1.0f) // offline client
  }

  test("cdf quantile interpolates the weighted empirical CDF") {
    val mjd = Array(0.0, 1.0, 2.0, 3.0, 4.0)
    val fx = Array(1.0, 2.0, 3.0, 4.0, 99.0) // last dropped by weighting
    assert(ExtremeState.cdfQuantile(mjd, fx, 0.5) === 0.0)
    assert(ExtremeState.cdfQuantile(mjd, fx, 100.0) === 1.0)
    val mid = ExtremeState.cdfQuantile(mjd, fx, 2.5)
    assert(mid > 0.25 && mid < 0.75)
  }

  test("extreme state consumes an injected DR light-curve client") {
    val fake = new DrLightCurveClient {
      def lightCurve(ra: Double, dec: Double, r: Double): Array[(Double, Double)] =
        Array((0.0, 0.1), (1.0, 0.2), (2.0, 0.3), (3.0, 5.0))
    }
    // low thresholds make the low-state test succeed (ratios in [0,1])
    val cat2 = catalog.withColumn("low_threshold", lit(1e9))
    val out = ExtremeState(spark, StandardizedFlux(alerts, cat2), cat2, fake)
    val known = out.filter(col("objectId") === "ZTF19aaaaaaa")
      .select("blazar_stats").head().getMap[String, Float](0)
    assert(known("cdf_quantile") >= 0.0f)
  }

  test("a ZTF_name repeated in the catalog raises a named error instead of duplicating alerts") {
    // a left join would emit the matched alert twice; the lookup
    // refuses the catalog at plan construction
    val dup = catalog.union(catalog.withColumn("Source_name", lit("SRC2")))
    val e1 = intercept[IllegalArgumentException](StandardizedFlux(alerts, dup))
    assert(e1.getMessage.contains("ZTF_name") && e1.getMessage.contains("ZTF19aaaaaaa"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException](ExtremeState(spark, withFlux, dup))
    assert(e2.getMessage.contains("duplicate key 'ZTF19aaaaaaa'"), e2.getMessage)
    // null names never match and are not duplicates
    val nulls = catalog.union(catalog.withColumn("ZTF_name", lit(null).cast("string")))
      .union(catalog.withColumn("ZTF_name", lit(null).cast("string")))
    assert(StandardizedFlux(alerts, nulls).count() === 2)
  }
}
