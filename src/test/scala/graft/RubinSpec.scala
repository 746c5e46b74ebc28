package graft

import org.apache.spark.sql.functions._

import graft.operators.Rubin
import graft.xmatch.{Catalogs, CrossMatch}

class RubinSpec extends SparkSpec {

  val rubinSample = "/root/reference/fink_science/data/alerts/or4_lsst7.1"

  private lazy val alerts = spark.read.parquet(rubinSample)

  private lazy val withSeries = Rubin.withHistory(alerts,
    Seq("psfFlux", "psfFluxErr", "midpointMjdTai", "band"))

  test("rubin fixture loads and concat_col builds flux series") {
    ReferenceFixtures.assumePresent(rubinSample)
    assert(alerts.count() === 50)
    val r = withSeries.select("cpsfFlux", "cmidpointMjdTai").limit(10).collect()
    r.foreach { row =>
      assert(row.getSeq[Any](0).length === row.getSeq[Any](1).length)
      assert(row.getSeq[Any](0).nonEmpty)
    }
  }

  test("rubin nalerthist counts real flux measurements") {
    ReferenceFixtures.assumePresent(rubinSample)
    val out = Rubin.nalerthist(withSeries)
    val mm = out.agg(min("nalerthist"), max("nalerthist")).head()
    assert(mm.getInt(0) >= 1)
    assert(mm.getInt(1) >= mm.getInt(0))
  }

  test("rubin ad features: per-band-letter maps over flux space") {
    ReferenceFixtures.assumePresent(rubinSample)
    val out = Rubin.adFeatures(spark, withSeries)
    val rows = out.select("cband", "lc_features").limit(10).collect()
    rows.foreach { r =>
      val feats = r.getMap[String, Map[String, Double]](1)
      feats.keys.foreach(k => assert(Rubin.Bands.contains(k)))
      feats.values.foreach(f => assert(f.size === 26))
    }
  }

  test("rubin snn + cats produce bounded scores and a class index") {
    ReferenceFixtures.assumePresent(rubinSample)
    val out = Rubin.catsBroadClass(spark, Rubin.snn(spark, withSeries))
    val bad = out.filter(col("snn_sn_vs_all") < 0 || col("snn_sn_vs_all") > 1).count()
    assert(bad === 0)
    val cls = out.select("cats_broad_class").collect().map(_.getInt(0))
    assert(cls.forall(c => c >= 0 && c < 5))
  }

  test("rubin TNS crossmatch returns typed struct payload, null unmatched") {
    ReferenceFixtures.assumePresent(rubinSample)
    import spark.implicits._
    // synthetic TNS catalog: one source on top of the first alert
    val first = alerts.select(col("diaSource.ra"), col("diaSource.dec")).head()
    val tns = Seq(
      (first.getDouble(0), first.getDouble(1), "SN 2024abc", "SN Ia", 0.05f),
      (10.0, -80.0, "SN 2020xyz", "SN II", 0.1f))
      .toDF("ra", "declination", "fullname", "type", "redshift")
    val out = Rubin.xmatchTns(alerts, tns)
    assert(out.count() === 50)
    val matched = out.filter(col("tns.type").isNotNull)
    assert(matched.count() === 1)
    assert(matched.select("tns.type").head().getString(0) === "SN Ia")
    // golden shape from the reference doctest: unmatched rows null
    assert(out.filter(col("tns").isNull || col("tns.type").isNull).count() === 49)
  }

  test("elasticc adapter: canonical series feed the Rubin operators unchanged") {
    ReferenceFixtures.assumePresent("data/alerts/elasticc_sample_seed0.parquet")
    val el = spark.read.parquet(
      "/root/reference/fink_science/data/alerts/elasticc_sample_seed0.parquet")
    val series = Rubin.fromElasticc(el)
    val out = Rubin.snn(spark, Rubin.nalerthist(series))
    assert(out.count() === el.count())
    assert(out.filter(col("nalerthist") >= 0).count() === el.count())
    assert(out.filter(col("snn_sn_vs_all") < 0 || col("snn_sn_vs_all") > 1).count() === 0)
  }

  test("rubin crossmatch works against a dec-band-filtered catalog") {
    ReferenceFixtures.assumePresent(rubinSample, "data/catalogs/gcvs.parquet")
    val a = alerts.select(col("alertId").as("id"),
      col("diaSource.ra").as("ra"), col("diaSource.dec").as("dec"))
    val stats = a.agg(min("dec"), max("dec")).head()
    val (gcvs, ra, dec, lab) = Catalogs.gcvs(spark,
      "/root/reference/fink_science/data/catalogs/gcvs.parquet")
    val pruned = Rubin.decBandFilter(gcvs, dec, stats.getDouble(0), stats.getDouble(1), 1.0)
    val out = CrossMatch.label(a, pruned, 1.5, "id", "ra", "dec", ra, dec, lab, "gcvs")
    assert(out.count() === 50)
    // the or4 pointing has no GCVS stars within 1.5" -> all Unknown is fine,
    // but every row must carry the label column
    assert(out.filter(col("gcvs").isNull).count() === 0)
  }

  test("cats input tensor: exact reference preprocessing") {
    val mjd = Array(60000.0, 60001.5, 60003.0)
    val flux = Array(100.0, 300.0, 200.0)
    val err = Array(5.0, 10.0, 7.5)
    val band = Array("g", "r", "y")
    val lc = Rubin.catsInputTensor(mjd, flux, err, band)
    assert(lc.length === 395)
    assert(lc(0).toSeq === Seq(0f, 0f, 0f, 2f))
    assert(lc(1).toSeq === Seq(1.5f, 1f, 1f, 3f))
    assert(lc(2).toSeq === Seq(3f, 0.5f, 0.5f, 6f))
    assert(lc(3).toSeq === Seq(-999f, -999f, -999f, 0f))
    // singleton curves normalize to [1.0]
    val one = Rubin.catsInputTensor(Array(60000.0), Array(5.0), Array(1.0), Array("u"))
    assert(one(0).toSeq === Seq(0f, 1f, 1f, 1f))
    // pre-truncation keeps the LAST 395 steps
    val long = Rubin.catsInputTensor(
      Array.tabulate(400)(i => 60000.0 + i),
      Array.tabulate(400)(_.toDouble),
      Array.fill(400)(1.0), Array.fill(400)("g"))
    assert(long(0)(0) === 5f) // first kept step is original index 5
    assert(long(394)(0) === 399f)
  }
}
