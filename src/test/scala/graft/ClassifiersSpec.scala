package graft

import org.apache.spark.sql.functions._

import graft.alerts.AlertCols
import graft.kernels.SigmoidFit
import graft.models.{IsolationForestScorer, StubModels}
import graft.operators.{AdFeatures, Asteroids, Classifiers, SelectionCuts}

class ClassifiersSpec extends SparkSpec {

  val ztfSample = "/root/reference/fink_science/data/alerts/datatest"

  private lazy val enriched = {
    val alerts = spark.read.parquet(ztfSample)
    val series = AlertCols.withHistory(alerts,
      Seq("jd", "magpsf", "sigmapsf", "fid", "distnr", "magnr", "sigmagnr", "isdiffpos"))
    Asteroids(series.withColumnRenamed("roid", "roid_orig"))
  }

  test("sigmoid fit recovers parameters of a clean sigmoid") {
    val a = 0.8; val b = 10.0; val c = 500.0
    val t = (0 until 20).map(_.toDouble).toArray
    val f = t.map(ti => c / (1.0 + math.exp(-a * (ti - b))))
    val s = Array.fill(20)(5.0)
    val r = SigmoidFit.fit(t, f, s)
    assert(math.abs(r.c - c) / c < 0.01)
    assert(math.abs(r.a - a) < 0.05)
    assert(r.chisq < 1e-3)
  }

  test("pIa: gated rows get 0.0, admitted rows a probability") {
    ReferenceFixtures.assumePresent(ztfSample)
    val out = Classifiers.rfSnia(spark, enriched)
    val gate = SelectionCuts.sniaGate(col("cmagpsf"), col("candidate.ndethist"), col("cdsxmatch"))
    val n = out.count()
    assert(n === 124)
    assert(out.filter(!gate && col("pIa") =!= 0.0).count() === 0)
    val admitted = out.filter(gate)
    assert(admitted.filter(col("pIa") < 0.0 || col("pIa") > 1.0).count() === 0)
  }

  test("microlensing drops non-finite DC points instead of poisoning the features") {
    import spark.implicits._
    val b1 = (1 to 12).map(i => 15.0 + 0.01 * i)
    val b2 = (1 to 12).map(i => 16.0 + 0.01 * i)
    def mk(ms: Seq[Double], fids: Seq[Int], pos: Seq[String]) =
      Seq((ms, ms.map(_ => 0.05), ms.map(_ => 18.0), ms.map(_ => 0.1),
        pos, fids))
        .toDF("cmagpsf", "csigmapsf", "cmagnr", "csigmagnr",
          "cisdiffpos", "cfid")
        .withColumn("candidate", struct(lit(25).as("ndethist")))
    // poisoned: one band-1 point is a negative difference brighter than
    // the reference (isdiffpos='f', magpsf 10 vs magnr 18) -> negative
    // DC flux -> NaN dc_mag; the guard must make it equivalent to the
    // same alert without that point
    val clean = mk(b1 ++ b2,
      Seq.fill(12)(1) ++ Seq.fill(12)(2),
      Seq.fill(24)("t"))
    val poisoned = mk((b1 :+ 10.0) ++ b2,
      (Seq.fill(12)(1) :+ 1) ++ Seq.fill(12)(2),
      (Seq.fill(12)("t") :+ "f") ++ Seq.fill(12)("t"))
    val sc = Classifiers.microlensing(spark, clean)
      .select("mulens").head().getDouble(0)
    val sp = Classifiers.microlensing(spark, poisoned)
      .select("mulens").head().getDouble(0)
    assert(!sp.isNaN && sp >= 0.0 && sp <= 1.0)
    assert(sp === sc, "a non-finite DC point changed the score")

    // a band that passes the >=10-valid-points gate but keeps <10
    // FINITE points after DC filtering must not classify: normalized
    // LIA statistics over 1-2 points are degenerate, the exact failure
    // the guard exists to prevent (ADVICE r5)
    val mostlyPoisoned = mk(
      (b1.take(2) ++ Seq.fill(10)(10.0)) ++ b2,
      Seq.fill(12)(1) ++ Seq.fill(12)(2),
      (Seq.fill(2)("t") ++ Seq.fill(10)("f")) ++ Seq.fill(12)("t"))
    val mp = Classifiers.microlensing(spark, mostlyPoisoned)
      .select("mulens").head().getDouble(0)
    assert(mp === 0.0,
      "a band with <10 finite DC points classified anyway")
  }

  test("snn and kilonova and mulens run over the fixture with valid ranges") {
    ReferenceFixtures.assumePresent(ztfSample)
    val out = Classifiers.microlensing(spark,
      Classifiers.kilonova(spark, Classifiers.snn(spark, enriched)))
    val bad = out.filter(
      col("snn_snia_vs_nonia") < 0 || col("snn_snia_vs_nonia") > 1 ||
        col("pKNe") < 0 || col("pKNe") > 1 ||
        col("mulens") < 0 || col("mulens") > 1).count()
    assert(bad === 0)
    // stand-in engagement is surfaced, never silent: mulens runs the
    // real bundled rf.sav when present (its feature reconstruction is
    // surfaced separately via mulens_features_approx)
    val flags = out.select("mulens_is_stub", "pKNe_is_stub",
      "snn_snia_vs_nonia_is_stub").distinct().collect()
    assert(flags.length === 1)
    assert(flags(0).getBoolean(0) === graft.models.RefModels.mulensForest.isEmpty)
    assert(out.select("mulens_features_approx").distinct().collect()(0)
      .getBoolean(0) === true)
    assert(flags(0).getBoolean(1) === graft.models.RefModels.kilonova.isEmpty)
    assert(flags(0).getBoolean(2) === graft.models.RefModels.snnSniaVsNonia.isEmpty)
  }

  test("kilonova reproduces the reference doctest golden: pKNe>0.5 -> 1") {
    assume(graft.models.RefModels.kilonova.isDefined, "model bundle absent")
    // the doctest (ztf/kilonova/processor.py:98-103) adds a fake
    // Unknown SIMBAD column before scoring
    val series = AlertCols.withHistory(spark.read.parquet(ztfSample),
      Seq("jd", "fid", "magpsf", "sigmapsf"))
      .withColumn("cdsxmatch", lit("Unknown"))
    val out = Classifiers.kilonova(spark, series).cache()
    val above = out.filter(col("pKNe") > 0.5)
    assert(above.count() === 1)
    assert(above.select("objectId").head.getString(0) === "ZTF21acptaer")
    out.unpersist()
  }

  test("anomaly: min over valid bands, NaN when no valid band") {
    ReferenceFixtures.assumePresent(ztfSample)
    val withFeatures = AdFeatures(spark, enriched)
    val out = Classifiers.anomaly(spark, withFeatures)
    // a band is valid only when all 25 MODEL_COLUMNS features are
    // non-NaN (reference masks bands via data.isna().any(1)); a NaN
    // score therefore means no band passed that mask
    import graft.models.AnomalyModels
    val validBand = udf((lc: Map[Int, Map[String, Double]]) =>
      lc.values.exists(f =>
        AnomalyModels.ModelColumns.forall(n =>
          f.get(n).exists(v => !v.isNaN))))
    assert(out.filter(validBand(col("lc_features")) &&
      isnan(col("anomaly_score"))).count() === 0)
    assert(out.filter(!validBand(col("lc_features")) &&
      !isnan(col("anomaly_score"))).count() === 0)
  }

  test("anomaly with the reference's real ONNX forests on the fixture") {
    val zip = "/root/reference/fink_science/data/models/" +
      "anomaly_detection/anomaly_detection_forest_AAD_beta.zip"
    assume(new java.io.File(zip).isFile, "reference model zip not present")
    val (fid1, fid2) = graft.models.AnomalyModels.load(zip)
    val withFeatures = AdFeatures(spark, enriched)
    val out = Classifiers.anomaly(withFeatures, fid1, fid2).cache()
    val scored = out.filter(!isnan(col("anomaly_score")))
    // AAD leaf weights are ~|w|<0.007 over 150 trees: real scores live
    // in a narrow band around 0, unlike the stub forests
    assert(scored.count() > 0)
    assert(scored.filter(abs(col("anomaly_score")) > 0.5).count() === 0)
    // the fixture contains at least one alert the beta model flags as
    // more anomalous than the bulk (negative score)
    assert(scored.filter(col("anomaly_score") < 0).count() > 0)
    out.unpersist()
  }

  test("isolation forest average path length matches the iForest paper") {
    assert(IsolationForestScorer.averagePathLength(2) === 1.0)
    val c256 = IsolationForestScorer.averagePathLength(256)
    assert(c256 > 9 && c256 < 12)
  }

  test("scorers are deterministic across instantiations") {
    val x = Array.tabulate(26)(_ * 0.1)
    val s1 = StubModels.forest("rf_snia", 26).score(x)
    val s2 = StubModels.forest("rf_snia", 26).score(x)
    assert(s1 === s2)
  }

  test("kilonova scores gated synthetic alerts with the default components") {
    // the stand-in components must share the real matrix's 401-sample
    // grid (0.25 d over +-50 d): the PC1 interpolation indexes it for
    // every gated alert when the model bundle is absent
    assert(graft.operators.StubComponents.pc.forall(_.length === 401))
    val series = AlertCols.withHistory(SyntheticAlerts.frame(spark, 40),
        Seq("jd", "magpsf", "sigmapsf", "fid"))
      .withColumn("cdsxmatch", lit("Galaxy"))
    val gate = SelectionCuts.kilonovaGate(col("cmagpsf"), col("candidate.ndethist"),
      col("cdsxmatch"))
    val out = Classifiers.kilonova(spark, series)
      .select(gate.as("gated"), col("pKNe")).collect()
    assert(out.count(_.getBoolean(0)) >= 5, "the synthetic set must exercise the gate")
    out.foreach { r =>
      val p = r.getDouble(1)
      if (r.getBoolean(0)) assert(p >= 0.0 && p <= 1.0, s"pKNe $p")
      else assert(p === 0.0)
    }
  }
}
