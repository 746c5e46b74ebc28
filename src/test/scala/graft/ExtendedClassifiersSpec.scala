package graft

import org.apache.spark.sql.functions._

import graft.alerts.AlertCols
import graft.operators.{ExtendedClassifiers, Rubin, TransientFeatures}

class ExtendedClassifiersSpec extends SparkSpec {

  test("superluminous: -1 sentinel outside the gate, probability inside") {
    ReferenceFixtures.assumePresent("data/alerts/datatest")
    val alerts = spark.read.parquet("/root/reference/fink_science/data/alerts/datatest")
    val df = ExtendedClassifiers.superluminous(spark,
      AlertCols.withHistory(TransientFeatures(alerts),
        Seq("jd", "fid", "magpsf", "sigmapsf")))
    assert(df.count() === 124)
    val bad = df.filter(col("superluminous_score") =!= -1.0 &&
      (col("superluminous_score") < 0 || col("superluminous_score") > 1)).count()
    assert(bad === 0)
    // this fixture is dominated by variable stars: most rows are gated out
    assert(df.filter(col("superluminous_score") === -1.0).count() > 60)
  }

  test("superluminous photo-z veto only ever zeroes above-threshold scores") {
    ReferenceFixtures.assumePresent("data/alerts/datatest")
    val alerts = spark.read.parquet("/root/reference/fink_science/data/alerts/datatest")
    val base = AlertCols.withHistory(TransientFeatures(alerts),
      Seq("jd", "fid", "magpsf", "sigmapsf"))
    // a nearby photo-z makes every candidate's absolute peak faint ->
    // anything classified as SLSN (proba > optimal_threshold) is vetoed
    val nearby = new graft.operators.PhotozService {
      def photoz(ra: Double, dec: Double) = (0.01, 0.001)
    }
    val thr = graft.models.RefModels.superluminousXgb.map(_.optimalThreshold)
    val before = ExtendedClassifiers.superluminous(spark, base)
      .select(col("objectId"), col("candid"), col("superluminous_score").as("s0"))
    val after = ExtendedClassifiers.superluminous(spark, base, photozService = nearby)
      .select(col("candid").as("candid2"), col("superluminous_score").as("s1"))
    val joined = before.join(after, col("candid") === col("candid2"))
      .select("s0", "s1").collect()
    joined.foreach { r =>
      val (s0, s1) = (r.getDouble(0), r.getDouble(1))
      thr match {
        case Some(t) =>
          if (s0 > t) assert(s1 === 0.0, s"above-threshold $s0 not vetoed")
          else assert(s1 === s0, s"below-threshold $s0 changed to $s1")
        case None => assert(s1 === s0) // stub path: veto not applied
      }
    }
  }

  test("transient filter golden: exactly 2 of 57 alerts in part-00003 pass") {
    ReferenceFixtures.assumePresent("data/alerts/datatest/" +
      "part-00003-bdab8e46-89c4-4ac1-8603-facd71833e8a-c000.snappy.parquet")
    val df = spark.read.parquet("/root/reference/fink_science/data/alerts/datatest/" +
      "part-00003-bdab8e46-89c4-4ac1-8603-facd71833e8a-c000.snappy.parquet")
    val out = TransientFeatures(df)
      .withColumn("is_transient", ExtendedClassifiers.isTransient)
    assert(out.count() === 57)
    assert(out.filter(col("is_transient")).count() === 2)
  }

  test("rubin orphan + slsn scores respect sentinels and bounds") {
    ReferenceFixtures.assumePresent("data/alerts/or4_lsst7.1")
    val alerts = spark.read.parquet("/root/reference/fink_science/data/alerts/or4_lsst7.1")
    val series = Rubin.withHistory(alerts,
      Seq("psfFlux", "psfFluxErr", "midpointMjdTai", "band"))
    val out = ExtendedClassifiers.slsnRubin(spark,
      ExtendedClassifiers.orphanGrb(spark, series))
    assert(out.count() === 50)
    // orphans: 0.0 under the <5-point gate (classifier.py:132), else a
    // probability from the real bundled GB classifier
    val badOrphan = out.filter(col("p_orphan") < 0 || col("p_orphan") > 1).count()
    assert(badOrphan === 0)
    assert(out.filter(col("p_orphan") > 0).count() > 0, "p_orphan never computed")
    // real classifier keeps the bulk of a survey fixture below the
    // orphan threshold (its doctest fixture is CI-fetched, absent here)
    if (graft.models.RefModels.orphans.isDefined)
      assert(out.filter(col("p_orphan") > 0.5).count() < 10)
    val badSlsn = out.filter(col("slsn_score") =!= -1.0 &&
      (col("slsn_score") < 0 || col("slsn_score") > 1)).count()
    assert(badSlsn === 0)
    assert(out.filter(col("slsn_score") =!= -1.0).count() > 0, "slsn never computed")
  }

  /** Terminal artifact-gap pin (r14, the rfscoreRainbow treatment):
    * the SLSN_rainbow joblib is the DATA gap — CI-fetched, absent, and
    * a substitute cannot be trained offline (no labeled Rubin SLSN
    * corpus in-container). This test pins the CONTRACT around the gap
    * so supplying the artifact is a drop-in: the vector fed to any
    * injected Scorer is the 23-feature parametrise layout
    * (feature_extraction.py:105-161 — peak flux, 7 linexp-rainbow
    * params, 6x(std, snr) per band, ra, dec, n_points, inf/NaN
    * zeroed), curves under MINIMUM_POINTS sentinel to -1.0 without
    * consulting the scorer, and `slsn_score_is_stub` flags exactly
    * whether a stand-in scored the rows.
    */
  test("slsn scorer contract: injectable, sentinel bypasses scorer, stub flagged") {
    import spark.implicits._
    val n = 24
    val bands = Array("u", "g", "r", "i", "z", "y")
    val t = Array.tabulate(n)(i => 60000.0 + i)
    val b = Array.tabulate(n)(i => bands(i % 6))
    // rising-then-falling curve; peak 900 at i=10
    val f = Array.tabulate(n)(i => 900.0 - 8.0 * math.abs(i - 10))
    val e = Array.fill(n)(5.0)
    def box(xs: Array[Double]) = xs.map(Double.box).toSeq
    val ok = (box(t), box(f), box(e), b.toSeq)
    val bad = (box(t.take(5)), box(f.take(5)), box(e.take(5)),
      b.take(5).toSeq) // < 7 points -> -1.0 sentinel, scorer untouched
    val df = Seq(ok, bad)
      .toDF("cmidpointMjdTai", "cpsfFlux", "cpsfFluxErr", "cband")
    val probe = new graft.models.Scorer {
      override def score(x: Array[Double]): Double = {
        assert(x.length === 23, s"feature layout drifted: ${x.length}")
        assert(x(0) === 900.0)  // raw peak flux leads
        assert(x(20) === 10.0)  // ra
        assert(x(21) === -5.0)  // dec
        assert(x(22) === 24.0)  // n valid points closes the vector
        0.75
      }
    }
    val out = ExtendedClassifiers.slsnRubin(spark, df, probe,
        raCol = lit(10.0), decCol = lit(-5.0))
      .select("slsn_score", "slsn_score_is_stub").collect()
    assert(out.map(_.getDouble(0)).sorted.toSeq === Seq(-1.0, 0.75))
    assert(out.forall(!_.getBoolean(1)),
      "an injected real scorer must not be flagged as a stub")
    val stubbed = ExtendedClassifiers.slsnRubin(spark, df,
        raCol = lit(10.0), decCol = lit(-5.0))
      .select("slsn_score_is_stub").collect()
    assert(stubbed.forall(_.getBoolean(0)),
      "the default stand-in must surface slsn_score_is_stub = true")
  }
}
