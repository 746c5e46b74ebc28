package graft

/** VERDICT r4 #9: stand-in scorers must never feed an oracle-verified
  * result. Every oracle-checked `SparkEntry.queries` entry is built and
  * its analyzed plan scanned: no `_is_stub`/`_approx` surface column
  * and no stub-backed score column may appear anywhere in the plan. The
  * flags themselves stay pinned in the operator specs; this spec pins
  * the isolation invariant so a future query can't silently green-light
  * a stubbed score against a DuckDB oracle.
  */
class StubIsolationSpec extends SparkSpec {

  // score columns whose default scorer can be a documented stand-in
  private val stubBacked = Seq(
    "mulens", "pIa", "pKNe", "slsn_score", "superluminous_score",
    "rfscore_rainbow", "p_orphan")

  test("no oracle query references a stub-backed score or surface flag") {
    val oracle = SparkEntry.oracleSql.keySet
    val offenders = SparkEntry.queries.filter { case (name, _) => oracle(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.analyzed.toString
        val hits = (stubBacked.filter(c => plan.contains(s"$c#")) ++
          (if (plan.contains("_is_stub") || plan.contains("_approx")) Seq("flag") else Nil))
        if (hits.isEmpty) Nil else Seq(name -> hits)
      }
    assert(offenders.isEmpty, s"stub-backed columns in oracle queries: $offenders")
  }

  test("stub flags survive end-to-end composition of the enrichment DAG") {
    // VERDICT r10 #8: the flags are pinned per-operator, but a composed
    // pipeline could drop or shadow them — run the stub-backed
    // classifiers through AlertPipeline.pipeline over the reference
    // fixture and assert every consumed operator's flag reaches the
    // FINAL output with the value the model bank dictates.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.alerts.AlertCols
    import graft.models.RefModels
    import graft.operators._
    import graft.streaming.AlertPipeline
    import graft.xmatch.{CdsXmatch, UnreachableXmatchService}
    val path = "/root/reference/fink_science/data/alerts/datatest"
    assume(new java.io.File(path).isDirectory, "reference fixture absent")
    val steps: Seq[AlertPipeline.Module] = Seq(
      df => df.drop("cdsxmatch", "roid", "nalerthist", "mulens",
        "rf_snia_vs_nonia", "snn_snia_vs_nonia", "snn_sn_vs_all", "rf_kn_vs_nonkn"),
      df => AlertCols.withHistory(df, Seq("jd", "magpsf", "sigmapsf", "fid",
        "diffmaglim", "distnr", "magnr", "sigmagnr", "isdiffpos", "ra", "dec")),
      df => CdsXmatch.xmatchCds(spark, df, UnreachableXmatchService, "simbad",
        colsOut = Seq("cdsxmatch")),
      df => Nalerthist(df),
      df => Asteroids(df),
      df => TransientFeatures(df),
      df => Classifiers.rfSnia(spark, df),
      df => Classifiers.kilonova(spark, df),
      df => Classifiers.microlensing(spark, df),
      df => ExtendedClassifiers.superluminous(spark, df))
    val out = AlertPipeline.pipeline(steps: _*)(
      spark.read.parquet(path).limit(8))
    val expected = Map(
      "pIa_is_stub" -> RefModels.alSniaScorer.isEmpty,
      "pKNe_is_stub" -> RefModels.kilonova.isEmpty,
      "mulens_is_stub" -> RefModels.mulensForest.isEmpty,
      "superluminous_score_is_stub" -> RefModels.superluminousXgb.isEmpty)
    expected.foreach { case (flag, want) =>
      assert(out.columns.contains(flag), s"$flag dropped by composition")
    }
    val row = out
      .select(expected.keys.toSeq.sorted.map(f => max(col(f)).as(f)): _*)
      .head()
    expected.keys.toSeq.sorted.zipWithIndex.foreach { case (flag, i) =>
      assert(row.getBoolean(i) === expected(flag),
        s"$flag diverged from the model bank through composition")
    }
  }

  test("every stub-backed operator surfaces its engagement flag") {
    // each *_is_stub / *_approx flag must reflect the model bank state,
    // pinned here in one place (operator specs assert per-fixture)
    import org.apache.spark.sql.functions._
    import graft.alerts.AlertCols
    import graft.models.RefModels
    import graft.operators._
    import graft.xmatch.CrossMatch
    val rows = SyntheticAlerts.rows(20)
    val series = TransientFeatures(Asteroids(CrossMatch.label(
      AlertCols.withHistory(SyntheticAlerts.frame(spark, rows.length),
        Seq("jd", "magpsf", "sigmapsf", "fid", "diffmaglim", "distnr", "magnr",
          "sigmagnr", "isdiffpos", "ra", "dec")),
      SyntheticAlerts.xmatchCatalog(spark, rows), 1.5,
      "candid", "candidate.ra", "candidate.dec", "ra", "dec", "label", "cdsxmatch")))
    val out = ExtendedClassifiers.superluminous(spark,
      Classifiers.microlensing(spark,
        Classifiers.kilonova(spark, Classifiers.rfSnia(spark, series))))
    val expected = Seq(
      "pIa_is_stub" -> RefModels.alSniaScorer.isEmpty,
      "pKNe_is_stub" -> RefModels.kilonova.isEmpty,
      "mulens_is_stub" -> RefModels.mulensForest.isEmpty,
      "superluminous_score_is_stub" -> RefModels.superluminousXgb.isEmpty)
    val flags = out.select(expected.map(e => col(e._1)): _*).distinct().collect()
    assert(flags.length === 1, "a stub flag varies across rows")
    expected.zipWithIndex.foreach { case ((flag, want), i) =>
      assert(flags(0).getBoolean(i) === want, s"$flag diverged from the model bank")
    }
    // RefModels swallows a load error into None: an artifact that is
    // present must load rather than silently fall back to a stand-in
    Seq(
      "rf.sav" -> RefModels.mulensForest,
      "superluminous_classifier.joblib" -> RefModels.superluminousXgb,
      "cats_models/cats_small_nometa_serial.keras" -> RefModels.cats)
      .foreach { case (rel, entry) =>
        if (new java.io.File(RefModels.dir, rel).isFile)
          assert(entry.isDefined, s"$rel is present but did not load")
      }
  }
}
