package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.WithColumns

import graft.alerts.AlertCols
import graft.operators._
import graft.streaming.AlertPipeline
import graft.xmatch.{CdsXmatch, CrossMatch, UnreachableXmatchService}

/** The 18-step ZTF enrichment DAG over synthetic packets (no reference
  * fixture): pins the logical-plan shape each module adds — one
  * projection, no join — the output columns and their order, and that
  * the streaming path builds the DAG once per query and returns the
  * batch path's rows, also with the remote CDS crossmatch in place of
  * the catalog crossmatch.
  */
class DagShapeSpec extends SparkSpec {

  private lazy val rows = SyntheticAlerts.rows(60)
  private lazy val xmatchCatalog = SyntheticAlerts.xmatchCatalog(spark, rows).cache()
  private lazy val blazars = SyntheticAlerts.blazarCatalog(spark, rows).cache()

  private lazy val steps: Seq[(String, AlertPipeline.Module)] = Seq(
    "with_history" -> (df => AlertCols.withHistory(df, Seq("jd", "magpsf",
      "sigmapsf", "fid", "diffmaglim", "distnr", "magnr", "sigmagnr",
      "isdiffpos", "ra", "dec"))),
    "xmatch" -> (df => CrossMatch.label(df, xmatchCatalog, 1.5,
      "candid", "candidate.ra", "candidate.dec", "ra", "dec", "label", "cdsxmatch")),
    "nalerthist" -> (df => Nalerthist(df)),
    "asteroids" -> (df => Asteroids(df)),
    "transient_features" -> (df => TransientFeatures(df)),
    "fast_transient_rate" -> (df => FastTransientRate(spark, df, n = 200, seed = 7L)),
    "ad_features" -> (df => AdFeatures(spark, df)),
    "anomaly" -> (df => Classifiers.anomaly(spark, df)),
    "rf_snia" -> (df => Classifiers.rfSnia(spark, df)),
    "snn_snia_vs_nonia" -> (df => Classifiers.snn(spark, df)),
    "snn_sn_vs_all" -> (df => Classifiers.snn(spark, df, outCol = "snn_sn_vs_all")),
    "kilonova" -> (df => Classifiers.kilonova(spark, df)),
    "microlensing" -> (df => Classifiers.microlensing(spark, df)),
    "aliases" -> (df => WithColumns(df, Seq(
      "rf_snia_vs_nonia" -> col("pIa"), "rf_kn_vs_nonkn" -> col("pKNe"),
      "tracklet" -> lit("")))),
    "finkclass" -> (df => FinkClassification(df)),
    "standardized_flux" -> (df => StandardizedFlux(df, blazars)),
    "extreme_state" -> (df => ExtremeState(spark, df, blazars)),
    "superluminous" -> (df => ExtendedClassifiers.superluminous(spark, df)))

  private def enrich: AlertPipeline.Module = AlertPipeline.pipeline(steps.map(_._2): _*)

  private def projects(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case p: Project => p }.length

  test("every DAG module adds at most one Project and no Join to the analyzed plan") {
    var df = SyntheticAlerts.frame(spark, rows.length)
    steps.foreach { case (name, step) =>
      val out = step(df)
      val added = projects(out) - projects(df)
      assert(added <= 1, s"$name added $added projections")
      df = out
    }
    val joins = df.queryExecution.analyzed.collect { case j: Join => j }
    assert(joins.isEmpty, s"the DAG plans ${joins.length} joins")
    assert(df.queryExecution.analyzed.collect { case p: Project => p }.length <= steps.length)
  }

  test("the DAG's output columns and their order") {
    val out = enrich(SyntheticAlerts.frame(spark, rows.length))
    assert(out.columns.toSeq === Seq("objectId", "candid", "candidate",
      "prv_candidates", "cjd", "cmagpsf", "csigmapsf", "cfid", "cdiffmaglim",
      "cdistnr", "cmagnr", "csigmagnr", "cisdiffpos", "cra", "cdec",
      "cdsxmatch", "nalerthist", "roid") ++ TransientFeatures.featureColumns ++
      FastTransientRate.outputColumns ++ Seq("lc_features", "anomaly_score",
        "pIa", "pIa_is_stub", "snn_snia_vs_nonia", "snn_snia_vs_nonia_is_stub",
        "snn_sn_vs_all", "snn_sn_vs_all_is_stub", "pKNe", "pKNe_is_stub",
        "mulens", "mulens_is_stub", "mulens_features_approx",
        "rf_snia_vs_nonia", "rf_kn_vs_nonkn", "tracklet", "finkclass",
        "cstd_flux", "csigma_std_flux", "blazar_stats", "superluminous_score",
        "superluminous_score_is_stub"))
    // a module re-run over its own output replaces its columns in place
    val again = Classifiers.rfSnia(spark, out)
    assert(again.columns.toSeq === out.columns.toSeq)
  }

  /** The DAG over three one-file micro-batches through
    * `AlertPipeline.runOnce` (so through its row-local guard): the
    * streamed rows, the number of batches and of DAG constructions.
    */
  private def streamed(dag: AlertPipeline.Module): (Seq[Row], Int, Int) = {
    val dir = java.nio.file.Files.createTempDirectory("dag-stream").toString
    SyntheticAlerts.frame(spark, rows.length, partitions = 3)
      .write.mode("overwrite").parquet(dir)
    val got = new ConcurrentLinkedQueue[Row]()
    val batches = new AtomicInteger(0)
    val built = new AtomicInteger(0)
    val counted: AlertPipeline.Module = df => { built.incrementAndGet(); dag(df) }
    val stream = spark.readStream.schema(SyntheticAlerts.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = AlertPipeline.runOnce(stream, counted, (b, _) => {
      batches.incrementAndGet()
      b.collect().foreach(got.add)
    })
    q.awaitTermination(300000)
    assert(q.exception.isEmpty, q.exception.toString)
    (got.toArray(Array.empty[Row]).toSeq, batches.get(), built.get())
  }

  private def canon(rs: Iterable[Row]): Seq[String] = rs.map(_.toString).toSeq.sorted

  test("the streaming path returns the batch path's rows") {
    val out = enrich(SyntheticAlerts.frame(spark, rows.length))
    val batch = canon(out.collect())
    assert(batch.length === rows.length)
    // the crossmatch and the blazar lookup both matched something
    assert(out.filter(col("cdsxmatch") =!= "Unknown").count() > 0)
    assert(out.filter(size(col("cstd_flux")) > 0).count() > 0)

    val (got, batches, built) = streamed(enrich)
    assert(batches >= 3, "expected several micro-batches")
    assert(built === 1, s"the DAG was built $built times for $batches batches")
    assert(canon(got) === batch)
  }

  test("the DAG with the remote CDS crossmatch streams and returns the batch path's rows") {
    val cds: AlertPipeline.Module = df => CdsXmatch.xmatchCds(spark, df,
      UnreachableXmatchService, "simbad", colsOut = Seq("cdsxmatch"))
    val dag = AlertPipeline.pipeline(steps.map {
      case ("xmatch", _) => cds
      case (_, step) => step
    }: _*)
    val out = dag(SyntheticAlerts.frame(spark, rows.length))
    assert(out.columns.toSeq === enrich(SyntheticAlerts.frame(spark, 1)).columns.toSeq)
    val batch = canon(out.collect())
    // offline service: every alert carries the Fail sentinel
    assert(out.filter(col("cdsxmatch") === "Fail").count() === rows.length)

    val (got, batches, built) = streamed(dag)
    assert(batches >= 3 && built === 1)
    assert(canon(got) === batch)
  }
}
