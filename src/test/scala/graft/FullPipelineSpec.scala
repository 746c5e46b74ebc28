package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.alerts.AlertCols
import graft.operators._
import graft.streaming.AlertPipeline
import graft.xmatch.{CdsXmatch, UnreachableXmatchService}

/** The complete ZTF enrichment DAG in the reference's dependency order
  * (SURVEY.md §3: cdsxmatch -> {rf_snia, snn, kilonova}; roid -> snn;
  * ad_features -> anomaly; standardized_flux -> extreme_state;
  * transient_features -> superluminous; scores -> finkclass ->
  * hostless), executed end-to-end through Structured Streaming
  * micro-batches over the 124-alert fixture — the "switch from the
  * reference" integration surface.
  */
class FullPipelineSpec extends SparkSpec {

  private val path = "/root/reference/fink_science/data/alerts/datatest"

  private def enrich(df0: DataFrame): DataFrame = {
    import spark.implicits._
    val catalog = Seq(("SRC1", "ZTFnone", (10.0, 20.0), 0.5, 2.0))
      .toDF("Source_name", "ZTF_name", "medians", "low_threshold", "high_threshold")
      .withColumn("medians", struct(col("medians._1").as("1"), col("medians._2").as("2")))

    val steps: Seq[AlertPipeline.Module] = Seq(
      // the fixture is post-broker: strip its enrichment columns first
      df => df.drop("cdsxmatch", "roid", "nalerthist", "mulens",
        "rf_snia_vs_nonia", "snn_snia_vs_nonia", "snn_sn_vs_all", "rf_kn_vs_nonkn"),
      df => AlertCols.withHistory(df, Seq("jd", "magpsf", "sigmapsf", "fid",
        "diffmaglim", "distnr", "magnr", "sigmagnr", "isdiffpos", "ra", "dec")),
      df => CdsXmatch.xmatchCds(spark, df, UnreachableXmatchService, "simbad",
        colsOut = Seq("cdsxmatch")),
      df => Nalerthist(df),
      df => Asteroids(df),
      df => TransientFeatures(df),
      df => FastTransientRate(spark, df, n = 500, seed = 7L),
      df => AdFeatures(spark, df),
      df => Classifiers.anomaly(spark, df),
      df => Classifiers.rfSnia(spark, df),
      df => Classifiers.snn(spark, df),
      df => Classifiers.snn(spark, df, outCol = "snn_sn_vs_all"),
      df => Classifiers.kilonova(spark, df),
      df => Classifiers.microlensing(spark, df),
      df => df.withColumn("rf_snia_vs_nonia", col("pIa"))
        .withColumn("rf_kn_vs_nonkn", col("pKNe"))
        .withColumn("tracklet", lit("")),
      df => FinkClassification(df),
      df => StandardizedFlux(df, catalog),
      df => ExtremeState(spark, df, catalog),
      df => ExtendedClassifiers.superluminous(spark, df))
    AlertPipeline.pipeline(steps: _*)(df0)
  }

  test("full 18-step DAG enriches the fixture through streaming") {
    ReferenceFixtures.assumePresent(path)
    val schema = spark.read.parquet(path).schema
    val results = new ConcurrentLinkedQueue[Map[String, Long]]()
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(path)
    val q = AlertPipeline.runOnce(stream, enrich, (b, _) => {
      results.add(Map(
        "rows" -> b.count(),
        "fail_xmatch" -> b.filter(col("cdsxmatch") === "Fail").count(),
        "roid3" -> b.filter(col("roid") === 3).count(),
        "anomaly" -> b.filter(!isnan(col("anomaly_score"))).count(),
        "finkUnknown" -> b.filter(col("finkclass") =!= "").count(),
        "slsnGated" -> b.filter(col("superluminous_score") === -1.0).count()))
    })
    q.awaitTermination(300000)

    val batches = results.toArray(Array.empty[Map[String, Long]])
    assert(batches.map(_("rows")).sum === 124)
    // offline CDS service -> every alert carries the Fail sentinel
    assert(batches.map(_("fail_xmatch")).sum === 124)
    // same roid==3 population as batch mode
    assert(batches.map(_("roid3")).sum === 1)
    // anomaly scores only bands whose 25 MODEL_COLUMNS features are all
    // non-NaN (reference data.isna().any(1) mask): 85 of the 124
    // fixture alerts have at least one such band
    assert(batches.map(_("anomaly")).sum === 85)
    assert(batches.map(_("finkUnknown")).sum === 124)
    // Fail xmatch label blocks the eg-host gates; most rows -1 on slsn
    assert(batches.map(_("slsnGated")).sum > 100)
  }
}
