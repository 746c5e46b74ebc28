package alertbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.alerts.AlertCols
import graft.models.RefModels
import graft.operators._
import graft.streaming.AlertPipeline
import graft.xmatch.CrossMatch

/** The ZTF enrichment DAG in the engine's full-pipeline order (the
  * order FullPipelineSpec runs), as named steps so the traced run can
  * time each one. The remote CDS crossmatch is replaced by
  * CrossMatch.label against a seeded in-memory catalog, which writes
  * `cdsxmatch` — so the crossmatch does real work and the classifier
  * gates that read its labels pass for a share of the alerts.
  */
final class Dag(spark: SparkSession, xmatchCatalog: DataFrame, blazars: DataFrame,
    spans: Spans) {

  private val modules: Seq[(String, AlertPipeline.Module)] = Seq(
    "with_history" -> (df => AlertCols.withHistory(df, Seq("jd", "magpsf",
      "sigmapsf", "fid", "diffmaglim", "distnr", "magnr", "sigmagnr",
      "isdiffpos", "ra", "dec"))),
    "xmatch" -> (df => CrossMatch.label(df, xmatchCatalog, Dag.RadiusArcsec,
      "candid", "candidate.ra", "candidate.dec", "ra", "dec", "label", "cdsxmatch")),
    "nalerthist" -> (df => Nalerthist(df)),
    "asteroids" -> (df => Asteroids(df)),
    "transient_features" -> (df => TransientFeatures(df)),
    "fast_transient_rate" -> (df => FastTransientRate(spark, df, n = 500, seed = 7L)),
    "ad_features" -> (df => AdFeatures(spark, df)),
    "anomaly" -> (df => Classifiers.anomaly(spark, df)),
    "rf_snia" -> (df => Classifiers.rfSnia(spark, df)),
    "snn_snia_vs_nonia" -> (df => Classifiers.snn(spark, df)),
    "snn_sn_vs_all" -> (df => Classifiers.snn(spark, df, outCol = "snn_sn_vs_all")),
    "kilonova" -> (df => Classifiers.kilonova(spark, df,
      components = RefModels.kilonovaPcs.getOrElse(Dag.kilonovaPcs))),
    "microlensing" -> (df => Classifiers.microlensing(spark, df)),
    "aliases" -> (df => df.withColumn("rf_snia_vs_nonia", col("pIa"))
      .withColumn("rf_kn_vs_nonkn", col("pKNe"))
      .withColumn("tracklet", lit(""))),
    "finkclass" -> (df => FinkClassification(df)),
    "standardized_flux" -> (df => StandardizedFlux(df, blazars)),
    "extreme_state" -> (df => ExtremeState(spark, df, blazars)),
    "superluminous" -> (df => ExtendedClassifiers.superluminous(spark, df)))

  /** The steps, each call wrapped in a span named after it. */
  val steps: Seq[(String, AlertPipeline.Module)] = modules.map { case (name, m) =>
    name -> ((df: DataFrame) => spans(s"operators.$name")(m(df)))
  }

  val enrich: AlertPipeline.Module = AlertPipeline.pipeline(steps.map(_._2): _*)
}

object Dag {
  val RadiusArcsec = 1.5

  /** Stand-in kilonova principal components on the 401-sample grid
    * (0.25 d steps over +-50 d) that Classifiers.kilonova interpolates
    * on. The engine's own fallback, StubComponents.pc, is 24 samples
    * wide, so every alert that passes the kilonova gate throws
    * ArrayIndexOutOfBounds when the model bundle is absent; passing
    * grid-shaped components keeps the benchmark's ops from failing on
    * that defect while still running the real fit.
    */
  val kilonovaPcs: Array[Array[Double]] = Array.tabulate(3, 401) { (k, i) =>
    val dt = (i - 200) * 0.25
    k match {
      case 0 => math.exp(-dt * dt / 200.0)
      case 1 => dt / 50.0 * math.exp(-dt * dt / 400.0)
      case _ => math.cos(dt / 8.0) * math.exp(-math.abs(dt) / 25.0)
    }
  }
}
