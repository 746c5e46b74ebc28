package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF10
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.WithColumns

import graft.alerts.AlertCols.doubles
import graft.kernels.FastTransientKernel
import graft.kernels.FastTransientKernel.FtRate

/** Fast-transient magnitude-rate module — reference:
  * ztf/fast_transient_rate/processor.py:377-449 (pandas UDF returning a
  * StructType; here a UDF over the series columns returning the
  * [[FtRate]] struct, flattened into the 8 typed columns).
  *
  * Needs `cfid, cmagpsf, csigmapsf, cdiffmaglim, cjd` series columns
  * (AlertCols.withHistory) plus the candidate scalars.
  */
object FastTransientRate {

  val outputColumns: Seq[String] = Seq(
    "jd_first_real_det", "jdstarthist_dt", "mag_rate", "sigma_rate",
    "lower_rate", "upper_rate", "delta_time", "from_upper")

  /** The kernel's output struct (the FtRate fields). */
  private lazy val rateType = Encoders.product[FtRate].schema

  private type Series = scala.collection.Seq[java.lang.Double]

  def apply(spark: SparkSession, df: DataFrame, n: Int = 10000,
      seed: Long = 0L): DataFrame = {
    // Java-API udf: no input encoders, so the eight references below are
    // one semantically equal expression that the projection evaluates
    // once per row (a typed Scala udf re-binds its encoders per
    // reference, which defeats common subexpression elimination). A null
    // scalar input gives a null struct, as it does for a typed udf with
    // primitive parameters.
    val kernel = udf(new UDF10[Integer, scala.collection.Seq[Integer], Series, Series,
        Series, Series, java.lang.Double, java.lang.Double, java.lang.Double,
        java.lang.Double, Row] {
      def call(fid: Integer, cfid: scala.collection.Seq[Integer], cmagpsf: Series,
          csigmapsf: Series, cdiffmaglim: Series, cjd: Series, jd: java.lang.Double,
          jdstarthist: java.lang.Double, magpsf: java.lang.Double,
          sigmapsf: java.lang.Double): Row =
        if (fid == null || jd == null || jdstarthist == null || magpsf == null ||
            sigmapsf == null) null
        else Row.fromTuple(FastTransientKernel.rate(fid, cfid.map(_.intValue).toArray,
          doubles(cmagpsf), doubles(csigmapsf), doubles(cdiffmaglim), doubles(cjd),
          jd, jdstarthist, magpsf, sigmapsf, n, seed))
    }, rateType)

    val rate = kernel(
      col("candidate.fid").cast("int"), col("cfid").cast("array<int>"),
      col("cmagpsf").cast("array<double>"), col("csigmapsf").cast("array<double>"),
      col("cdiffmaglim").cast("array<double>"), col("cjd").cast("array<double>"),
      col("candidate.jd").cast("double"), col("candidate.jdstarthist").cast("double"),
      col("candidate.magpsf").cast("double"), col("candidate.sigmapsf").cast("double"))

    // flatten the struct into typed columns (processor.py:446-449)
    WithColumns(df, outputColumns.map(c => c -> rate.getField(c)))
  }
}
