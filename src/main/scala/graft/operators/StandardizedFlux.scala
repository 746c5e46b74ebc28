package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.WithColumns

import graft.xmatch.CrossMatch

/** Standardized (DC-flux over catalog band-median) flux series for
  * monitored blazars — reference: ztf/standardized_flux/processor.py:31-179
  * + utils.py:7-58 (a pandas UDF re-reading the CTAO catalog per batch;
  * here a broadcast by-`ZTF_name` lookup + pure Catalyst array
  * transforms, in one projection over the alerts).
  *
  * The catalog lookup ([[blazarLookup]], shared with [[ExtremeState]])
  * is collected and broadcast under the crossmatch byte budget. Call
  * `cache()` on the catalog to build it once across calls: a cached
  * catalog's lookup is reused while the cache is held, while a
  * file-backed (uncached) catalog is re-read on every call. A streaming
  * query ([[graft.streaming.AlertPipeline]]) calls once, at start, so
  * its micro-batches all use the catalog as it was then; restart the
  * query to pick up a changed catalog. A `ZTF_name` repeated in the
  * catalog raises IllegalArgumentException.
  *
  * Appends `cstd_flux` and `csigma_std_flux` array columns: per-epoch DC
  * flux (Jansky) divided by the catalog's per-band median; epochs with
  * missing photometry or bands other than g/r stay NaN; objects not in
  * the catalog get empty arrays (the reference's contract).
  */
object StandardizedFlux {

  private def fluxJy(mag: Column): Column =
    pow(lit(10.0), lit(-0.4) * mag) * 3631.0

  /** Per-alert row of the CTAO catalog by `objectId` = `ZTF_name`
    * (struct of med1, med2, lo, hi; null when the object is not
    * monitored). Both blazar modules project the catalog identically, so
    * a cached catalog yields one shared lookup.
    */
  private[operators] def blazarLookup(catalog: DataFrame): Column =
    CrossMatch.lookupByKey(col("objectId"), catalog, "ZTF_name", Seq(
      col("medians").getField("1").as("med1"),
      col("medians").getField("2").as("med2"),
      col("low_threshold").as("lo"),
      col("high_threshold").as("hi")))

  /** @param catalog CTAO blazar table with ZTF_name,
    *                medians: struct<1:double,2:double>, *_threshold
    */
  def apply(df: DataFrame, catalog: DataFrame): DataFrame = {
    val blazar = blazarLookup(catalog)

    // per-epoch zipped computation over the history arrays
    val zipped = arrays_zip(
      col("cmagpsf").cast("array<double>").as("m"),
      col("csigmapsf").cast("array<double>").as("s"),
      col("cmagnr").cast("array<double>").as("mr"),
      col("csigmagnr").cast("array<double>").as("sr"),
      col("cisdiffpos").cast("array<string>").as("pos"),
      col("cfid").cast("array<int>").as("fid"))

    def median(fid: Column): Column =
      when(fid === 1, blazar.getField("med1")).when(fid === 2, blazar.getField("med2"))

    def dcFlux(e: Column): Column = {
      val fRef = fluxJy(e.getField("mr"))
      val fDiff = fluxJy(e.getField("m"))
      val sign = when(e.getField("pos").isin("t", "1", "true"), 1.0).otherwise(-1.0)
      fRef + sign * fDiff
    }

    def dcSigma(e: Column): Column = {
      val sRef = e.getField("sr") * fluxJy(e.getField("mr")) * math.log(10.0) / 2.5
      val sDiff = e.getField("s") * fluxJy(e.getField("m")) * math.log(10.0) / 2.5
      sqrt(sRef * sRef + sDiff * sDiff)
    }

    def nanIfInvalid(value: Column, e: Column): Column =
      when(e.getField("m").isNull || e.getField("s").isNull ||
        median(e.getField("fid")).isNull, lit(Double.NaN))
        .otherwise(value)

    val stdFlux = transform(zipped, e =>
      nanIfInvalid(dcFlux(e) / median(e.getField("fid")), e))
    val stdSigma = transform(zipped, e =>
      nanIfInvalid(dcSigma(e) / median(e.getField("fid")), e))

    val empty = array().cast("array<double>")
    WithColumns(df, Seq(
      "cstd_flux" -> when(blazar.isNull, empty).otherwise(stdFlux),
      "csigma_std_flux" -> when(blazar.isNull, empty).otherwise(stdSigma)))
  }
}
