package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.alerts.AlertCols.doubles
import graft.kernels.{LightCurveFeatures, Photometry}

/** Per-band light-curve feature extraction module — reference:
  * ztf/ad_features/processor.py:36-237 (Python udf over the Rust
  * light-curve package; here a Scala UDF over the JVM kernel).
  *
  * Returns `lc_features: map<int, map<string,double>>` keyed by band
  * (g=1, r=2; i-band dropped as the reference does, processor.py:166).
  * Pipeline per alert: mask upper limits, DC-mag correction where a
  * reference source sits behind (distnr < 1.5"), sort by jd, dedup
  * (jd, fid), then the 26-feature kernel per band.
  */
object AdFeatures {

  /** Kernel entry shared by the UDF and tests: one alert's series. */
  def extractPerBand(cmagpsf: Array[Double], cjd: Array[Double],
      csigmapsf: Array[Double], cfid: Array[Int], cdistnr: Array[Double],
      cmagnr: Array[Double], csigmagnr: Array[Double],
      cisdiffpos: Array[String]): Map[Int, Map[String, Double]] = {

    val n = cmagpsf.length
    // valid measurements only (not upper limits)
    val keep = (0 until n).filter(i => !cmagpsf(i).isNaN && !csigmapsf(i).isNaN)

    // DC-mag correction when any kept epoch has a source behind
    val anyBehind = keep.exists(i => Photometry.isSourceBehind(cdistnr(i)))
    val (mags, sigs, kept2) =
      if (anyBehind) {
        val dc = keep.map(i => Photometry.dcMag(cmagpsf(i), csigmapsf(i),
          cmagnr(i), csigmagnr(i), cisdiffpos(i)))
        val ok = keep.indices.filter(j => !dc(j)._1.isNaN && !dc(j)._2.isNaN)
        (ok.map(j => dc(j)._1).toArray, ok.map(j => dc(j)._2).toArray,
          ok.map(j => keep(j)))
      } else
        (keep.map(cmagpsf).toArray, keep.map(csigmapsf).toArray, keep)

    val jds = kept2.map(cjd).toArray
    val fids = kept2.map(cfid).toArray

    // sort by jd, dedup (jd, fid)
    val order = jds.indices.sortBy(jds)
    val seen = scala.collection.mutable.HashSet.empty[(Double, Int)]
    val rows = order.flatMap { i =>
      val key = (jds(i), fids(i))
      if (seen.add(key)) Some((jds(i), mags(i), sigs(i), fids(i))) else None
    }

    val bands = fids.distinct.filter(_ <= 2).sorted
    bands.flatMap { b =>
      val sel = rows.filter(_._4 == b)
      if (sel.isEmpty) None
      else {
        val f = LightCurveFeatures.extract(
          sel.map(_._1).toArray, sel.map(_._2).toArray, sel.map(_._3).toArray)
        Some(b -> LightCurveFeatures.names.zip(f).toMap)
      }
    }.toMap
  }

  /** Appends `lc_features`; expects cmagpsf/cjd/csigmapsf/cfid/cdistnr/
    * cmagnr/csigmagnr/cisdiffpos series columns.
    */
  def apply(spark: SparkSession, df: DataFrame): DataFrame = {
    val kernel = udf((cmagpsf: Seq[java.lang.Double], cjd: Seq[java.lang.Double],
        csigmapsf: Seq[java.lang.Double], cfid: Seq[java.lang.Integer],
        cdistnr: Seq[java.lang.Double], cmagnr: Seq[java.lang.Double],
        csigmagnr: Seq[java.lang.Double], cisdiffpos: Seq[String]) => {
      extractPerBand(doubles(cmagpsf), doubles(cjd), doubles(csigmapsf),
        cfid.map(x => if (x == null) -1 else x.intValue()).toArray,
        doubles(cdistnr), doubles(cmagnr), doubles(csigmagnr),
        cisdiffpos.map(x => if (x == null) "" else x).toArray)
    })
    df.withColumn("lc_features", kernel(
      col("cmagpsf").cast("array<double>"), col("cjd").cast("array<double>"),
      col("csigmapsf").cast("array<double>"), col("cfid").cast("array<int>"),
      col("cdistnr").cast("array<double>"), col("cmagnr").cast("array<double>"),
      col("csigmagnr").cast("array<double>"), col("cisdiffpos").cast("array<string>")))
  }
}
