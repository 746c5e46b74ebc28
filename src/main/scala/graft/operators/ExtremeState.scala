package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.WithColumns

import graft.alerts.AlertCols.doubles

/** External Data-Release light-curve source (the reference queries the
  * SNAD ZTF-DR API over HTTP, blazar_extreme_state/utils.py:253-319).
  * Injectable so offline runs and tests work; points are (mjd, stdFlux)
  * already standardized.
  */
trait DrLightCurveClient extends Serializable {
  def lightCurve(ra: Double, dec: Double, radiusArcsec: Double): Array[(Double, Double)]
}

/** Offline default: no external service, CDF quantile stays -1. */
object NoDrLightCurve extends DrLightCurveClient {
  def lightCurve(ra: Double, dec: Double, radiusArcsec: Double): Array[(Double, Double)] =
    Array.empty
}

/** Blazar extreme-state features over the standardized flux series —
  * reference: ztf/blazar_extreme_state/processor.py:67-277 +
  * utils.py:31-201,392-424.
  *
  * Output `blazar_stats: map<string,float>` with keys instantness_low/
  * robustness_low/instantness_high/robustness_high/cdf_quantile,
  * defaults -1. Faithful to the reference's value-to-key mapping
  * (processor.py:239-247 zips [robustness_criterion,
  * instantness_criterion] into [instantness_*, robustness_*] — i.e. the
  * `instantness_*` keys carry the trapezoid-fluence ratio and
  * `robustness_*` the last-measurement ratio; its own Notes docstring
  * describes the same swapped meaning, so this is the published
  * contract).
  *
  * Windowing is within-array time masking (last `period` days of the
  * series), not a Spark window — the series lives inside the row.
  */
object ExtremeState {

  val IntegrationPeriodLow = 30.0
  val IntegrationPeriodHigh = 5.0
  val SearchRadiusArcsec = 2.0

  /** Trapezoid integral of flux(t) over the masked window / time span /
    * threshold (the "robustness criterion", utils.py:77-145).
    */
  def fluenceRatio(jd: Array[Double], flux: Array[Double],
      threshold: Double, period: Double): Double = {
    if (jd.isEmpty) return -1.0
    val tEnd = jd.last
    val sel = jd.indices.filter(i => jd(i) >= tEnd - period && !flux(i).isNaN)
    if (sel.length <= 1) return -1.0
    var integral = 0.0
    var i = 1
    while (i < sel.length) {
      val (a, b) = (sel(i - 1), sel(i))
      integral += (flux(a) + flux(b)) * (jd(b) - jd(a)) / 2.0
      i += 1
    }
    integral / (jd(sel.last) - jd(sel.head)) / threshold
  }

  /** Last-measurement over threshold (the "instantness criterion",
    * utils.py:31-74). NaN last measurement propagates as NaN.
    */
  def lastRatio(flux: Array[Double], threshold: Double): Double =
    if (flux.isEmpty) -1.0 else flux.last / threshold

  /** Weighted empirical CDF quantile of `measurement` against a DR light
    * curve (utils.py:392-424): weights are time gaps, linear
    * interpolation, clamped to [0,1].
    */
  def cdfQuantile(mjd: Array[Double], stdFlux: Array[Double],
      measurement: Double): Double = {
    if (mjd.length < 2) return -1.0
    val weights = (1 until mjd.length).map(i => mjd(i) - mjd(i - 1)).toArray
    val meas = stdFlux.dropRight(1)
    val order = meas.indices.sortBy(meas)
    val sortedMeas = order.map(meas).toArray
    val cum = new Array[Double](order.length)
    var acc = 0.0
    var i = 0
    val total = weights.sum
    while (i < order.length) { acc += weights(order(i)); cum(i) = acc / total; i += 1 }
    // np.interp with left=0, right=1
    if (measurement <= sortedMeas.head) {
      if (measurement < sortedMeas.head) 0.0 else cum(0)
    } else if (measurement >= sortedMeas.last) {
      if (measurement > sortedMeas.last) 1.0 else cum(order.length - 1)
    } else {
      val hi = sortedMeas.indexWhere(_ >= measurement)
      val (x0, x1) = (sortedMeas(hi - 1), sortedMeas(hi))
      val (y0, y1) = (cum(hi - 1), cum(hi))
      if (x1 == x0) y1 else y0 + (measurement - x0) * (y1 - y0) / (x1 - x0)
    }
  }

  /** Full per-alert feature computation. */
  def features(objectMatched: Boolean, lowThr: Double, highThr: Double,
      jd: Array[Double], stdFlux: Array[Double], ra: Double, dec: Double,
      client: DrLightCurveClient): Map[String, Float] = {
    val default = Map(
      "instantness_low" -> -1.0f, "robustness_low" -> -1.0f,
      "instantness_high" -> -1.0f, "robustness_high" -> -1.0f,
      "cdf_quantile" -> -1.0f)
    if (stdFlux.isEmpty) return default

    def state(thr: Double, period: Double): (Double, Double) =
      if (!objectMatched) (-1.0, -1.0)
      else (fluenceRatio(jd, stdFlux, thr, period), lastRatio(stdFlux, thr))

    val (instLow, robLow) = state(lowThr, IntegrationPeriodLow)
    val (instHigh, robHigh) =
      if (instLow > 1 || robLow > 1) state(highThr, IntegrationPeriodHigh)
      else (-1.0, -1.0)

    val cdf =
      if ((instLow >= 0 && instLow <= 1 && robLow >= 0 && robLow <= 1) ||
        (instHigh >= 1 && robHigh >= 1)) {
        val lc = client.lightCurve(ra, dec, SearchRadiusArcsec)
        if (lc.nonEmpty)
          cdfQuantile(lc.map(_._1), lc.map(_._2), stdFlux.head)
        else -1.0
      } else -1.0

    Map(
      "instantness_low" -> instLow.toFloat, "robustness_low" -> robLow.toFloat,
      "instantness_high" -> instHigh.toFloat, "robustness_high" -> robHigh.toFloat,
      "cdf_quantile" -> cdf.toFloat)
  }

  /** Appends `blazar_stats`; expects cstd_flux/cjd/cra/cdec series
    * ([[StandardizedFlux]]). The thresholds come from the CTAO catalog
    * through the lookup StandardizedFlux uses: `cache()` the catalog to
    * build it once; an uncached catalog is re-read on every call (a
    * streaming query calls once, at start).
    */
  def apply(spark: SparkSession, df: DataFrame, catalog: DataFrame,
      client: DrLightCurveClient = NoDrLightCurve): DataFrame = {
    val blazar = StandardizedFlux.blazarLookup(catalog)

    val kernel = udf((matched: Boolean, lo: java.lang.Double, hi: java.lang.Double,
        cjd: Seq[java.lang.Double], cstd: Seq[java.lang.Double],
        cra: Seq[java.lang.Double], cdec: Seq[java.lang.Double]) => {
      def meanOf(xs: Seq[java.lang.Double]): Double = {
        val v = doubles(xs).filterNot(_.isNaN)
        if (v.isEmpty) Double.NaN else v.sum / v.length
      }
      features(matched,
        if (lo == null) Double.NaN else lo,
        if (hi == null) Double.NaN else hi,
        doubles(cjd), doubles(cstd), meanOf(cra), meanOf(cdec), client)
    })

    WithColumns(df, Seq("blazar_stats" -> kernel(
      blazar.isNotNull, blazar.getField("lo"), blazar.getField("hi"),
      col("cjd").cast("array<double>"), col("cstd_flux").cast("array<double>"),
      col("cra").cast("array<double>"), col("cdec").cast("array<double>"))))
  }
}
