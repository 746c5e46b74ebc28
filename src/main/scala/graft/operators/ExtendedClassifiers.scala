package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.WithColumns

import graft.alerts.AlertCols.doubles
import graft.kernels.{FastTransientKernel, LightCurveFeatures, OrphanFeatures, SigmoidFit}
import graft.models.{RefModels, Scorer, StubModels}

/** Full light-curve history service — the reference fetches complete
  * per-object light curves from the Fink API over HTTP
  * (ztf/superluminous/processor.py:345-353, get_and_format). Injectable;
  * None marks the service unreachable.
  */
trait AlertHistoryService extends Serializable {
  /** objectId -> (jd, magpsf, sigmapsf, fid) full-history arrays. */
  def lightCurves(objectIds: Seq[String])
      : Option[Map[String, (Array[Double], Array[Double], Array[Double], Array[Int])]]
}

/** Offline default: service unreachable. */
object NoAlertHistory extends AlertHistoryService {
  def lightCurves(objectIds: Seq[String]) = None
}

/** SDSS photometric-redshift lookup — the reference queries SkyServer
  * over HTTP per object (ztf/superluminous/slsn_classifier.py:188-248,
  * get_sdss_photoz) for the post-classification veto. Injectable with
  * the same Fail/Unknown contract as the history hook: (NaN, NaN) is
  * the reference's unreachable/no-match sentinel, which flows through
  * abs_peak as NaN and leaves the probability unmasked.
  */
trait PhotozService extends Serializable {
  /** (photoz, photozErr); (NaN, NaN) when the service has no answer. */
  def photoz(ra: Double, dec: Double): (Double, Double)
}

/** Offline default: service unreachable -> every lookup NaN. */
object NoPhotoz extends PhotozService {
  def photoz(ra: Double, dec: Double) = (Double.NaN, Double.NaN)
}

/** The remaining score modules (SURVEY.md §2.3): superluminous (ZTF),
  * orphan GRB and SLSN (Rubin). Same architecture as [[Classifiers]]:
  * native gates, JVM feature kernels, injected scorers with
  * deterministic stand-in parameters, reference sentinel contracts.
  */
object ExtendedClassifiers {

  /** The transient-filter conjunction consumed by superluminous (after
    * fink-filters' transient_complete_filter over the 7
    * transient_features booleans + the SSO veto; the reference takes it
    * as a precomputed input column, ztf/superluminous/processor.py:74-83).
    * Golden: exactly 2 of the 57 alerts in datatest/part-00003 pass.
    */
  def isTransient: Column =
    !col("faint") && col("positivesubtraction") && col("real") &&
      !col("pointunderneath") && !col("brightstar") &&
      !col("variablesource") && col("stationary") &&
      col("roid") =!= 2 && col("roid") =!= 3

  /** Superluminous-SN score — reference:
    * ztf/superluminous/processor.py:34-268. -1 sentinel when not a
    * transient, younger than 30 days (kernel.py min_duration), or when
    * the feature gates fail (>= 3 points in each of g/r, > 7 total,
    * > 30 d span — slsn_classifier.py:731-747). Scoring runs the REAL
    * bundled XGBoost ensemble (superluminous_classifier.joblib, parsed
    * natively by [[graft.models.XgbUbjson]]) over the 27-feature vector
    * of [[graft.kernels.SlsnFeatures]] in the model's embedded
    * feature-name order. The reference additionally merges the full
    * light curve fetched from the Fink API (HTTP); offline we score the
    * in-alert points only — the service hook is injectable.
    */
  def superluminous(spark: SparkSession, df: DataFrame,
      minAgeDays: Double = graft.kernels.SlsnFeatures.MinDuration,
      model: Option[graft.models.XgbBinaryModel] = RefModels.superluminousXgb,
      history: AlertHistoryService = NoAlertHistory,
      strictReferenceSemantics: Boolean = false,
      photozService: PhotozService = NoPhotoz): DataFrame = {
    // kernel.py not_sl_threshold: the photo-z veto's absolute-magnitude bar
    val notSlThreshold = -19.75
    val fallback: Scorer = StubModels.forest("superluminous", 27)
    val s = udf((objectId: String, cjd: Seq[java.lang.Double],
        cfid: Seq[java.lang.Integer], cm: Seq[java.lang.Double],
        cs: Seq[java.lang.Double], distnr: java.lang.Double,
        ra: java.lang.Double, dec: java.lang.Double) => {
      var jd = doubles(cjd); var m = doubles(cm); var e = doubles(cs)
      var fids = cfid.map(x => if (x == null) -1 else x.intValue()).toArray
      val fetched = history.lightCurves(Seq(objectId))
      // reference behavior when the Fink API is unreachable: -1
      val serviceDown = fetched.isEmpty && strictReferenceSemantics
      fetched.foreach { lcs =>
        lcs.get(objectId).foreach { case (hjd, hm, he, hf) =>
          // merge the full history with newer in-alert points
          val lastHist = if (hjd.nonEmpty) hjd.max else Double.NegativeInfinity
          val keep = jd.indices.filter(i => jd(i) > lastHist)
          jd = hjd ++ keep.map(jd); m = hm ++ keep.map(m); e = he ++ keep.map(e)
          fids = hf ++ keep.map(fids)
        }
      }
      // remove_nan: drop points whose photometry is NaN
      val sel = m.indices.filter(i => !m(i).isNaN && !e(i).isNaN)
      if (serviceDown) -1.0
      else graft.kernels.SlsnFeatures.features(
        sel.map(jd).toArray, sel.map(fids).toArray, sel.map(m).toArray,
        sel.map(e).toArray,
        if (distnr == null) Double.NaN else distnr.doubleValue()) match {
        case None => -1.0
        case Some(feats) if feats.valuesIterator.exists(_.isNaN) => -1.0
        case Some(feats) => model match {
          case Some(xgb) =>
            val proba = xgb.score(xgb.featureNames.map(feats).toArray)
            // post-classification photo-z veto (processor.py:233-263):
            // for alerts classified as SLSN (proba > the classifier's
            // bundled optimal_threshold), look up the SDSS photo-z and
            // zero the probability when even the brightest peak
            // absolute-magnitude estimate M(z+zerr) stays fainter than
            // not_sl_threshold. NaN photo-z (service down / no match)
            // leaves the probability untouched, like the reference.
            if (proba > xgb.optimalThreshold && ra != null && dec != null) {
              val (pz, pzErr) = photozService.photoz(ra, dec)
              def peak(b: Int) = {
                val xs = sel.filter(fids(_) == b).map(m)
                if (xs.isEmpty) 99.0 else xs.min // np.min(..., initial=99)
              }
              val wave = graft.kernels.SlsnFeatures.BandWaveAA
              val upper = graft.kernels.SlsnPhotoz.absPeak(
                Array(peak(1), peak(2)), Array(wave(1), wave(2)),
                pz, pzErr, feats("ebv"))(2)
              if (!upper.isNaN && upper > notSlThreshold) 0.0 else proba
            } else proba
          case None => fallback.score(
            graft.models.XgbUbjson.TrainingFeatureOrder.map(feats).toArray)
        }
      }
    })
    val age = element_at(col("cjd"), -1) - col("candidate.jdstarthist")
    WithColumns(df, Seq(
      "superluminous_score" -> when(isTransient && age >= minAgeDays,
          s(col("objectId"), col("cjd").cast("array<double>"),
            col("cfid").cast("array<int>"),
            col("cmagpsf").cast("array<double>"),
            col("csigmapsf").cast("array<double>"),
            col("candidate.distnr").cast("double"),
            col("candidate.ra").cast("double"),
            col("candidate.dec").cast("double")))
          .otherwise(lit(-1.0)),
      "superluminous_score_is_stub" -> lit(model.isEmpty)))
  }

  /** Orphan-GRB afterglow score (Rubin) — reference:
    * rubin/orphans/processor.py:30-102 + classifier.py + the
    * features_extraction.py/fit.py kernels ported in
    * [[graft.kernels.OrphanFeatures]]. Pipeline: flux -> AB magnitude
    * (flux_to_mag), magerr = fluxerr/flux*1.0857, the >= 5-point gate
    * (processor.py:97 counts ALL history points — `len(~np.isnan(x))`
    * is the array length, reproduced faithfully), NaN-cleaned
    * time-sorted curve, 12 features, inf->1000 / NaN->0 / row-max
    * normalization, classifier P(orphan). 0.0 under the gate
    * (classifier.py:132, not -1).
    *
    * Default scorer: the real bundled GradientBoostingClassifier when
    * the model bundle is present ([[RefModels.orphans]]).
    */
  def orphanGrb(spark: SparkSession, df: DataFrame,
      scorer: Scorer = RefModels.orphans.getOrElse(StubModels.forest("orphans", 12))): DataFrame = {
    val s = udf((cmjd: Seq[java.lang.Double], cflux: Seq[java.lang.Double],
        cerr: Seq[java.lang.Double], cband: Seq[String]) => {
      val t = doubles(cmjd); val flux = doubles(cflux); val ferr = doubles(cerr)
      // reference valid gate: total history length >= 5 (processor.py:97)
      if (flux.length < 5) 0.0
      else {
        val mags = flux.map(OrphanFeatures.fluxToMag)
        val magErr = flux.indices.map(i => ferr(i) / flux(i) * 1.0857).toArray
        // clean_and_sort_light_curve: drop NaN magnitudes, sort by time
        val sel = mags.indices.filter(i => !mags(i).isNaN).sortBy(t)
        // all-NaN curve (e.g. every flux negative): nothing to fit —
        // the reference would raise here; score the empty gate as 0.0
        if (sel.isEmpty) 0.0
        else {
          val ts = sel.map(t).toArray
          val ms = sel.map(mags).toArray
          val es = sel.map(magErr).toArray
          val bs = sel.map(i => if (cband(i) == null) "" else cband(i)).toArray
          val feats = OrphanFeatures.features(ts, ms, es, bs)
          scorer.score(OrphanFeatures.preprocess(feats.toArray))
        }
      }
    })
    df.withColumn("p_orphan", s(
      col("cmidpointMjdTai").cast("array<double>"), col("cpsfFlux").cast("array<double>"),
      col("cpsfFluxErr").cast("array<double>"), col("cband").cast("array<string>")))
  }

  /** SLSN score (Rubin) — reference: rubin/slsn/processor.py:26-92 +
    * feature_extraction.py/basic_functions.py: times shifted so the
    * max-flux epoch is 0, fluxes normalized by the peak, LINEXP-rainbow
    * fit on the normalized multiband curve
    * ([[graft.kernels.RainbowFit.fitLinexp]] — the exact
    * temperature="sigmoid"/bolometric="linexp" model of
    * feature_extraction.py:176-184, solver-level deviation documented
    * there), then per-band flux std and mean SNR (-1 empty-band
    * sentinels), ra/dec, point count — the no-metadata 23-feature
    * layout of parametrise (feature_extraction.py:105-161). inf and
    * NaN features both zero like get_probabilities (classifier.py:64).
    * The SLSN_rainbow joblib classifier is CI-fetched and absent
    * offline, so scoring defaults to the stand-in.
    *
    * Terminal status (r14, the rfscoreRainbow/DefaultSalt
    * adjudication): this is an ARTIFACT-DATA gap, not a machinery
    * gap, and cannot be closed offline. The reference's
    * `SLSN_rainbow.joblib` is a classifier trained on a labeled
    * Rubin/ELaSTICC SLSN corpus (processor.py:26-92) — CI-fetched,
    * absent from the checkout, and not reconstructible: training a
    * substitute needs the labeled corpus, which the container does
    * not carry and zero egress cannot fetch; a synthetic-data model
    * would carry fabricated decision boundaries presented as a
    * classifier, worse than an honest stand-in. Everything COMPUTED
    * around the artifact is implemented and pinned: the linexp
    * bolometric fit is exact (RainbowFit.fitLinexp, solver-level
    * deviation documented there), the 23-feature parametrise layout
    * and its sentinels are spec-pinned
    * (ExtendedClassifiersSpec "slsn scorer contract"), the
    * sklearn/joblib -> [[graft.models.Scorer]] path is proven by the
    * al-loop forest that IS bundled
    * ([[graft.models.RefModels.alSniaScorer]], real predict_proba
    * parity), and the scorer is injectable — supplying the public
    * joblib requires no code change. Rows carry `slsn_score_is_stub`
    * so no consumer can mistake the stand-in for the trained model.
    */
  def slsnRubin(spark: SparkSession, df: DataFrame,
      scorer: Scorer = StubModels.forest("slsn", 23),
      raCol: Column = col("diaSource.ra"),
      decCol: Column = col("diaSource.dec")): DataFrame = {
    // slsn rainbow wavelengths (feature_extraction.py:178)
    val slsnWave = Map("u" -> 3751.0, "g" -> 4742.0, "r" -> 6173.0,
      "i" -> 7502.0, "z" -> 8679.0, "y" -> 9711.0)
    val s = udf((cmjd: Seq[java.lang.Double], cflux: Seq[java.lang.Double],
        cerr: Seq[java.lang.Double], cband: Seq[String],
        ra: java.lang.Double, dec: java.lang.Double) => {
      val t = doubles(cmjd); val f = doubles(cflux); val e = doubles(cerr)
      val sel = f.indices.filter(i => !f(i).isNaN && !e(i).isNaN)
      // MINIMUM_POINTS gate (kernel.py:22): invalid objects keep -1
      if (sel.length < 7) -1.0
      else {
        val order = sel.sortBy(t)
        val fs = order.map(f).toArray
        // transform_data: shift time to the max-flux epoch, normalize
        // flux and error by the peak (basic_functions translate/normalize)
        val iPeak = fs.indices.maxBy(fs)
        val peak = fs(iPeak)
        val t0 = order.map(t).apply(iPeak)
        val ts = order.map(t(_) - t0).toArray
        val norm = if (peak != 0.0) peak else 1.0
        val fn = fs.map(_ / norm)
        val en = order.map(e(_) / norm).toArray
        val bs = order.map(i => if (cband(i) == null) "" else cband(i)).toArray
        val rainbow = graft.kernels.RainbowFit.fitLinexp(ts, bs, fn, en, slsnWave)
        // per-band std / mean SNR with the -1 empty sentinels
        val perBand = Rubin.Bands.flatMap { b =>
          val bi = bs.indices.filter(bs(_) == b)
          if (bi.isEmpty) Seq(-1.0, -1.0)
          else {
            val bf = bi.map(fn)
            val mean = bf.sum / bf.length
            val std = math.sqrt(bf.map(x => (x - mean) * (x - mean)).sum / bf.length)
            val snr = bi.map(i => fn(i) / en(i)).sum / bi.length
            Seq(std, snr)
          }
        }
        val feats = (Array(peak) ++ rainbow ++ perBand ++
          Array(if (ra == null) 0.0 else ra.doubleValue(),
            if (dec == null) 0.0 else dec.doubleValue(),
            sel.length.toDouble))
          .map(x => if (x.isNaN || x.isInfinite) 0.0 else x)
        scorer.score(feats)
      }
    })
    df.withColumn("slsn_score", s(
        col("cmidpointMjdTai").cast("array<double>"), col("cpsfFlux").cast("array<double>"),
        col("cpsfFluxErr").cast("array<double>"), col("cband").cast("array<string>"),
        raCol.cast("double"), decCol.cast("double")))
      .withColumn("slsn_score_is_stub", lit(graft.models.Scorer.isStandIn(scorer)))
  }
}
