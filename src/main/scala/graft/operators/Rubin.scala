package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.alerts.AlertCols
import graft.alerts.AlertCols.doubles
import graft.kernels.{LightCurveFeatures, RainbowFit}
import graft.models.{Scorer, StubModels}

/** Rubin/LSST adapters (SURVEY.md §1.3, §2.3 rubin modules): same operator
  * machinery as ZTF with the packet layout swapped — current struct is
  * `diaSource`, history `prvDiaSources`, photometry is flux-space
  * (psfFlux/psfFluxErr in nJy), time is `midpointMjdTai`, band a letter
  * (u,g,r,i,z,y).
  */
object Rubin {

  val Bands: Seq[String] = Seq("u", "g", "r", "i", "z", "y")

  /** Rubin concat_col (rubin/slsn/processor.py:66-69):
    * cX = prvDiaSources.X ++ [diaSource.X].
    */
  def withHistory(df: DataFrame, columns: Seq[String]): DataFrame =
    AlertCols.withHistory(df, columns,
      current = AlertCols.RubinCurrent, history = AlertCols.RubinHistory)

  /** Detection count over the flux series (nalerthist analog). */
  def nalerthist(df: DataFrame): DataFrame =
    df.withColumn("nalerthist", AlertCols.detectionCount(col("cpsfFlux")))

  /** ELAsTiCC adapter (rubin/snn elasticc + random_forest rainbow
    * variants): same packet layout with renamed photometry fields
    * (midPointTai/psFlux/psFluxErr/filterName); builds the canonical
    * series columns so every Rubin operator runs unchanged.
    */
  def fromElasticc(df: DataFrame): DataFrame =
    AlertCols.withHistory(df,
      Seq("midPointTai", "psFlux", "psFluxErr", "filterName"),
      current = AlertCols.RubinCurrent, history = AlertCols.RubinHistory)
      .withColumnRenamed("cmidPointTai", "cmidpointMjdTai")
      .withColumnRenamed("cpsFlux", "cpsfFlux")
      .withColumnRenamed("cpsFluxErr", "cpsfFluxErr")
      .withColumnRenamed("cfilterName", "cband")

  /** Rainbow feature extraction for one alert
    * (rubin/random_forest_snia/processor.py:44-155 semantics): sort by
    * MJD, mask NaN fluxes, require >= 7 points and >= max(2, min(3,
    * nbands)) rising filters, apply the low_bound flux floor, then fit
    * the published Rainbow rising model. Failure paths return the
    * zeros vector exactly like the reference (amplitude == 0 doubles
    * as the downstream sentinel flag).
    */
  def rainbowFeaturesKernel(mjd: Array[Double], band: Array[String],
      flux: Array[Double], fluxErr: Array[Double],
      waveAA: Map[String, Double] = RainbowFit.LsstBandWaveAA,
      minDataPoints: Int = 7, lowBound: Double = -10.0): Array[Double] = {
    val order = mjd.indices.sortBy(mjd)
    val sel = order.filter(i => !flux(i).isNaN && flux(i) > lowBound)
    if (sel.length < minDataPoints)
      return new Array[Double](RainbowFit.FeatureNames.length)
    val bands = sel.map(band).distinct
    val needed = math.max(2, math.min(3, bands.length))
    val rising = bands.count { b =>
      val bi = sel.filter(band(_) == b)
      RainbowFit.isRising(bi.map(mjd).toArray, bi.map(flux).toArray)
    }
    if (rising < needed)
      return new Array[Double](RainbowFit.FeatureNames.length)
    RainbowFit.fit(sel.map(mjd).toArray, sel.map(band).toArray,
      sel.map(flux).toArray, sel.map(fluxErr).toArray, waveAA).features
  }

  /** Early-SN-Ia rainbow score (`pIa`) —
    * rubin/random_forest_snia/processor.py:158-278: classifier input is
    * [n_points] ++ the 7 rainbow features; alerts whose rainbow fit
    * failed (amplitude == 0) get the -1.0 sentinel. The bundled
    * elasticc_rainbow pickle is CI-fetched and absent offline, so the
    * scorer defaults to the documented stand-in.
    *
    * Terminal status (r13, the SlsnFeatures.DefaultSalt adjudication):
    * this is an ARTIFACT-DATA gap, not a machinery gap, and cannot be
    * closed offline. The reference's
    * `elasticc_rainbow_earlyIa_nometa.pkl` is a RandomForest trained
    * on labeled ELaSTICC light curves (processor.py:231) — CI-fetched,
    * absent from the checkout, and not reconstructible: training a
    * substitute needs the labeled ELaSTICC alert corpus, which the
    * container does not carry and zero egress cannot fetch; a
    * synthetic-data forest would carry fabricated decision boundaries
    * presented as a classifier, worse than an honest stand-in.
    * Everything COMPUTED around the artifact is implemented and
    * pinned: the rainbow feature kernel matches the reference's
    * rising-cut/minimum-points gates exactly (RubinSpec), the
    * sklearn-pickle -> [[graft.models.Scorer]] path is proven by the
    * al-loop SNIa forest that IS bundled
    * ([[graft.models.RefModels.alSniaScorer]], real predict_proba
    * parity), and the scorer is injectable — supplying the public
    * pickle requires no code change. Rows carry `pIa_is_stub` so no
    * consumer can mistake the stand-in for the trained model.
    */
  def rfscoreRainbow(spark: SparkSession, df: DataFrame,
      scorer: Scorer = StubModels.forest("rainbow_ia", 8)): DataFrame = {
    val s = udf((cmjd: Seq[java.lang.Double], cband: Seq[String],
        cflux: Seq[java.lang.Double], cerr: Seq[java.lang.Double]) => {
      val mjd = doubles(cmjd); val f = doubles(cflux); val e = doubles(cerr)
      val b = if (cband == null) Array.empty[String]
        else cband.map(x => if (x == null) "" else x).toArray
      val feats = rainbowFeaturesKernel(mjd, b, f, e)
      if (feats(0) == 0.0) -1.0
      else scorer.score(Array(mjd.length.toDouble) ++ feats)
    })
    df.withColumn("pIa", s(
        col("cmidpointMjdTai").cast("array<double>"), col("cband"),
        col("cpsfFlux").cast("array<double>"), col("cpsfFluxErr").cast("array<double>")))
      .withColumn("pIa_is_stub", lit(graft.models.Scorer.isStandIn(scorer)))
  }

  /** Per-band light-curve features over fluxes, keyed by band letter —
    * rubin/ad_features/processor.py:35-227 (same 26-statistic kernel;
    * bands are strings, all six kept).
    */
  def adFeatures(spark: SparkSession, df: DataFrame): DataFrame = {
    val kernel = udf((cflux: Seq[java.lang.Double], cerr: Seq[java.lang.Double],
        cmjd: Seq[java.lang.Double], cband: Seq[String]) => {
      val f = doubles(cflux); val e = doubles(cerr); val t = doubles(cmjd)
      Bands.flatMap { b =>
        val sel = cband.indices.filter(i => cband(i) == b &&
          !f(i).isNaN && !e(i).isNaN)
        if (sel.isEmpty) None
        else {
          val order = sel.sortBy(t)
          val feats = LightCurveFeatures.extract(
            order.map(t).toArray, order.map(f).toArray, order.map(e).toArray)
          Some(b -> LightCurveFeatures.names.zip(feats).toMap)
        }
      }.toMap
    })
    df.withColumn("lc_features", kernel(
      col("cpsfFlux").cast("array<double>"), col("cpsfFluxErr").cast("array<double>"),
      col("cmidpointMjdTai").cast("array<double>"), col("cband").cast("array<string>")))
  }

  /** Rubin SNN (rubin/snn/processor.py:40-160): no a-priori gate, psfFlux
    * rescaled into SNANA FLUXCAL (zeropoint 31.4 -> 27.5), then the
    * bundled elasticc SuperNNova bi-LSTM (transform_to_flux=False path);
    * prob_class0 returned. Falls back to summary features + stub when
    * the model bundle is absent.
    */
  def snn(spark: SparkSession, df: DataFrame, outCol: String = "snn_sn_vs_all",
      model: Option[graft.models.SnnModel] = graft.models.RefModels.snnElasticcSnVsOther,
      fallback: Scorer = StubModels.logistic("rubin_snn", 26)): DataFrame = {
    val fluxcal = math.pow(10.0, -(31.4 - 27.5) / 2.5)
    val kernel = model match {
      case Some(m) =>
        // elasticc filter set, ASCII-sorted like SuperNNova's dummies
        val filters = Seq("u", "g", "r", "i", "z", "Y")
        udf((cflux: Seq[java.lang.Double], cerr: Seq[java.lang.Double],
            cmjd: Seq[java.lang.Double], cband: Seq[String]) => {
          val b = if (cband == null) Array.empty[String]
            else cband.map(x => if (x == null) "" else x).toArray
          graft.models.SnnFeatures.probClass0Flux(m, doubles(cmjd), b,
            doubles(cflux).map(_ * fluxcal), doubles(cerr).map(_ * fluxcal), filters)
        })
      case None =>
        udf((cflux: Seq[java.lang.Double], cerr: Seq[java.lang.Double],
            cmjd: Seq[java.lang.Double], cband: Seq[String]) => {
          val f = doubles(cflux).map(_ * fluxcal)
          val e = doubles(cerr).map(_ * fluxcal)
          val t = doubles(cmjd)
          val sel = f.indices.filter(i => !f(i).isNaN && !e(i).isNaN)
          val feats = LightCurveFeatures.extract(
            sel.map(t).toArray, sel.map(f).toArray, sel.map(e).toArray)
            .map(x => if (x.isNaN) 0.0 else x)
          fallback.score(feats)
        })
    }
    df.withColumn(outCol, kernel(
      col("cpsfFlux").cast("array<double>"), col("cpsfFluxErr").cast("array<double>"),
      col("cmidpointMjdTai").cast("array<double>"), col("cband")))
  }

  /** CATS-style multi-class argmax (rubin/cats/processor.py:60-169):
    * scores from a per-class scorer bank; output is the argmax index via
    * the reference's own native expression
    * `array_position(preds, array_max(preds)) - 1`.
    */
  /** CATS input tensor for one alert — exact reference preprocessing
    * (rubin/cats/processor.py:115-160 + utilities.py norm_column):
    * mjd shifted to the first epoch, per-curve min-max normalized flux
    * and error ([1.0] singletons), bands coded u..y -> 1..6, all four
    * channels padded "post" to 395 steps with -999 (0 for bands) and
    * truncated "pre" (keras pad_sequences keeps the LAST maxlen steps).
    * Rows: [mjd, flux, error, band] per timestep.
    */
  def catsInputTensor(mjd: Array[Double], flux: Array[Double],
      err: Array[Double], band: Array[String],
      maxLen: Int = 395): Array[Array[Float]] = {
    val filterCode = Map("u" -> 1f, "g" -> 2f, "r" -> 3f,
      "i" -> 4f, "z" -> 5f, "y" -> 6f)
    def norm(xs: Array[Double]): Array[Float] = {
      if (xs.length == 1) return Array(1.0f)
      val mn = xs.min; val ptp = xs.max - mn
      xs.map(x => ((x - mn) / ptp).toFloat)
    }
    val t0 = mjd(0)
    val tShift = mjd.map(x => (x - t0).toFloat)
    val fN = norm(flux)
    val eN = norm(err)
    val bC = band.map(b => filterCode.getOrElse(b, 0f))
    val n = mjd.length
    val take = math.min(n, maxLen)
    val from = n - take // truncating='pre': keep the last steps
    Array.tabulate(maxLen) { i =>
      if (i < take) Array(tShift(from + i), fN(from + i), eN(from + i), bC(from + i))
      else Array(-999f, -999f, -999f, 0f)
    }
  }

  /** CATS broad classification — rubin/cats/processor.py:43-170:
    * < 2-point curves keep the all-zero probability vector; others run
    * the 395x4 input tensor through the classifier; downstream argmax
    * is the reference's own native expression. The scorer defaults to
    * the REAL bundled model — the serial `.keras` archive, whose
    * weights are byte-identical to the SavedModel checkpoint the
    * reference loads — run natively by [[graft.models.CatsModel]]
    * (CNN + squeeze-excitation + BiLSTM branches; pinned against an
    * independent NumPy evaluation in CatsModelSpec).
    */
  def catsBroadClass(spark: SparkSession, df: DataFrame, nClasses: Int = 5,
      batchScorer: Array[Array[Array[Float]]] => Array[Array[Double]] =
        graft.models.RefModels.CatsBatchScorer,
      batchRows: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // stage the four typed series as leading columns so the partition
    // kernel reads by fixed index; mapPartitions (not a row UDF) so the
    // model scores one stacked batch per group of rows — the
    // reference's Arrow-batch granularity (rubin/cats/processor.py:
    // 60-169). The forward also computes the preds exactly once per
    // row per materialization (the old row-UDF path needed
    // asNondeterministic to stop ProjectCollapse re-evaluating it per
    // downstream reference).
    val staged = df.select(Seq(
      col("cpsfFlux").cast("array<double>").as("__cflux"),
      col("cpsfFluxErr").cast("array<double>").as("__cerr"),
      col("cmidpointMjdTai").cast("array<double>").as("__cmjd"),
      col("cband").cast("array<string>").as("__cband")) ++
        df.columns.map(col): _*)
    val outSchema = staged.schema.add("cats_preds",
      ArrayType(DoubleType, containsNull = false))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val scored = staged.mapPartitions { it =>
      it.grouped(batchRows).flatMap { rows =>
        // rows passing the reference's >=2-point gate go to the model
        // as ONE stacked batch; the rest keep the all-zero vector
        val tensors = Array.newBuilder[Array[Array[Float]]]
        val slot = new Array[Int](rows.length)
        var nScore = 0
        rows.zipWithIndex.foreach { case (r, i) =>
          val t = doubles(r.getSeq[java.lang.Double](2))
          if (t.length <= 1) slot(i) = -1
          else {
            val bs = if (r.isNullAt(3)) null else r.getSeq[String](3)
            val b = if (bs == null) Array.fill(t.length)("")
              else bs.map(x => if (x == null) "" else x).toArray
            tensors += catsInputTensor(t, doubles(r.getSeq[java.lang.Double](0)),
              doubles(r.getSeq[java.lang.Double](1)), b)
            slot(i) = nScore
            nScore += 1
          }
        }
        val preds = if (nScore > 0) batchScorer(tensors.result()) else Array.empty[Array[Double]]
        rows.zipWithIndex.map { case (r, i) =>
          val p = if (slot(i) < 0) Array.fill(nClasses)(0.0) else preds(slot(i))
          Row.fromSeq(r.toSeq :+ p.toSeq)
        }
      }
    }
    scored.drop("__cflux", "__cerr", "__cmjd", "__cband")
      .withColumn("cats_broad_class",
        expr("array_position(cats_preds, array_max(cats_preds)) - 1").cast("int"))
  }

  /** Rubin TNS crossmatch: typed struct payload (fullname, type,
    * redshift) — rubin/xmatch/processor.py:420-494 + utils.py:33-39
    * TNS_SPARK_SCHEMA; null struct fields where unmatched (the
    * tri-state contract, rubin/xmatch/processor.py:69-75).
    */
  def xmatchTns(alerts: DataFrame, tnsCatalog: DataFrame,
      radiusArcsec: Double = 1.5, idCol: String = "alertId",
      raCol: String = "diaSource.ra", decCol: String = "diaSource.dec"): DataFrame = {
    val cat = tnsCatalog.filter(col("type").isNotNull).select(
      col("ra").as("__tra"), col("declination").as("__tdec"),
      struct(
        col("fullname").cast("string").as("fullname"),
        col("type").cast("string").as("type"),
        col("redshift").cast("float").as("redshift")).as("tns"))
    graft.xmatch.CrossMatch.closestWithin(alerts, cat, radiusArcsec, idCol,
      raCol, decCol, "__tra", "__tdec", Seq("tns"),
      Map("tns" -> lit(null).cast("struct<fullname:string,type:string,redshift:float>")))
  }

  /** Declination-band catalog pre-filter used by the Rubin xmatch
    * variants (rubin/xmatch/processor.py:455-467): prune the catalog to
    * the alerts' dec range before matching. With the zone-bucketed
    * crossmatch this is free, but the helper is exposed for API parity.
    */
  def decBandFilter(catalog: DataFrame, decCol: String,
      decMin: Double, decMax: Double, padDeg: Double): DataFrame =
    catalog.filter(col(decCol) >= decMin - padDeg && col(decCol) <= decMax + padDeg)
}
