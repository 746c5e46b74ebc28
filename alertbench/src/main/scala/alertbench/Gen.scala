package alertbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Everything here is a pure function of its
  * seed: the same seed gives the same rows, so a parent and a change run
  * of the benchmark measure identical inputs.
  */
object Gen {

  /** Fields shared by the current measurement and every history entry
    * (AlertCols.withHistory concatenates them, so their types must
    * agree between `candidate` and `prv_candidates`).
    */
  private val measurement: Seq[StructField] = Seq(
    StructField("jd", DoubleType), StructField("fid", IntegerType),
    StructField("ra", DoubleType), StructField("dec", DoubleType),
    StructField("magpsf", FloatType), StructField("sigmapsf", FloatType),
    StructField("diffmaglim", FloatType), StructField("isdiffpos", StringType),
    StructField("magnr", FloatType), StructField("sigmagnr", FloatType),
    StructField("distnr", FloatType), StructField("rb", FloatType),
    StructField("drb", FloatType), StructField("fwhm", FloatType),
    StructField("nbad", IntegerType))

  private val currentOnly: Seq[StructField] =
    Seq(StructField("ndethist", IntegerType), StructField("jdstarthist", DoubleType),
      StructField("scorr", DoubleType), StructField("ssnamenr", StringType)) ++
      Seq("sgscore1", "sgscore2", "sgscore3", "distpsnr1", "distpsnr2",
        "distpsnr3", "sgmag1", "srmag1", "simag1", "szmag1", "srmag2",
        "srmag3", "ssdistnr", "ssmagnr", "neargaia", "maggaia",
        "neargaiabright", "maggaiabright", "classtar", "elong")
        .map(StructField(_, FloatType))

  val candidateType: StructType = StructType(measurement ++ currentOnly)
  val historyType: StructType = StructType(measurement)

  /** ZTF packet layout: the subset of the public alert schema the
    * enrichment DAG reads, every field nullable as in the archive.
    */
  val alertSchema: StructType = StructType(Seq(
    StructField("objectId", StringType), StructField("candid", LongType),
    StructField("candidate", candidateType),
    StructField("prv_candidates", ArrayType(historyType))))

  private def f(x: Double): java.lang.Float = java.lang.Float.valueOf(x.toFloat)

  /** `n` ZTF-shaped packets. Object kinds (transient, variable star,
    * flat source, fast transient, solar-system object) set the light
    * curve shape; history lengths spread from 0 to 60 points; about 15%
    * of history entries are upper limits, carried as null magnitudes
    * (two in three) or NaN (one in three).
    *
    * The structure of the table (kinds, history lengths, cadence, bands,
    * upper limits, real-bogus scores and every other value a selection
    * gate tests) comes from a fixed stream, the same for every seed;
    * the seed sets sky positions, epochs and photometric noise. So every
    * seed gives different packets that cost the DAG the same work, and
    * a run's timing does not depend on which seed it drew.
    */
  def alerts(seed: Long, n: Int): Array[Row] = {
    val shape = new java.util.SplittableRandom(0x5eedL)
    val r = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 1L)
    Array.tabulate(n)(i => alert(shape.split(), r.split(), seed, i))
  }

  private def alert(s: java.util.SplittableRandom, r: java.util.SplittableRandom,
      seed: Long, i: Int): Row = {
    val kind = s.nextInt(100) match {
      case k if k < 35 => 'T' // rising then fading transient
      case k if k < 60 => 'V' // periodic variable
      case k if k < 80 => 'F' // flat, faint source
      case k if k < 92 => 'X' // fast transient
      case _ => 'S' // solar-system object
    }
    val nHist = kind match {
      case 'S' => s.nextInt(2)
      case _ => s.nextInt(100) match {
        case k if k < 20 => s.nextInt(4)
        case k if k < 70 => 4 + s.nextInt(17)
        case _ => 21 + s.nextInt(40)
      }
    }
    val ra0 = r.nextDouble() * 360.0
    val dec0 = math.toDegrees(math.asin(r.nextDouble() * 1.5 - 0.5))
    val base = 17.0 + s.nextDouble() * 3.5
    val amp = 0.5 + s.nextDouble() * 2.5
    val period = 0.3 + s.nextDouble() * 20.0
    val t0 = 2460000.0 + r.nextDouble() * 300.0
    val peakAt = 5.0 + s.nextDouble() * 40.0
    def mag(dt: Double): Double = kind match {
      case 'T' => base - amp * (1.0 / (1.0 + math.exp(-(dt - peakAt) / 3.0))) +
        math.max(0.0, dt - peakAt) * 0.03
      case 'V' => base - amp * 0.5 * math.sin(2 * math.Pi * dt / period)
      case 'X' => base - amp * math.exp(-dt / 2.0)
      case _ => base
    }
    val gaps = Array.fill(nHist + 1)(
      if (kind == 'X') 0.02 + s.nextDouble() * 0.6 else 0.3 + s.nextDouble() * 4.0)
    val times = gaps.scanLeft(t0)(_ + _).tail
    def point(k: Int, current: Boolean): Seq[Any] = {
      val t = times(k)
      val fid = if (s.nextInt(2) == 0) 1 else 2
      val upper = !current && s.nextInt(100) < 15
      val m = mag(t - t0) + (if (fid == 2) -0.3 else 0.0) + r.nextGaussian() * 0.05
      val sig = 0.02 + 0.1 * math.max(0.0, m - 17.0) / 4.0 + r.nextDouble() * 0.02
      val (mp, sp) =
        if (!upper) (f(m), f(sig))
        else if (s.nextInt(3) == 0) (f(Double.NaN), f(Double.NaN))
        else (null, null)
      val limit = f(20.2 + r.nextDouble() * 0.8)
      val pos = if (upper) null else if (s.nextInt(10) < 8) "t" else "f"
      val jitter = 0.1 / 3600.0
      Seq(t, fid, ra0 + r.nextGaussian() * jitter, dec0 + r.nextGaussian() * jitter,
        mp, sp, limit, pos,
        f(14.0 + s.nextDouble() * 8.0), f(0.02 + r.nextDouble() * 0.2),
        f(if (s.nextInt(10) == 0) -999.0 else s.nextDouble() * 5.0),
        f(0.2 + s.nextDouble() * 0.8), f(0.5 + s.nextDouble() * 0.5),
        f(1.5 + r.nextDouble() * 2.0), r.nextInt(3))
    }
    val history = (0 until nHist).map(k => Row.fromSeq(point(k, current = false)))
    val nDet = history.count(h => h.get(4) != null && !h.getFloat(4).isNaN)
    val jdStart = kind match {
      case 'V' => times(0) - 100.0 - s.nextDouble() * 400.0
      case _ => times(0) - s.nextDouble() * 2.0
    }
    val ndethist = kind match {
      case 'V' => 30 + s.nextInt(250)
      case 'S' => 1 + nDet
      case _ => nDet + 1 + s.nextInt(3)
    }
    def maybe(x: => Double): java.lang.Float =
      if (s.nextInt(20) == 0) f(-999.0) else f(x)
    val current = point(nHist, current = true) ++ Seq(
      ndethist, jdStart, r.nextDouble() * 40.0,
      if (kind == 'S') s"${1000 + r.nextInt(90000)}" else null,
      f(s.nextDouble()), f(s.nextDouble()), f(s.nextDouble()),
      maybe(s.nextDouble() * 15.0), maybe(s.nextDouble() * 25.0),
      maybe(s.nextDouble() * 25.0),
      maybe(13.0 + s.nextDouble() * 9.0), maybe(13.0 + s.nextDouble() * 9.0),
      maybe(13.0 + s.nextDouble() * 9.0), maybe(13.0 + s.nextDouble() * 9.0),
      maybe(13.0 + s.nextDouble() * 9.0), maybe(13.0 + s.nextDouble() * 9.0),
      if (kind == 'S') f(s.nextDouble() * 4.0) else f(-999.0),
      if (kind == 'S') f(18.0 + r.nextDouble() * 3.0) else f(-999.0),
      f(s.nextDouble() * 30.0), f(10.0 + s.nextDouble() * 11.0),
      f(s.nextDouble() * 60.0), f(8.0 + s.nextDouble() * 8.0),
      f(s.nextDouble()), f(1.0 + r.nextDouble() * 0.5))
    Row(f"ZTF${seed % 100}%02d${i}%07d", 1000000000L * (seed % 1000 + 1) + i,
      Row.fromSeq(current), history)
  }

  /** Sky catalog for the crossmatch: `n` random sources plus one
    * counterpart within 0.6" for roughly 40% of `alerts`, labelled with
    * SIMBAD-style types (about half of them extra-galactic hosts, so the
    * classifier gates pass for a share of the alerts). Which alerts get
    * a counterpart, and its label, is fixed like the alerts' structure.
    */
  def xmatchCatalog(seed: Long, alerts: Array[Row], n: Int): Seq[Row] = {
    val s = new java.util.SplittableRandom(0x5eedL + 1L)
    val r = new java.util.SplittableRandom(seed * 31L + 7L)
    val labels = Array("Galaxy", "SN", "Seyfert_1", "EmG", "Star", "RRLyr",
      "EB*", "QSO", "Transient", "LPV*")
    val random = Seq.fill(n)(Row(r.nextDouble() * 360.0,
      math.toDegrees(math.asin(r.nextDouble() * 1.5 - 0.5)),
      labels(r.nextInt(labels.length))))
    val near = alerts.toSeq.flatMap { a =>
      if (s.nextInt(100) >= 40) None
      else {
        val c = a.getStruct(2)
        val d = 0.6 / 3600.0
        Some(Row(c.getDouble(2) + (r.nextDouble() - 0.5) * d,
          c.getDouble(3) + (r.nextDouble() - 0.5) * d, labels(s.nextInt(labels.length))))
      }
    }
    random ++ near
  }

  val catalogSchema: StructType = StructType(Seq(StructField("ra", DoubleType),
    StructField("dec", DoubleType), StructField("label", StringType)))

  /** Blazar monitoring catalog (StandardizedFlux / ExtremeState) naming
    * about 2% of the alerts' objects.
    */
  def blazarCatalog(seed: Long, alerts: Array[Row]): Seq[Row] = {
    val s = new java.util.SplittableRandom(0x5eedL + 2L)
    val r = new java.util.SplittableRandom(seed * 131L + 3L)
    alerts.toSeq.filter(_ => s.nextInt(50) == 0).zipWithIndex.map { case (a, k) =>
      Row(s"SRC$k", a.getString(0), Row(1e-4 + r.nextDouble() * 1e-3,
        1e-4 + r.nextDouble() * 1e-3), 0.5 + r.nextDouble() * 0.3,
        1.5 + r.nextDouble() * 0.8)
    }
  }

  val blazarSchema: StructType = StructType(Seq(
    StructField("Source_name", StringType), StructField("ZTF_name", StringType),
    StructField("medians", StructType(Seq(StructField("1", DoubleType),
      StructField("2", DoubleType)))),
    StructField("low_threshold", DoubleType), StructField("high_threshold", DoubleType)))

  // ---- corpus -------------------------------------------------------

  /** Fixed vocabulary of pseudo-words, the same for every seed. */
  private lazy val vocab: Array[String] = {
    val r = new java.util.SplittableRandom(12345L)
    Array.fill(4000) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
  }

  private type Rng = java.util.SplittableRandom

  /** Sentence and document lengths come from the structure stream `s`,
    * the words from the seeded stream `r`.
    */
  private def sentence(s: Rng, r: Rng): String =
    Seq.fill(6 + s.nextInt(10))(vocab(r.nextInt(vocab.length))).mkString(" ") + "."

  private def prose(s: Rng, r: Rng): String =
    Seq.fill(3 + s.nextInt(5))(sentence(s, r)).mkString(" ")

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  /** A corpus of `n` documents plus `nBench` benchmark documents (ids
    * from `n` up). Planted shares: 10% fail the quality cascade (too
    * short, digit-heavy or unterminated), 10% exact duplicates, 10%
    * near-duplicates (one word changed) and 3% carrying an 8-word span
    * of a benchmark document. Duplicates copy an earlier document, so
    * clusters stay pairs and small chains. As for the alerts, which
    * document is which, and every length, is the same for every seed;
    * the seed picks the words.
    */
  def corpus(seed: Long, n: Int, nBench: Int): (Array[Row], Array[Row]) = {
    val s = new Rng(0x5eedL + 3L)
    val r = new Rng(seed * 0x2545f4914f6cdd1dL + 11L)
    val bench = Array.tabulate(nBench)(_ => prose(s, r))
    val texts = new Array[String](n)
    var i = 0
    while (i < n) {
      val k = s.nextInt(100)
      texts(i) =
        if (k < 4) Seq.fill(3)(vocab(r.nextInt(vocab.length))).mkString(" ") + "."
        else if (k < 7) prose(s, r) + " " + Seq.fill(40)(r.nextInt(10000).toString).mkString(" ") + "."
        else if (k < 10) prose(s, r).dropRight(1)
        else if (k < 20 && i > 0) texts(s.nextInt(i))
        else if (k < 30 && i > 0) {
          val w = texts(s.nextInt(i)).split(" ")
          w(s.nextInt(w.length - 1)) = vocab(r.nextInt(vocab.length))
          w.mkString(" ")
        } else if (k < 33) {
          val b = bench(s.nextInt(nBench)).split(" ")
          val at = s.nextInt(math.max(1, b.length - 8))
          sentence(s, r) + " " + b.slice(at, at + 8).mkString(" ") + " " + prose(s, r)
        } else prose(s, r)
      i += 1
    }
    val sources = Array("web", "books", "news", "forum", "wiki", "code", "papers", "mail")
    (Array.tabulate(n)(j => Row(j.toLong, texts(j), sources(s.nextInt(sources.length)))),
      Array.tabulate(nBench)(j => Row((n + j).toLong, bench(j), "bench")))
  }
}
