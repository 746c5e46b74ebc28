package alertbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{FastTransientKernel, LightCurveFeatures, SigmoidFit}
import graft.models.{RefModels, Scorer, StubModels}

/** The traced run's per-layer measurements outside the workload's own
  * window: each layer's public functions called with the previous
  * layer's output materialised, plus single-thread kernel and model
  * calls on seeded inputs.
  */
object Profile {
  type Metric = (String, Double, String)

  private def cached(df: DataFrame, held: ArrayBuffer[DataFrame]): (Long, DataFrame) = {
    val c = df.cache()
    held += c
    (Harness.timed(c.count())._1, c)
  }

  /** Alert layers on the alert_batch slice: the Parquet scan, module
    * construction (plan) time, then every DAG step's self time over its
    * materialised input.
    */
  def alerts(ctx: Ctx, batch: AlertBatch): (Seq[Metric], Map[String, Any]) = {
    val dag = batch.inputs.dag
    val plans = (0 until 5).map { _ =>
      val input = batch.scan()
      ctx.spans.reset()
      ctx.spans.on = true
      try dag.enrich(input) finally ctx.spans.on = false
      ctx.spans.snapshot.collect { case (k, (_, ms)) if k.startsWith("operators.") => ms }.sum
    }
    ctx.spans.reset()
    val held = ArrayBuffer.empty[DataFrame]
    val (scanMs, self, rows, matchRatio, stubs) =
      try {
        val (scanNs, input) = cached(batch.scan(), held)
        var prev = input
        val self = dag.steps.map { case (name, step) =>
          val (ns, out) = cached(step(prev), held)
          prev = out
          name -> ns / 1e6
        }.toMap
        val rows = input.count().toDouble
        val matched = held(2).filter(col("cdsxmatch") =!= "Unknown").count()
        // the *_is_stub columns the classifiers append, as observed
        val stubCols = prev.columns.filter(_.endsWith("_is_stub"))
        val stubs = prev.select(stubCols.map(col).toIndexedSeq: _*).distinct().collect()
          .flatMap(r => stubCols.indices.map(i => stubCols(i) -> r.getBoolean(i)))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct.sorted.toSeq }
        (scanNs / 1e6, self, rows, matched / rows, stubs)
      } finally held.foreach(_.unpersist())
    (Seq(("sources.parquet_scan_ms", scanMs, "ms"),
      ("alerts.series_ms", self("with_history"), "ms"),
      ("operators.plan_ms", Stats.median(plans), "ms"),
      ("xmatch.self_ms", self("xmatch"), "ms"),
      ("xmatch.candidate_rows", rows, "count"),
      ("xmatch.match_ratio", matchRatio, "ratio")) ++
      dag.steps.map(_._1).filterNot(Set("with_history", "xmatch"))
        .map(s => (s"operators.$s.self_ms", self(s), "ms")),
      Map("is_stub_columns" -> stubs))
  }

  /** Per-container Avro decode time (median of 20 decodes). */
  def avroDecode(stream: AlertStream): Seq[Metric] = {
    val bytes = stream.containerBytes
    val ns = (0 until 20).map { k =>
      Harness.timed(graft.sources.AvroReader.container(bytes(k % bytes.length)).rows.length)._1
    }
    Seq(("sources.avro_decode_ms", Stats.median(ns.drop(5).map(_ / 1e6)), "ms"))
  }

  /** corpus_build's chain stage by stage; the stage-path digest must
    * equal `expected` (CorpusBuild.build's digest) when one is given.
    */
  def corpus(ctx: Ctx, w: CorpusWorkload, expected: Option[Digest]): Seq[Metric] = {
    val times = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val s = w.stages((stage, ns) => times(stage) += ns / 1e6)
    try {
      expected.foreach(e => Workload.check("corpus stage-by-stage path", Some(e),
        Digest.of(s.out, ctx.spans)))
      Seq(("text.quality_ms", times("text.quality"), "ms"),
        ("text.kept_ratio", s.keptCount.toDouble / s.docCount, "ratio"),
        ("dedup.pipeline_ms", times("dedup.pipeline"), "ms"),
        ("dedup.rep_ratio", s.repCount.toDouble / s.keptCount, "ratio"),
        ("text.decontaminate_ms", times("text.decontaminate"), "ms"),
        ("text.contaminated_ratio", s.contaminatedCount.toDouble / s.repCount, "ratio"),
        ("text.shard_pack_ms", times("text.shard_pack"), "ms"))
    } finally s.free()
  }

  /** Median over 5 timed rounds (after 2 untimed ones) of the mean
    * per-call time of `f` over `n` inputs, in microseconds.
    */
  private def perCallUs(n: Int)(f: Int => Double): (Double, Double) = {
    var sink = 0.0
    val rounds = (0 until 7).map { _ =>
      Harness.timed { var i = 0; while (i < n) { sink += f(i); i += 1 } }._1 / 1e3 / n
    }
    (Stats.median(rounds.drop(2)), sink)
  }

  /** Single-thread kernel calls on seeded light curves. */
  def kernels(seed: Long): (Seq[Metric], Double) = {
    final case class Lc(fid: Int, t: Array[Double], m: Array[Double], s: Array[Double],
        cjd: Array[Double], cfid: Array[Int], cm: Array[Double], cs: Array[Double],
        lim: Array[Double], jd: Double, start: Double, mag: Double, sig: Double)
    def d(x: Any): Double = x match {
      case null => Double.NaN
      case f: Float => f.toDouble
      case v: Double => v
    }
    val lcs = Gen.alerts(seed, 400).toSeq.flatMap { a =>
      val cur = a.getStruct(2)
      val pts = a.getSeq[org.apache.spark.sql.Row](3) :+ cur
      val all = pts.map(p => (p.getDouble(0), p.getInt(1), d(p.get(4)), d(p.get(5)), d(p.get(6))))
      val real = all.filter(p => !p._3.isNaN && !p._4.isNaN)
      if (real.length < 3) None
      else Some(Lc(cur.getInt(1), real.map(_._1).toArray, real.map(_._3).toArray,
        real.map(_._4).toArray, all.map(_._1).toArray, all.map(_._2).toArray,
        all.map(_._3).toArray,
        all.map(_._4).toArray, all.map(_._5).toArray, cur.getDouble(0),
        d(cur.get(16)), d(cur.get(4)), d(cur.get(5))))
    }.toArray
    val n = lcs.length
    val (lcUs, s1) = perCallUs(n) { i =>
      val c = lcs(i); LightCurveFeatures.extract(c.t, c.m, c.s)(0)
    }
    val (sigUs, s2) = perCallUs(n) { i =>
      val c = lcs(i)
      SigmoidFit.fit(c.t, c.m.map(FastTransientKernel.toFlux), c.s).a
    }
    val (ftUs, s3) = perCallUs(n) { i =>
      val c = lcs(i)
      FastTransientKernel.rate(c.fid, c.cfid, c.cm, c.cs, c.lim, c.cjd,
        c.jd, c.start, c.mag, c.sig, 500, 7L).mag_rate
    }
    (Seq(("kernels.lc_features_us", lcUs, "us"), ("kernels.sigmoid_fit_us", sigUs, "us"),
      ("kernels.fast_transient_us", ftUs, "us")), s1 + s2 + s3)
  }

  /** The scorers the DAG's classifiers use (bundled model when loaded,
    * documented stand-in otherwise), each on seeded feature vectors.
    */
  def scorers: Seq[(String, Scorer, Int)] = Seq(
    ("rf_snia", RefModels.alSniaScorer.getOrElse(StubModels.forest("rf_snia", 12)), 12),
    ("anomaly", RefModels.anomalyBeta.map(_._1)
      .getOrElse(StubModels.isolationForest("anomaly_fid1", 25)), 25),
    ("snn", StubModels.logistic("snn", 26), 26),
    ("kilonova", StubModels.forest("kilonova", 8), 8),
    ("superluminous", RefModels.superluminousXgb.map(m => new Scorer {
      def score(x: Array[Double]): Double = m.score(x)
    }).getOrElse(StubModels.forest("superluminous", 27)), 27))

  def models(seed: Long): (Seq[Metric], Double) = {
    val r = new java.util.SplittableRandom(seed + 99L)
    var sink = 0.0
    val ms = scorers.map { case (name, scorer, width) =>
      val xs = Array.fill(2000, width)(r.nextDouble() * 4.0 - 2.0)
      val (us, s) = perCallUs(xs.length)(i => scorer.score(xs(i)))
      sink += s
      (s"models.$name.score_us", us, "us")
    }
    (ms :+ (("models.stub_count", Provenance.standIns.toDouble, "count")), sink)
  }
}

/** Which bundled models the engine loaded and which fell back to its
  * documented stand-ins, plus the artifact directory in use. Runs that
  * used different models must not be compared.
  */
object Provenance {
  def entries: Seq[(String, Boolean)] = Seq(
    "alSnia" -> RefModels.alSnia.isDefined,
    "anomalyBeta" -> RefModels.anomalyBeta.isDefined,
    "snnSniaVsNonia" -> RefModels.snnSniaVsNonia.isDefined,
    "snnSnVsAll" -> RefModels.snnSnVsAll.isDefined,
    "kilonova" -> RefModels.kilonova.isDefined,
    "kilonovaPcs" -> RefModels.kilonovaPcs.isDefined,
    "mulensForest" -> RefModels.mulensForest.isDefined,
    "superluminousXgb" -> RefModels.superluminousXgb.isDefined)

  def standIns: Int = entries.count(!_._2)

  def json: Map[String, Any] = Map(
    "models_dir" -> RefModels.dir,
    "loaded" -> entries.filter(_._2).map(_._1),
    "stand_in" -> entries.filterNot(_._2).map(_._1),
    "rf_snia_scorer_is_stand_in" -> Scorer.isStandIn(Profile.scorers.head._2),
    "fingerprint" -> entries.map { case (k, l) => s"$k=${if (l) "loaded" else "stub"}" }
      .mkString(","))
}
