package alertbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  * }}}
  *
  * Writes one JSON object to `--out`: `correct`, `attempted`, `failed`,
  * `metrics` (end-to-end metrics untraced, per-layer metrics traced) and
  * `diagnostics` (host calibration, model provenance, digests, tail
  * latency).
  */
object Main {

  /** Set-up repetitions of an untraced run; set-up time is their median. */
  val SetupReps = 3

  /** `local[k]` parallelism: three cores, and always one fewer than the
    * host has, so the driver's planning thread, the JIT compiler and the
    * garbage collector do not take their time from tasks.
    */
  def cores(nproc: Int): Int = math.max(1, math.min(3, nproc - 1))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = Main.cores(Runtime.getRuntime.availableProcessors)

    val diag = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "calib" -> Calib.run(cores), "models" -> Provenance.json)
    val result =
      if (traced) tracedRun(workload, seed, seconds, cores, work, diag)
      else untracedRun(workload, seed, seconds, cores, work, diag)
    val json = Json.render(result + ("diagnostics" -> diag))
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("alertbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the stream loop hands a batch over as soon as the previous one
      // commits; poll for it every 1 ms instead of the default 10 ms
      .config("spark.sql.streaming.pollingDelay", "1ms")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Correct when no op or check of the run failed and every timed
    * window completed at least one op.
    */
  private def outcome(all: Seq[Tally], windows: Seq[Tally],
      metrics: scala.collection.Map[String, Any]): Map[String, Any] =
    Map("correct" -> (all.forall(_.failed == 0) && windows.forall(_.samples.nonEmpty)),
      "attempted" -> all.map(_.attempted).sum,
      "failed" -> all.map(_.failed).sum,
      "metrics" -> metrics)

  private def windowDiag(t: Tally): Map[String, Any] = Map(
    "ops" -> t.samples.length,
    "latencies_ms" -> t.latenciesMs,
    "tail" -> Stats.tail(t.latenciesMs).map { case (p, v) => Map("percentile" -> p, "ms" -> v) }.orNull)

  def untracedRun(name: String, seed: Long, seconds: Double, cores: Int, work: String,
      diag: mutable.Map[String, Any]): Map[String, Any] = {
    val spark = session(cores, work)
    val w = Workload(name, Ctx(spark, seed, cores, work, Spans.inert))
    try {
      val setups = (0 until SetupReps).map(_ => Harness.timed(w.setup())._1 / 1e9)
      val warm = new Tally
      w.validate(warm)
      val win = new Tally
      Harness.window(win, seconds)(w.op)
      diag ++= w.diagnostics ++ Map("setup_s" -> setups, "window" -> windowDiag(win))
      outcome(Seq(warm, win), Seq(win), Map(
        "setup_s" -> metric(Stats.median(setups), "s"),
        "items_per_s" -> metric(win.itemsPerS, "1/s"),
        "latency_p50_ms" -> metric(Stats.median(win.latenciesMs), "ms"),
        "peak_rss_mb" -> metric(peakRssMb(), "MB")))
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** The traced run. After set-up and validation it runs the layer
    * sweeps (which also finish warming the JVM up), then one window in
    * which traced and untraced ops alternate — spans on and listeners
    * registered for the traced ones only — so the two halves see the
    * same warm-up state and their ratio is the tracing overhead. Last,
    * the same workload on `local[1]`.
    */
  def tracedRun(name: String, seed: Long, seconds: Double, cores: Int, work: String,
      diag: mutable.Map[String, Any]): Map[String, Any] = {
    val metrics = mutable.LinkedHashMap.empty[String, Any]
    def put(ms: Seq[Profile.Metric]): Unit =
      ms.foreach { case (k, v, u) => metrics(k) = metric(v, u) }
    val spark = session(cores, work)
    val spans = new Spans
    val ctx = Ctx(spark, seed, cores, work, spans)
    val w = Workload(name, ctx)
    val warm = new Tally
    val plain = new Tally
    val traced = new Tally
    val listeners = new Listeners(spark)
    try {
      w.setup()
      w.validate(warm)
      // layer sweeps, each counted as a checked op of the run
      def sweep(label: String)(body: => Unit): Unit =
        Harness.attempt(warm, label) { body; Sample(0L, 0L) }
      sweep("alert layers") {
        val batch = w match {
          case b: AlertBatch => b
          case _ => val b = new AlertBatch(ctx); b.setup(); b
        }
        try {
          val (ms, d) = Profile.alerts(ctx, batch)
          put(ms)
          diag ++= d
        } finally if (batch ne w) batch.close()
      }
      sweep("stream layers") {
        w match {
          case s: AlertStream => put(Profile.avroDecode(s))
          case _ =>
            // a stream's first pass supplies the progress reports
            val s = new AlertStream(ctx)
            val own = new Listeners(spark)
            try {
              s.setup()
              own.register()
              s.validate(warm)
              own.unregister()
              put(own.streaming() ++ Profile.avroDecode(s))
            } finally s.close()
        }
      }
      sweep("corpus layers") {
        w match {
          case c: CorpusWorkload => put(Profile.corpus(ctx, c, Some(Digest.of(c.build()))))
          case _ =>
            val c = new CorpusWorkload(ctx)
            try { c.setup(); put(Profile.corpus(ctx, c, None)) } finally c.close()
        }
      }
      val (km, ks) = Profile.kernels(seed)
      val (mm, ms) = Profile.models(seed)
      put(km ++ mm)
      diag("kernel_sink") = ks + ms

      spans.reset()
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var k = 0
      while (System.nanoTime() < end) {
        val t = if (k % 2 == 1) traced else plain
        val t0 = System.nanoTime()
        Harness.attempt(t, s"op $k") {
          if (t eq plain) w.op(k)
          else {
            listeners.register()
            spans.on = true
            try w.op(k) finally { spans.on = false; listeners.unregister() }
          }
        }.foreach(t.samples += _)
        t.wallNs += System.nanoTime() - t0
        k += 1
      }
      val ops = math.max(1, traced.samples.length).toDouble
      val spanMs = spans.snapshot
      def phase(p: String): Double = spanMs.get(s"spark.$p").map(_._2).getOrElse(0.0) / ops
      put(Seq(("spark.analysis_ms", phase("analysis"), "ms"),
        ("spark.optimizer_ms", phase("optimization"), "ms"),
        ("spark.planning_ms", phase("planning"), "ms")) ++
        listeners.perOp(traced.samples.length))
      if (w.isInstanceOf[AlertStream]) put(listeners.streaming())
      metrics("trace.overhead_ratio") = metric(
        Stats.median(traced.latenciesMs) / Stats.median(plain.latenciesMs), "ratio")
      diag ++= w.diagnostics ++ Map("spans_ms_per_op" -> spanMs.map {
        case (k, (c, ms)) => k -> Map("calls" -> c, "ms_per_op" -> ms / ops)
      }, "window" -> windowDiag(traced), "untraced_window" -> windowDiag(plain))
    } finally {
      w.close()
      spark.stop()
    }

    // the same workload single-threaded, in a fresh local[1] session
    val one = session(1, work)
    val w1 = Workload(name, Ctx(one, seed, 1, work, Spans.inert))
    val base = new Tally
    try {
      w1.setup()
      w1.validate(warm)
      Harness.window(base, seconds / 2)(w1.op)
    } finally {
      w1.close()
      one.stop()
    }
    metrics("baseline.local1_items_per_s") = metric(base.itemsPerS, "1/s")
    metrics("baseline.scaling") = metric(plain.itemsPerS / base.itemsPerS, "ratio")
    outcome(Seq(warm, plain, traced, base), Seq(plain, traced, base), metrics)
  }
}

/** Host spin calibration, recorded in every run so that host-speed
  * drift between runs can be told apart from engine changes: a fixed
  * xorshift loop on one thread and split across all threads.
  */
object Calib {
  private def spin(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def run(threads: Int, iters: Long = 100000000L): Map[String, Any] = {
    val sink = new java.util.concurrent.atomic.AtomicLong(spin(1000000L))
    def time(n: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until n).map(_ => new Thread(() => { sink.addAndGet(spin(iters / n)); () }))
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    Map("iters" -> iters, "st_ms" -> time(1), "mt_ms" -> time(threads), "sink" -> sink.get)
  }
}
