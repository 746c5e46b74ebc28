package graft
object Bench {
  def main(args: Array[String]): Unit = {
    // the sidecar is written only when a run completes: remove the
    // previous run's first, so a run that dies leaves none behind
    // rather than a stale result a reader would take for this run's
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get("bench_out.json"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    // repetitions per query; the reported per-query time is the MEDIAN,
    // which keeps round-over-round regressions attributable (an n=1
    // sample conflates engine changes with machine-load noise)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // optional comma-separated subset for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = LocalSession()
    // warm-up: touch every table once (IO path, parquet footers, codegen
    // of the row decoders) so the first timed query isn't charged for it
    Tables.names.foreach { n =>
      try Tables.t(spark, sfDir, n).count() catch { case _: Throwable => }
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // A query that throws must be VISIBLE, not timed as a ~60 ms no-op:
    // an environment break would otherwise masquerade as a speedup and
    // silently shrink the total. Failed queries are excluded from the
    // total and reported under "errors".
    val runs = selected.map { case (name, fn) =>
      val reps_ = (0 until reps).map { _ =>
        // queries that .cache() intermediates would otherwise hand reps
        // 2..n warm cached data via the CacheManager's plan-keyed lookup,
        // turning the median into a warm-cache number — evict first
        spark.sharedState.cacheManager.clearCache()
        // shuffle FILES outlive the query: they are freed only when the
        // ContextCleaner GCs the ShuffleDependency, so a multi-query
        // stress session accumulates every prior query's shuffle on
        // disk (SCALE_r14: sf100 d15+d19+d3 in one session filled 60 GB
        // and killed d3, which completes alone). Nudged ONLY on the
        // reps=1 stress protocol: the cleaner's concurrent file
        // deletion bleeds ~0.3 s into the next timed query, which is
        // noise against stress-scale numbers but a uniform +0.3 s/query
        // distortion of the multi-rep quiet blocks, whose oracle-scale
        // shuffles are too small to accumulate meaningfully anyway
        if (reps == 1) System.gc()
        val t0 = System.nanoTime()
        // Materialize EVERY column: count() lets Catalyst prune unreferenced
        // projections, which under-measures projection-heavy queries. toRdd
        // forces full row production through the whole plan.
        val err = try { fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()); None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(200))
        }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      name -> reps_
    }
    val ok = runs.collect { case (name, rs) if rs.forall(_._2.isEmpty) =>
      val times = rs.map(_._1).sorted
      name -> times(times.length / 2)
    }.toMap
    val errors = runs.collect { case (name, rs) if rs.exists(_._2.nonEmpty) =>
      name -> rs.flatMap(_._2).head
    }.toMap
    errors.foreach { case (n, e) => System.err.println(s"[bench] $n FAILED: $e") }
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    // ms rounding (r17 VERDICT #1): full-precision doubles pushed the
    // 97-query line to ~4 KB, which overflowed the driver's stdout tail
    // window; 1 ms resolution is far below host noise and halves the line
    def msFmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + msFmt(v) }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    // host-speed calibration (r15): quiet-block queries on untouched
    // code have shown ~40% cross-DAY medians drift on this shared-host
    // VM (d14/d16 at sf1: 10.2 -> 7.4 -> 10.4 s over three rounds, code
    // and inputs byte-identical) — a fixed CPU workload alongside each
    // block makes host-speed drift attributable instead of mysterious.
    // Single-thread and all-thread variants separate frequency from
    // contention; xorshift keeps the loop optimizer-proof.
    def spin(iters: Long): Long = {
      var x = 0x9e3779b97f4a7c15L; var i = 0L
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    // sink: each thread's spin() result is accumulated and folded into
    // the printed JSON, so the loop's work is observable and C2 cannot
    // dead-code-eliminate it (r15 ADVICE: a discarded result left the
    // calibration loop hollow-able, silently under-measuring host speed)
    val calibSink = new java.util.concurrent.atomic.AtomicLong(0L)
    def calib(threads: Int): Double = {
      val per = 400000000L / threads
      val t0 = System.nanoTime()
      val ts = (0 until threads).map(_ =>
        new Thread(() => { calibSink.addAndGet(spin(per)): Unit }))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    calibSink.addAndGet(spin(10000000L)) // JIT warm-up
    val calibSt = calib(1)
    val calibMt = calib(cpus.toInt)
    // Locale.ROOT: the f-interpolator formats with the JVM default
    // locale, which on comma-decimal locales would emit invalid JSON
    val calibJson = String.format(java.util.Locale.ROOT,
      """{"st_ms":%.1f,"mt_ms":%.1f,"sink":%d}""",
      Double.box(calibSt), Double.box(calibMt),
      Long.box(calibSink.get()))
    val line = s"""{"metric":"total","value":${msFmt(total)},"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir","reps":$reps,"calib":$calibJson}"""
    println(line)
    // Driver-parseable result contract (r17 VERDICT #1): the one-line
    // JSON above is not the last stdout line (sbt's [success] banner
    // follows) and overflowed the driver's tail capture two rounds
    // running (BENCH_r16/r17 both rc:0 yet parsed:null, so PERF came
    // back empty). Additions only: write the identical line to a
    // sidecar file AND re-print it after spark.stop() so it is the
    // final application output. Comparisons with old rounds stay valid
    // — same queries, same timing, same schema.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
    spark.stop()
    println(line)
  }
}
