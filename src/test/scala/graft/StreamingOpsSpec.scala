package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.StreamingOps

/** Native streaming operators: stream results must equal their batch
  * twins on the events table replayed as a multi-file stream (so the
  * stateful path crosses micro-batch boundaries).
  */
class StreamingOpsSpec extends SparkSpec {

  private lazy val streamDir = {
    // replay source: several time-ordered files -> several AvailableNow
    // micro-batches arriving roughly in event-time order (a random file
    // split would make whole batches late and the watermark would drop
    // them — correct semantics, but not the equality under test)
    val dir = java.nio.file.Files.createTempDirectory("events-stream").toString
    Tables.t(spark, sf, "events")
      .repartitionByRange(4, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    // FileStreamSource replays in MODIFICATION-TIME order, and the four
    // part files land with near-identical mtimes — ties let each source
    // instance list them in a different (even ts-DESCENDING) order, so
    // a whole early file can arrive after the watermark passed it and
    // be dropped wholesale (observed: an interval-join side reading
    // file 3 first drops file 0-2's matches). Stamp strictly
    // increasing mtimes in range order (part file names follow the
    // range partition order) so every replay is the event-time order
    // this fixture promises.
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.setLastModifiedTime(f.toPath,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    dir
  }

  test("watermarked windowed counts: stream equals batch on replay") {
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val windowed = StreamingOps.windowedCounts(stream, "ts", "event_type")
    val q = windowed.writeStream
      .format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)

    // Append mode only emits windows the watermark has closed; the last
    // windows stay open at end-of-stream, so compare the emitted subset
    val got = spark.table("win_counts")
      .select("window_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    val batch = StreamingOps.windowedCountsBatch(
      spark.read.parquet(streamDir), "ts", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got.nonEmpty, "no windows closed — watermark never advanced")
    assert(got.subsetOf(batch), "stream emitted a window batch mode disagrees with")
    // everything but the tail beyond the watermark must have been emitted
    assert(got.size >= batch.size / 2, s"only ${got.size} of ${batch.size} windows emitted")
  }

  test("streaming ingest dedup: first sighting emitted, later copies suppressed across batches") {
    import graft.text.TextOps
    // corpus + an exact copy of every document under higher ids, staged
    // as four stream files with ascending modification times (the file
    // source replays oldest-first) so every copy arrives in a LATER
    // micro-batch than its original and suppression must cross batch
    // boundaries
    val original = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    val copies = original.select((col("doc_id") + 100000L).as("doc_id"), col("fp"))
    val slices = Seq(
      original.filter(col("doc_id") % 2 === 0),
      original.filter(col("doc_id") % 2 === 1),
      copies.filter(col("doc_id") % 2 === 0),
      copies.filter(col("doc_id") % 2 === 1))
    val dir = java.nio.file.Files.createTempDirectory("docs-stream").toString
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"docs-slice$i").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, f"$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingOps.streamingDedup(spark, stream.toDF())
      .writeStream
      .format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)

    val got = spark.table("dedup_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = StreamingOps.streamingDedupBatch(spark.read.parquet(dir))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val nDistinct = original.select("fp").distinct().count()
    assert(got.size.toLong === nDistinct, "one emission per distinct fingerprint")
    assert(got === batch, "stream emissions must equal the batch twin")
    assert(!got.exists(_._1 >= 100000L),
      "a later copy leaked through — state did not survive the batch boundary")
  }

  test("ingest-dedup TTL: an expired fingerprint's duplicate re-admits") {
    import spark.implicits._
    // three single-row files replayed as three micro-batches:
    //   batch 0: fp A (doc 1)      -> emitted, 1 ms TTL armed
    //   batch 1: fp B (doc 2)      -> A has no sighting and its TTL
    //                                 passed -> A's state evicted
    //   batch 2: fp A again (doc 3) -> no state -> RE-ADMITTED
    // without the TTL doc 3 is suppressed (previous test pins that)
    val slices = Seq(
      Seq((1L, "A")), Seq((2L, "B")), Seq((3L, "A")))
    val dir = java.nio.file.Files.createTempDirectory("docs-ttl").toString
    slices.zipWithIndex.foreach { case (rows, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"ttl-slice$i").toString
      rows.toDF("doc_id", "fp").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, f"$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingOps.streamingDedup(spark, stream.toDF(),
      ttl = Some("1 millisecond"))
      .writeStream
      .format("memory").queryName("dedup_ttl")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    // a query with processing-time timeouts keeps scheduling batches to
    // fire future expirations, so AvailableNow never self-terminates
    // here — poll for the expected emissions, then stop explicitly
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (spark.table("dedup_ttl").count() < 3 &&
        System.nanoTime() < deadline && q.isActive)
      Thread.sleep(200)
    q.stop()
    q.awaitTermination(60000)
    val got = spark.table("dedup_ttl").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "A"), (2L, "B"), (3L, "A")),
      "expired fingerprint did not re-admit (or TTL evicted too eagerly)")
  }

  private def writeSlices(slices: Seq[org.apache.spark.sql.DataFrame],
      prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"$prefix-s$i").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, f"$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    dir
  }

  test("streaming near-dup assignment equals batch simhashAssign on in-order batches") {
    import graft.dedup.Dedup
    val docs = Tables.t(spark, sf, "documents")
    val sim = Dedup.simhash(docs, "doc_id", "text").cache()
    try {
      // four ascending doc_id ranges -> every batch's ids exceed all
      // earlier batches' (the in-order contract under which first-seen
      // representative == the batch operator's min-id representative)
      val ids = sim.select("doc_id").collect().map(_.getLong(0)).sorted
      val cuts = Seq(ids(ids.length / 4), ids(ids.length / 2),
        ids(3 * ids.length / 4))
      val slices = Seq(
        sim.filter(col("doc_id") < cuts(0)),
        sim.filter(col("doc_id") >= cuts(0) && col("doc_id") < cuts(1)),
        sim.filter(col("doc_id") >= cuts(1) && col("doc_id") < cuts(2)),
        sim.filter(col("doc_id") >= cuts(2)))
      val dir = writeSlices(slices, "neardup-stream")
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val q = StreamingOps.streamingNearDupAssign(spark, stream.toDF(),
        maxHamming = 4)
        .writeStream
        .format("memory").queryName("neardup_stream")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      val got = StreamingOps.nearDupAssignReduce(spark.table("neardup_stream"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Dedup.simhashAssign(sim, "doc_id", maxHamming = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty, "corpus produced no near-dup assignments to compare")
      assert(got === batch,
        "streamed near-dup assignments must equal the batch twin on in-order replay")
    } finally sim.unpersist()
  }

  test("streaming corpus ingest equals the composed batch front-half on in-order batches") {
    import graft.dedup.Dedup
    import graft.text.TextOps
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    // four ascending doc_id ranges (the in-order contract)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 4), ids(ids.length / 2),
      ids(3 * ids.length / 4))
    val slices = Seq(
      docs.filter(col("doc_id") < cuts(0)),
      docs.filter(col("doc_id") >= cuts(0) && col("doc_id") < cuts(1)),
      docs.filter(col("doc_id") >= cuts(1) && col("doc_id") < cuts(2)),
      docs.filter(col("doc_id") >= cuts(2)))
    val dir = writeSlices(slices, "ingest-stream")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // the synthetic corpus has no sentence-final punctuation (see p1)
    val q = StreamingOps.streamingCorpusIngest(spark, stream.toDF(),
      "doc_id", "text", maxHamming = 4, requireTerminal = false)
      .writeStream
      .format("memory").queryName("ingest_stream")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    val got = StreamingOps.nearDupAssignReduce(spark.table("ingest_stream"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch twin: quality filter -> min-id-per-fingerprint admission ->
    // batch near-dup assignment over the admitted docs
    val (keep, _) = TextOps.qualityFilter(col("text"), requireTerminal = false)
    val kept = docs.filter(keep)
    val fp = Dedup.simhash(kept, "doc_id", "text", carryCols = Seq("text"))
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"),
        col("simhash"))
    val admitted = StreamingOps.streamingDedupBatch(fp)
    val batch = Dedup.simhashAssign(
      admitted.select(col("doc_id"), col("simhash")), "doc_id", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "corpus produced no near-dup assignments to compare")
    assert(got === batch,
      "the chained two-stage ingest must equal the composed batch front-half")
  }

  test("near-dup TTL: an expired bucket's next doc re-admits as representative") {
    import spark.implicits._
    // two docs with IDENTICAL simhash (0) in batches 0 and 2; batch 1
    // only touches other buckets (both 30-bit bands of its signature
    // are nonzero at maxHamming=1). Without TTL doc 3 must be assigned
    // to doc 1; with a 1 ms TTL the bucket state expires between the
    // batches and doc 3 must be re-admitted as a fresh representative
    // (no emission at all).
    val other = (1L << 59) - 1L
    val slices = Seq(Seq((1L, 0L)), Seq((2L, other)), Seq((3L, 0L)))
      .map(_.toDF("doc_id", "simhash"))
    def run(ttl: Option[String], name: String): Set[(Long, Long, Long)] = {
      val dir = writeSlices(slices, s"neardup-ttl-$name")
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val q = StreamingOps.streamingNearDupAssign(spark, stream.toDF(),
        maxHamming = 1, ttl = ttl)
        .writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      if (ttl.isDefined) {
        // processing-time timeouts keep AvailableNow scheduling batches
        // indefinitely — poll until all 3 input rows are through, then
        // stop explicitly (same protocol as the ingest-dedup TTL spec)
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        def consumed = q.recentProgress
          .flatMap(_.sources.map(_.numInputRows)).sum
        while (consumed < 3 && System.nanoTime() < deadline && q.isActive)
          Thread.sleep(200)
        Thread.sleep(500) // let the final batch's emissions commit
        q.stop()
        q.awaitTermination(60000)
      } else q.awaitTermination(300000)
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val without = run(None, "neardup_nottl")
    assert(without === Set((3L, 1L, 0L)),
      "without TTL the identical later doc must assign to the first")
    val withTtl = run(Some("1 millisecond"), "neardup_ttl")
    assert(withTtl === Set.empty[(Long, Long, Long)],
      "expired bucket state must not capture the re-admitted doc")
  }

  test("checkpoint restart: envelope state survives a stop/start across builds' state shape") {
    import graft.text.TextOps
    // query 1 processes the originals against a checkpoint, STOPS;
    // query 2 restarts from the same checkpoint and processes exact
    // copies under higher ids. If the binary-envelope state restored,
    // every copy is suppressed; if state were lost (or the schema
    // check rejected the restore), copies would re-emit.
    val original = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    val copies = original.select((col("doc_id") + 100000L).as("doc_id"), col("fp"))
    val srcDir = java.nio.file.Files.createTempDirectory("restart-src").toString
    val outDir = java.nio.file.Files.createTempDirectory("restart-out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("restart-ck").toString
    def addSlice(df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"restart-s$i").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, f"$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    addSlice(original, 0)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Long = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = StreamingOps.streamingDedup(spark, stream.toDF())
        .writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      q.recentProgress.flatMap(_.sources.map(_.numInputRows)).sum
    }
    runOnce() // query 1: originals
    addSlice(copies, 1)
    val consumed2 = runOnce() // query 2: restart, copies arrive
    assert(consumed2 > 0L,
      "restarted query consumed nothing — the restart never saw the copies")
    val emitted = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val nDistinct = original.select("fp").distinct().count()
    assert(emitted.size.toLong === nDistinct,
      "emission count changed across restart — state not restored")
    assert(!emitted.exists(_._1 >= 100000L),
      "a copy re-emitted after restart — envelope state did not restore from the checkpoint")
  }

  /** Stage rows as single-file micro-batches in an EXPLICIT order. */
  private def writeOrdered(slices: Seq[Seq[(Long, String, Long)]],
      prefix: String): String = {
    import spark.implicits._
    writeSlices(slices.map(_.toDF("doc_id", "fp", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")), prefix)
  }

  test("event-time dedup: two different replay orders yield the same emissions = batch twin") {
    val t0 = 1700000000000L
    // fp A: the event-time winner (doc 10, t0+10s) has the LARGER id and
    //   arrives AFTER doc 5 in order 1 — id order and arrival order both
    //   disagree with event time, so only event-time logic passes.
    // fp B: tied timestamps -> doc_id breaks the tie (20 beats 21).
    // fp C: singleton.
    // FLUSH: far-future row advancing the watermark past every real ts
    //   (its own fp stays pending and is excluded from the compare).
    val rows = Map(
      "a1" -> (10L, "A", t0 + 10000L), "a2" -> (5L, "A", t0 + 20000L),
      "b1" -> (20L, "B", t0 + 30000L), "b2" -> (21L, "B", t0 + 30000L),
      "c1" -> (30L, "C", t0 + 5000L),
      "fl" -> (999L, "FLUSH", t0 + 7200000L))
    val order1 = Seq(Seq("a2", "b2"), Seq("a1", "c1"), Seq("b1"), Seq("fl"))
    val order2 = Seq(Seq("b1"), Seq("c1", "a1"), Seq("a2", "b2"), Seq("fl"))
    def run(order: Seq[Seq[String]], name: String): Set[(Long, String, Long)] = {
      val dir = writeOrdered(order.map(_.map(rows)), s"evt-$name")
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      // 1 hour watermark delay >> the 30 s disorder: nothing is late,
      // so determinism must be EXACT
      val q = StreamingOps.streamingDedupEventTime(spark, stream.toDF(),
        "ts", watermark = "1 hour")
        .writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .filter(_._2 != "FLUSH").toSet
    }
    val got1 = run(order1, "evt_order1")
    val got2 = run(order2, "evt_order2")
    import spark.implicits._
    val batch = StreamingOps.streamingDedupEventTimeBatch(
      rows.values.toSeq.filter(_._2 != "FLUSH")
        .toDF("doc_id", "fp", "ms")
        .withColumn("ts", timestamp_millis(col("ms"))).drop("ms"), "ts")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(batch === Set((10L, "A", t0 + 10000L), (20L, "B", t0 + 30000L),
      (30L, "C", t0 + 5000L)), "batch twin definition drifted")
    assert(got1 === batch, "order-1 replay diverged from the batch twin")
    assert(got2 === batch, "order-2 replay diverged from the batch twin")
  }

  test("event-time corpus ingest: admissions are replay-deterministic and equal the batch twin") {
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
      .withColumn("ts",
        timestamp_millis(lit(1700000000000L) + (col("doc_id") % 7) * 60000L))
    // the flush sentinel reuses a real kept doc's text (passes the same
    // quality filter) with a far-future ts: it advances the watermark
    // past every real timestamp, and as the LATEST copy of its
    // fingerprint it can never displace the real winner
    val (keepProbe, _) = graft.text.TextOps.qualityFilter(col("text"),
      requireTerminal = false)
    val keptText = docs.filter(keepProbe).orderBy("doc_id")
      .select("text").head().getString(0)
    import spark.implicits._
    val flush = Seq((999999L, keptText))
      .toDF("doc_id", "text")
      .withColumn("ts", timestamp_millis(lit(1700000000000L + 86400000L)))
    // flush stays LAST in every ordering: it is the row that advances
    // the watermark past the data, so a batch after it would arrive
    // behind a frozen watermark and never flush its own fingerprints
    def slicesBy(mod: Int, rev: Boolean): Seq[org.apache.spark.sql.DataFrame] = {
      val data = (0 until mod).map(i => docs.filter(col("doc_id") % mod === i))
      (if (rev) data.reverse else data) :+ flush
    }
    def run(slices: Seq[org.apache.spark.sql.DataFrame], name: String)
        : Set[(Long, String)] = {
      val dir = writeSlices(slices, s"evtcorpus-$name")
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val q = StreamingOps.streamingCorpusIngestEventTime(spark,
        stream.toDF(), "doc_id", "text", "ts", watermark = "2 hours",
        requireTerminal = false)
        .writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .filter(_._1 != 999999L).toSet
    }
    val got1 = run(slicesBy(3, rev = false), "evtcorpus_a")
    val got2 = run(slicesBy(4, rev = true), "evtcorpus_b")
    val batch = StreamingOps.streamingCorpusIngestEventTimeBatch(
      docs, "doc_id", "text", "ts", requireTerminal = false)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batch.nonEmpty, "no documents admitted — quality filter ate the corpus")
    assert(got1 === batch, "slicing-A replay diverged from the batch twin")
    assert(got2 === batch, "slicing-B (reversed) replay diverged from the batch twin")
  }

  test("session windows: stream emits a subset of batch; batch equals lag sessionization") {
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val q = StreamingOps.sessionCounts(stream, "ts", "user_id")
      .writeStream.format("memory").queryName("sess_counts")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))
    val got = spark.table("sess_counts").collect().map(keyOf).toSet
    val batchDf = StreamingOps.sessionCountsBatch(
      spark.read.parquet(streamDir), "ts", "user_id")
    val batch = batchDf.collect().map(keyOf).toSet
    assert(got.nonEmpty, "no sessions closed — watermark never advanced")
    assert(got.subsetOf(batch),
      "stream emitted a session batch mode disagrees with")

    // cross-implementation: native session_window session COUNTS per
    // user equal the q16-style lag sessionization under the
    // session_window convention (gap >= 1800 s breaks — exclusive end)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    val lagged = spark.read.parquet(streamDir)
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("ts_s"))
      .withColumn("gap", col("ts_s") - lag(col("ts_s"), 1).over(w))
      .withColumn("new_session",
        when(col("gap").isNull || col("gap") >= 1800L, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = batchDf.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === lagged,
      "native session_window must sessionize like the lag formulation")
  }

  test("stream-stream interval join: final emissions equal the batch twin") {
    val schema = spark.read.parquet(streamDir).schema
    def side() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val clicks = side().filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = side().filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user_id"),
        col("ts").as("pts"), col("value").as("p_value"))
    val joined = StreamingOps.streamStreamIntervalJoin(
      clicks, "ts", purchases, "pts", ("user_id", "p_user_id"))
    val q = joined.select("event_id", "p_event_id")
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    val got = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val all = spark.read.parquet(streamDir)
    val bl = all.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val br = all.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user_id"),
        col("ts").as("pts"), col("value").as("p_value"))
    val batch = StreamingOps.streamStreamIntervalJoinBatch(
      bl, "ts", br, "pts", ("user_id", "p_user_id"))
      .select("event_id", "p_event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture should produce click-purchase matches")
    assert(got === batch,
      "inner stream-stream join must emit exactly the batch match set")
  }

  test("streaming decontamination: per-batch reports union to the batch d7/d12 report") {
    val docs = Tables.t(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("decon-stream").toString
    corpus.repartition(3).write.mode("overwrite").parquet(dir)

    val module = StreamingOps.streamingDecontaminateModule(
      bench, "doc_id", "text", n = 4)
    val outputs = new ConcurrentLinkedQueue[Array[org.apache.spark.sql.Row]]()
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // the module reports per batch (a join and an aggregation), so it
    // runs inside the query's own foreachBatch, not as a stream module
    val q = stream.writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        outputs.add(module(batch).collect()); ()
      }
      .start()
    q.awaitTermination(300000)

    val got = outputs.toArray(Array.empty[Array[org.apache.spark.sql.Row]])
      .flatten.map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val exact = graft.text.Decontaminate.flags(docs, "doc_id", "text",
      col("doc_id") % 97 === 0, 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(outputs.size() >= 2, "expected several micro-batches")
    assert(got === exact,
      "stateless per-batch reports must union to the batch report")
    assert(exact.values.exists(_._3), "fixture should contain contamination")
  }

  test("mapGroupsWithState running stats: final state equals batch aggregate") {
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val q = StreamingOps.runningUserStats(spark, stream)
      .toDF("user_id", "n", "max_value")
      .writeStream
      .format("memory").queryName("user_stats")
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)

    // updates arrive once per (batch, user); the LAST update per user is
    // the final state
    val updates = spark.table("user_stats").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(updates.length > updates.map(_._1).distinct.length,
      "state never crossed a micro-batch boundary (single batch?)")
    val finalPerUser = updates.groupBy(_._1).map { case (u, us) =>
      u -> us.maxBy(_._2) } // highest running count = latest
    val batch = Tables.t(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"), max("value").as("mx"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(finalPerUser.size === batch.size)
    finalPerUser.foreach { case (u, (_, n, mx)) =>
      assert(n === batch(u)._1, s"user $u count")
      assert(mx === batch(u)._2, s"user $u max")
    }
  }
}
