package alertbench

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{AvroReader, AvroWriter}
import graft.streaming.AlertPipeline
import graft.text.CorpusBuild

/** Input sizes, fixed for every seed so that seeds change values but
  * not the amount of work.
  */
object Sizes {
  val BatchAlerts = 2000 // one alert_batch op
  val StreamBatch = 100 // alerts per micro-batch
  val StreamBatches = 4 // micro-batches per stream pass
  val CatalogRows = 20000 // random crossmatch sources (plus counterparts)
  val Docs = 2500 // one corpus_build op
  val BenchDocs = 150 // decontamination benchmark set
}

/** What every run shares: the session, seed, parallelism, a scratch
  * directory inside the checkout, and the span recorder (inert unless
  * the traced run switches it on).
  */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int, work: String, spans: Spans)

trait Workload {
  /** Generates and stages the inputs; runs several times per run. */
  def setup(): Unit
  /** Untimed warm-up ops that establish the expected digest and
    * cross-check it against an independent path.
    */
  def validate(t: Tally): Unit
  /** One timed op; throws [[Mismatch]] when its digest is wrong. */
  def op(k: Int): Sample
  def close(): Unit
  def diagnostics: Map[String, Any]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "alert_batch" => new AlertBatch(ctx)
    case "alert_stream" => new AlertStream(ctx)
    case "corpus_build" => new CorpusWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def check(what: String, expected: Option[Digest], got: Digest): Unit =
    expected match {
      case Some(e) if e == got =>
      case Some(e) => throw new Mismatch(s"$what: digest $got, expected $e")
      case None => throw new Mismatch(s"$what: no reference digest to compare with")
    }
}

/** The seeded alert table and the catalogs the DAG matches against;
  * alert_batch and alert_stream build exactly the same ones from the
  * same seed.
  */
final class AlertInputs(ctx: Ctx) {
  import ctx.spark
  val rows: Array[Row] = Gen.alerts(ctx.seed, Sizes.BatchAlerts)
  val catalog: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Gen.xmatchCatalog(ctx.seed, rows, Sizes.CatalogRows), 1),
    Gen.catalogSchema).cache()
  val blazars: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Gen.blazarCatalog(ctx.seed, rows), 1),
    Gen.blazarSchema).cache()
  catalog.count()
  blazars.count()
  val dag = new Dag(spark, catalog, blazars, ctx.spans)

  def frame(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, ctx.cores), Gen.alertSchema)

  def close(): Unit = { catalog.unpersist(); blazars.unpersist() }
}

/** Archive reprocessing: scan the Parquet slice, run the whole DAG,
  * reduce to a digest.
  */
final class AlertBatch(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "alert_batch"
  val itemsPerOp: Int = Sizes.BatchAlerts
  private val path = s"${ctx.work}/alerts.parquet"
  private var in: AlertInputs = _
  private var expected: Option[Digest] = None

  def inputs: AlertInputs = in

  def setup(): Unit = {
    if (in != null) in.close()
    in = new AlertInputs(ctx)
    in.frame(in.rows.toSeq).write.mode("overwrite").parquet(path)
  }

  def scan(): DataFrame =
    ctx.spans("sources.parquet_scan")(spark.read.schema(Gen.alertSchema).parquet(path))

  def validate(t: Tally): Unit = {
    Harness.attempt(t, "in-memory reference") {
      val (ns, d) = Harness.timed(Digest.of(in.dag.enrich(in.frame(in.rows.toSeq)), ctx.spans))
      expected = Some(d)
      Sample(ns, itemsPerOp)
    }
    Harness.attempt(t, "parquet warm-up")(op(-1))
  }

  def op(k: Int): Sample = {
    val (ns, d) = Harness.timed(Digest.of(in.dag.enrich(scan()), ctx.spans))
    Workload.check(s"$name op $k", expected, d)
    Sample(ns, itemsPerOp)
  }

  def close(): Unit = if (in != null) in.close()

  def diagnostics: Map[String, Any] = Map("digest" -> expected.map(_.toString).orNull)
}

/** The live path: Avro-encoded micro-batches of alerts decoded and fed
  * through an in-memory stream source into the DAG's foreachBatch sink.
  */
final class AlertStream(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "alert_stream"
  val itemsPerOp: Int = Sizes.StreamBatch
  private var in: AlertInputs = _
  private var containers: Array[Array[Byte]] = Array.empty
  private var expectedPass: Option[Digest] = None
  private val perBatch = Array.fill[Option[Digest]](Sizes.StreamBatches)(None)
  private var passes = 0
  private var query: StreamingQuery = _
  private var source: MemoryStream[Row] = _
  // (sink completion time, batch digest) from the stream thread
  private val done = new LinkedBlockingQueue[Either[Throwable, (Long, Digest)]]()

  def containerBytes: Array[Array[Byte]] = containers

  def setup(): Unit = {
    if (in != null) in.close()
    in = new AlertInputs(ctx)
    val schema = AvroWriter.schemaFor(Gen.alertSchema)
    containers = in.rows.take(Sizes.StreamBatch * Sizes.StreamBatches)
      .grouped(Sizes.StreamBatch).map { rs =>
        val f = java.io.File.createTempFile("batch", ".avro", new java.io.File(ctx.work))
        try {
          AvroWriter.write(f.getPath, schema, rs.iterator, codec = "null")
          java.nio.file.Files.readAllBytes(f.toPath)
        } finally f.delete()
      }.toArray
  }

  private def start(): Unit = {
    source = MemoryStream[Row](spark, ctx.cores)(Encoders.row(Gen.alertSchema))
    val sink = (batch: DataFrame, _: Long) =>
      done.put(
        try { val d = Digest.of(batch, ctx.spans); Right((System.nanoTime(), d)) }
        catch { case e: Throwable => Left(e) })
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(ctx.work), "stream-ckpt").toString
    query = AlertPipeline.streamingWriter(source.toDF(), in.dag.enrich, sink,
        Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt)
      .start()
  }

  def validate(t: Tally): Unit = {
    Harness.attempt(t, "batch-path reference") {
      val rows = in.rows.take(Sizes.StreamBatch * Sizes.StreamBatches).toSeq
      val (ns, d) = Harness.timed(Digest.of(in.dag.enrich(in.frame(rows)), ctx.spans))
      expectedPass = Some(d)
      Sample(ns, rows.length)
    }
    start()
    // the first pass warms the stream path up and must reproduce the
    // batch path's digest over the same alerts
    (0 until Sizes.StreamBatches).foreach(b => Harness.attempt(t, s"warm-up batch $b")(op(b)))
  }

  def op(k: Int): Sample = {
    val b = math.floorMod(k, Sizes.StreamBatches)
    val t0 = System.nanoTime()
    val rows = ctx.spans("sources.avro_decode")(
      AvroReader.container(containers(b)).rows.toVector)
    source.addData(rows)
    var r: Either[Throwable, (Long, Digest)] = null
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (r == null) {
      r = done.poll(200, TimeUnit.MILLISECONDS)
      if (r == null && (!query.isActive || System.nanoTime() > deadline))
        throw new IllegalStateException(s"stream stopped or stalled: ${query.exception}")
    }
    val (end, d) = r.fold(e => throw e, identity)
    // the next hand-off waits until this batch is committed
    query.processAllAvailable()
    if (perBatch(b).isEmpty) perBatch(b) = Some(d)
    else Workload.check(s"$name batch $b", perBatch(b), d)
    if (b == Sizes.StreamBatches - 1) {
      passes += 1
      Workload.check(s"$name pass $passes vs batch path", expectedPass,
        perBatch.map(_.getOrElse(Digest.zero)).reduce(_ + _))
    }
    Sample(end - t0, rows.length)
  }

  def close(): Unit = {
    if (query != null) { query.stop(); query = null }
    if (in != null) in.close()
  }

  def diagnostics: Map[String, Any] = Map(
    "digest" -> expectedPass.map(_.toString).orNull, "passes_checked" -> passes)
}

/** Corpus construction: one CorpusBuild.build over the cached corpus. */
final class CorpusWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "corpus_build"
  val itemsPerOp: Int = Sizes.Docs
  private var docs: DataFrame = _
  private var bench: DataFrame = _
  private var expected: Option[Digest] = None

  def setup(): Unit = {
    close()
    val (d, b) = Gen.corpus(ctx.seed, Sizes.Docs, Sizes.BenchDocs)
    docs = spark.createDataFrame(spark.sparkContext.parallelize(d.toSeq, ctx.cores),
      Gen.docSchema).cache()
    bench = spark.createDataFrame(spark.sparkContext.parallelize(b.toSeq, 1),
      Gen.docSchema).cache()
    docs.count()
    bench.count()
  }

  def build(): DataFrame = ctx.spans("text.corpus_build")(
    CorpusBuild.build(docs, bench, "doc_id", "text", "source"))

  /** The same chain stage by stage, each stage materialised. */
  def stages(timer: CorpusStages.Timer): CorpusStages = new CorpusStages(docs, bench, timer)

  def validate(t: Tally): Unit = {
    Harness.attempt(t, "build reference") {
      val (ns, d) = Harness.timed(Digest.of(build(), ctx.spans))
      expected = Some(d)
      Sample(ns, itemsPerOp)
    }
    Harness.attempt(t, "stage-by-stage path") {
      val s = stages(CorpusStages.untimed)
      try {
        val (ns, d) = Harness.timed(Digest.of(s.out, ctx.spans))
        Workload.check(s"$name stage-by-stage", expected, d)
        Sample(ns, itemsPerOp)
      } finally s.free()
    }
  }

  def op(k: Int): Sample = {
    val (ns, d) = Harness.timed(Digest.of(build(), ctx.spans))
    Workload.check(s"$name op $k", expected, d)
    Sample(ns, itemsPerOp)
  }

  def close(): Unit = {
    if (docs != null) docs.unpersist()
    if (bench != null) bench.unpersist()
  }

  def diagnostics: Map[String, Any] = Map("digest" -> expected.map(_.toString).orNull)
}
