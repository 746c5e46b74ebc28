package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.{ExtremeState, StandardizedFlux}
import graft.streaming.AlertPipeline
import graft.xmatch.CrossMatch

/** The catalog reuse rule: a catalog lookup is built once while the
  * catalog's data is cached and the cache is held, and rebuilt on every
  * call otherwise. Jobs are counted with a SparkListener; broadcasts by
  * the ids the planned expressions carry. A streaming query captures
  * its lookup once, at start.
  */
class CatalogReuseSpec extends SparkSpec {

  /** (result, jobs started while running `body`) */
  private def jobs[T](body: => T): (T, Int) = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (out, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def broadcastIds(df: DataFrame): Seq[Long] =
    df.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect {
      case p: ClosestCatalogProbe => p.indexBc.id
      case l: CatalogLookup => l.tableBc.id
    })

  private lazy val alerts = {
    import spark.implicits._
    Seq(("A", 10.0, 20.0), ("B", 120.0, 5.0)).toDF("id", "ra", "dec")
  }

  private def label(cat: DataFrame): DataFrame =
    CrossMatch.label(alerts, cat, 1.5, "id", "ra", "dec", "cra", "cdec", "lab", "out")

  private def labels(df: DataFrame): Map[String, String] =
    df.select("id", "out").collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def catalog(lab: String): DataFrame = {
    import spark.implicits._
    ((10.0, 20.0 + 0.5 / 3600.0, lab) +: (0 until 200).map(i =>
      (i * 1.7, i * 0.4 - 40.0, s"N$i"))).toDF("cra", "cdec", "lab")
  }

  test("a second label against the same cached catalog starts no job and no broadcast") {
    val cat = catalog("NEAR").cache()
    try {
      val (first, built) = jobs(label(cat))
      assert(built > 0, "the first call builds the index")
      val (second, reused) = jobs(label(cat))
      assert(reused === 0, "the second call must reuse the cached index")
      assert(broadcastIds(second) === broadcastIds(first))
      assert(labels(second) === Map("A" -> "NEAR", "B" -> "Unknown"))
    } finally cat.unpersist()
  }

  test("after unpersist and re-caching, the index is rebuilt") {
    val cat = catalog("NEAR").cache()
    val first = label(cat)
    cat.unpersist(blocking = true)
    val (uncached, ran) = jobs(label(cat))
    assert(ran > 0, "an uncached catalog is rebuilt")
    assert(broadcastIds(uncached) !== broadcastIds(first))
    cat.cache()
    try {
      val (recached, rebuilt) = jobs(label(cat))
      assert(rebuilt > 0, "a re-cached catalog gets a fresh index")
      assert(broadcastIds(recached) !== broadcastIds(first))
      assert(broadcastIds(recached) !== broadcastIds(uncached))
      val (again, reused) = jobs(label(cat))
      assert(reused === 0)
      assert(broadcastIds(again) === broadcastIds(recached))
    } finally cat.unpersist()
  }

  test("a lowered byte budget still refuses an already indexed cached catalog") {
    val cat = catalog("NEAR").cache()
    try {
      label(cat)
      spark.conf.set(CrossMatch.CatalogBytesConf, "1000")
      try {
        val e = intercept[IllegalArgumentException](label(cat))
        assert(e.getMessage.contains(CrossMatch.CatalogBytesConf))
      } finally spark.conf.unset(CrossMatch.CatalogBytesConf)
      val (_, reused) = jobs(label(cat))
      assert(reused === 0, "the default budget's index is still held")
    } finally cat.unpersist()
  }

  test("an uncached Parquet catalog is re-read on every call") {
    val dir = java.nio.file.Files.createTempDirectory("xmatch-cat").toString
    catalog("FIRST").write.mode("overwrite").parquet(dir)
    val (a, jobsA) = jobs(label(spark.read.parquet(dir)))
    val (b, jobsB) = jobs(label(spark.read.parquet(dir)))
    assert(jobsA > 0 && jobsB > 0)
    assert(broadcastIds(a) !== broadcastIds(b))
    assert(labels(b)("A") === "FIRST")
    catalog("SECOND").write.mode("overwrite").parquet(dir)
    assert(labels(label(spark.read.parquet(dir)))("A") === "SECOND")
  }

  test("a running stream keeps its start-time catalog lookup; a restarted query sees the new catalog") {
    import spark.implicits._
    var cat = catalog("FIRST").cache()
    val seen = new ConcurrentHashMap[String, String]()
    val source = MemoryStream[(String, Double, Double)](spark, 1)
    val ckpt = java.nio.file.Files.createTempDirectory("xmatch-stream").toString
    def start() = AlertPipeline.streamingWriter(source.toDF().toDF("id", "ra", "dec"),
        df => CrossMatch.label(df, cat, 1.5, "id", "ra", "dec", "cra", "cdec", "lab", "out"),
        (b, _) => b.select("id", "out").collect().foreach(r => seen.put(r.getString(0), r.getString(1))),
        Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt).start()
    def labelOf(q: org.apache.spark.sql.streaming.StreamingQuery, id: String): String = {
      source.addData((id, 10.0, 20.0))
      q.processAllAvailable()
      seen.get(id)
    }
    val first = start()
    try {
      assert(labelOf(first, "A1") === "FIRST")
      cat.unpersist(blocking = true)
      cat = catalog("SECOND").cache()
      // a new call evicts the dropped entry and unpersists its broadcast
      assert(labels(label(cat))("A") === "SECOND")
      assert(labelOf(first, "A2") === "FIRST", "a running query keeps its start-time snapshot")
      assert(first.exception.isEmpty, first.exception.toString)
    } finally first.stop()
    val restarted = start()
    try assert(labelOf(restarted, "A3") === "SECOND")
    finally { restarted.stop(); cat.unpersist() }
  }

  test("the blazar modules share one lookup of a cached catalog") {
    import spark.implicits._
    val cat = Seq(("SRC1", "ZTF1", (10.0, 20.0), 0.5, 2.0))
      .toDF("Source_name", "ZTF_name", "medians", "low_threshold", "high_threshold")
      .withColumn("medians", struct(col("medians._1").as("1"), col("medians._2").as("2")))
      .cache()
    val series = Seq(("ZTF1", Seq(100.0), Seq(18.0), Seq(0.1), Seq(17.0), Seq(0.05),
        Seq("t"), Seq(1), Seq(10.0), Seq(20.0)))
      .toDF("objectId", "cjd", "cmagpsf", "csigmapsf", "cmagnr", "csigmagnr",
        "cisdiffpos", "cfid", "cra", "cdec")
    try {
      val (flux, built) = jobs(StandardizedFlux(series, cat))
      assert(built > 0)
      val (stats, reused) = jobs(ExtremeState(spark, flux, cat))
      assert(reused === 0, "ExtremeState must reuse StandardizedFlux's lookup")
      assert(broadcastIds(stats).distinct === broadcastIds(flux).distinct)
      assert(stats.select("cstd_flux").head().getSeq[Double](0).length === 1)
    } finally cat.unpersist()
  }
}
