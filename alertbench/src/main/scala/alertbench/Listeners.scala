package alertbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Bench-side Spark listeners of the traced run: scheduler totals and
  * the durations of every micro-batch's progress report. (Planning
  * phases come from each op's digest query, see Digest.of: a
  * QueryExecutionListener would miss the micro-batch queries, which run
  * in the stream's cloned session.)
  */
final class Listeners(spark: SparkSession) {
  private val lock = new Object
  private var jobs, stages, tasks = 0L
  private var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  private val stageTaskMs = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  private val progress = ArrayBuffer.empty[Map[String, Long]]

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized(jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { stages += 1; tasks += e.stageInfo.numTasks }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) lock.synchronized {
        import scala.jdk.CollectionConverters._
        progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.streams.addListener(streams)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.streams.removeListener(streams)
  }

  def drain(): Unit = org.apache.spark.alertbench.Bus.drain(spark.sparkContext)

  /** Per-op scheduler metrics over `ops` ops. */
  def perOp(ops: Int): Seq[(String, Double, String)] = lock.synchronized {
    val n = math.max(ops, 1).toDouble
    val skews = stageTaskMs.values.filter(_.length >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }.toSeq
    Seq(
      ("spark.jobs", jobs / n, "count"),
      ("spark.stages", stages / n, "count"),
      ("spark.tasks", tasks / n, "count"),
      ("spark.task_cpu_ms", cpuNs / 1e6 / n, "ms"),
      ("spark.task_run_ms", runMs / n, "ms"),
      ("spark.gc_ms", gcMs / n, "ms"),
      ("spark.task_skew", if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio"),
      ("spark.shuffle_write_bytes", shuffleWrite / n, "bytes"),
      ("spark.shuffle_read_bytes", shuffleRead / n, "bytes"),
      ("spark.spill_bytes", spill / n, "bytes"))
  }

  /** Mean of each StreamingQueryProgress duration over the batches
    * seen. The progress report rounds to whole ms, so a mean keeps the
    * sub-ms part that a median would lose.
    */
  def streaming(): Seq[(String, Double, String)] = lock.synchronized {
    val ps = progress.toSeq
    // latestOffset is left out: the in-memory source answers in well
    // under the report's 1 ms resolution, so it reads 0 in every run
    Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
      "query_planning_ms" -> "queryPlanning", "wal_commit_ms" -> "walCommit").map {
      case (name, key) =>
      (s"streaming.$name",
        if (ps.isEmpty) Double.NaN else ps.map(_.getOrElse(key, 0L)).sum.toDouble / ps.length, "ms")
    }
  }
}
