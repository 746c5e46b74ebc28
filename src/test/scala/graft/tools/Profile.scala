package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

import graft.{LocalSession, SparkEntry}

/** Where a query's time goes: its wall time and rows, then each stage,
  * then each physical operator of the final (post-AQE) plan.
  *
  * Run: sbt "Test/runMain graft.tools.Profile <query[,query...]> [out.json]"
  *
  * The data directory and the core count come from `SPARK_GRAFT_SF_DIR`
  * (required here) and `SPARK_GRAFT_CPUS`, as for `graft.Bench`, and
  * every row is materialised the way Bench times it
  * (`queryExecution.toRdd`). Each
  * query runs in a fresh session, so no query inherits another's cached
  * data or shuffle files; the JIT stays warm, so profile one query per
  * run for a fully cold number.
  *
  * Prints one JSON object per query, and writes the same lines to
  * `out.json` when given:
  *  - `query`, `sf`, `rows`, `wall_ms` (building the DataFrame plus
  *    materialising it);
  *  - `stages`: each completed stage with its `wall_ms` (submission to
  *    completion), the `spark.*` counters alertbench reports for the same
  *    task metrics, and the max and median task run time;
  *  - `operators`: each operator of the final plan, subqueries and the
  *    plans of cached relations included, in pre-order, with its
  *    non-zero SQLMetrics as Spark holds them
  *    (timings in ms, or ns for `nsTiming` metrics; sizes in bytes);
  *  - `plan`: counts of file scans, shuffle exchanges, reused exchanges,
  *    broadcast exchanges, sort-merge and broadcast hash joins among
  *    those operators.
  */
object Profile {

  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(
      sys.error("usage: Profile <query[,query...]> [out.json]"))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the data directory"))
    val lines = names.map { q =>
      val spark = LocalSession()
      val line = try run(spark, q, sfDir) finally spark.stop()
      println(line)
      line
    }
    args.lift(1).foreach { out =>
      Files.write(Paths.get(out),
        lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Runs `query` on `sfDir` in `spark` and returns its profile as one
    * line of JSON.
    */
  def run(spark: SparkSession, query: String, sfDir: String): String = {
    val stages = new StageRecorder
    val sc = spark.sparkContext
    sc.addSparkListener(stages)
    val (df, rows, wallMs) =
      try {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(query)(spark, sfDir)
        val rows = df.queryExecution.toRdd.count()
        (df, rows, (System.nanoTime() - t0) / 1e6)
      } finally {
        ListenerBus.drain(sc)
        sc.removeSparkListener(stages)
      }

    val report = json.createObjectNode()
      .put("query", query).put("sf", sfDir).put("rows", rows).put("wall_ms", wallMs)
    val stageRows = report.putArray("stages")
    stages.completed.foreach { i =>
      val m = i.taskMetrics
      val runs = stages.taskRunMs(i.stageId, i.attemptNumber())
      stageRows.addObject()
        .put("id", i.stageId)
        .put("name", i.name)
        .put("wall_ms", (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
          .getOrElse(-1L))
        .put("spark.tasks", i.numTasks)
        .put("spark.task_cpu_ms", m.executorCpuTime / 1e6)
        .put("spark.task_run_ms", m.executorRunTime)
        .put("spark.gc_ms", m.jvmGCTime)
        .put("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        .put("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        .put("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        .put("task_run_max_ms", runs.lastOption.getOrElse(0L))
        .put("task_run_median_ms", if (runs.isEmpty) 0L else runs(runs.length / 2))
    }

    val ops = operatorsOf(df.queryExecution.executedPlan)
    val operators = report.putArray("operators")
    ops.foreach { p =>
      val nonZero = p.metrics.toSeq.filter(_._2.value != 0).sortBy(_._1)
      if (nonZero.nonEmpty) {
        val metrics = operators.addObject().put("op", p.nodeName.trim).putObject("metrics")
        nonZero.foreach { case (k, v) => metrics.put(k, v.value) }
      }
    }
    report.putObject("plan")
      .put("scans", ops.count(_.isInstanceOf[FileSourceScanExec]))
      .put("exchanges", ops.count(_.isInstanceOf[ShuffleExchangeLike]))
      .put("reused", ops.count(_.isInstanceOf[ReusedExchangeExec]))
      .put("broadcasts", ops.count(_.isInstanceOf[BroadcastExchangeLike]))
      .put("smj", ops.count(_.isInstanceOf[SortMergeJoinExec]))
      .put("bhj", ops.count(_.isInstanceOf[BroadcastHashJoinExec]))
    json.writeValueAsString(report)
  }

  /** The operators of a final plan in pre-order, each once: the plans
    * of AQE query stages, of subqueries and of the cached relations it
    * reads included.
    */
  private def operatorsOf(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(p)) Nil
      else {
        val inner = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case s: QueryStageExec => Seq(s.plan)
          case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
          case _ => p.children
        }
        p +: (inner ++ p.subqueries).flatMap(walk)
      }
    walk(root)
  }

  /** Completed stages, and every task's run time per stage attempt. */
  private final class StageRecorder extends SparkListener {
    private val stages = ArrayBuffer.empty[StageInfo]
    private val runMs = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += e.stageInfo }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) synchronized {
        runMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          e.taskMetrics.executorRunTime
      }

    def completed: Seq[StageInfo] = synchronized(stages.toSeq.sortBy(_.stageId))

    /** Sorted task run times (ms) of one stage attempt. */
    def taskRunMs(stage: Int, attempt: Int): IndexedSeq[Long] =
      synchronized(runMs.get((stage, attempt)).map(_.sorted.toIndexedSeq)
        .getOrElse(IndexedSeq.empty))
  }
}
