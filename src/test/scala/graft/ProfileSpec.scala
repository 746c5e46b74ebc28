package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.tools.Profile

/** `graft.tools.Profile` reports an oracle query's rows, stages and
  * operator metrics as one parseable JSON object.
  */
class ProfileSpec extends SparkSpec {

  test("a profile counts the query's rows and breaks it into stages and operators") {
    val q = "q1_agg"
    val report = new ObjectMapper().readTree(Profile.run(spark, q, sf))
    assert(report.get("query").asText === q)
    assert(report.get("rows").asLong === SparkEntry.queries(q)(spark, sf).count())
    assert(report.get("wall_ms").asDouble > 0)

    val keys = Seq("id", "name", "wall_ms", "spark.tasks", "spark.task_cpu_ms",
      "spark.task_run_ms", "spark.gc_ms", "spark.shuffle_read_bytes",
      "spark.shuffle_write_bytes", "spark.spill_bytes", "task_run_max_ms",
      "task_run_median_ms")
    val stages = report.get("stages").elements.asScala.toSeq
    assert(stages.exists(s => keys.forall(s.has)), s"no stage carries every key: $stages")

    val operators = report.get("operators").elements.asScala.toSeq
    assert(operators.exists(_.get("metrics").size > 0),
      s"no operator reports a SQLMetric: $operators")
    assert(report.get("plan").get("scans").asInt > 0)
  }
}
