package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._

import graft.alerts.AlertCols
import graft.operators.{Asteroids, Nalerthist, TransientFeatures}
import graft.streaming.AlertPipeline

/** The full enrichment pipeline run through Structured Streaming
  * micro-batches over the reference fixture (the broker's execution
  * shape; fink-science itself is batch-only — SURVEY.md §2.6).
  */
class StreamingSpec extends SparkSpec {

  test("enrichment pipeline runs inside foreachBatch and matches batch results") {
    val path = "/root/reference/fink_science/data/alerts/datatest"
    ReferenceFixtures.assumePresent(path)
    val schema = spark.read.parquet(path).schema

    val enrich: AlertPipeline.Module = AlertPipeline.pipeline(
      df => AlertCols.withHistory(df, Seq("jd", "magpsf")),
      df => Nalerthist(df),
      df => Asteroids(df),
      df => TransientFeatures(df))

    val counts = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // two micro-batches (2 files)
      .parquet(path)
    val q = AlertPipeline.runOnce(stream, enrich, (batch, _) => {
      counts.add((
        batch.count(),
        batch.filter(col("roid") === 3).count(),
        batch.filter(col("nalerthist") >= 1).count()))
    })
    q.awaitTermination(120000)

    val rows = counts.toArray(Array.empty[(Long, Long, Long)])
    assert(rows.length === 2, "expected one micro-batch per input file")
    assert(rows.map(_._1).sum === 124)
    assert(rows.map(_._2).sum === 1) // same roid==3 count as batch mode
    assert(rows.map(_._3).sum === 124)
  }
}
