package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.AlertPipeline

/** `streamingWriter` applies the enrichment to the stream once, so it
  * refuses, before any query starts, an enrichment that would make the
  * streaming query stateful.
  */
class AlertPipelineSpec extends SparkSpec {

  private def stream = spark.readStream.format("rate").load()

  private def refused(enrich: AlertPipeline.Module): String = {
    val e = intercept[IllegalArgumentException](
      AlertPipeline.streamingWriter(stream, enrich, (_, _) => ()))
    assert(spark.streams.active.isEmpty, "no query may start")
    e.getMessage
  }

  test("an aggregating module is refused before start, naming the operator") {
    val msg = refused(_.groupBy().count())
    assert(msg.contains("Aggregate"), msg)
    assert(msg.contains("foreachBatch"), msg)
  }

  test("a deduplicating module is refused before start, naming the operator") {
    val msg = refused(_.dropDuplicates("value"))
    assert(msg.contains("Deduplicate"), msg)
  }

  test("a stream joined with itself or ranked in a window is refused") {
    val joined = refused(df => df.as("a").join(df.as("b"), col("a.value") === col("b.value")))
    assert(joined.contains("Join"), joined)
    val ranked = refused(_.withColumn("rank",
      row_number().over(Window.partitionBy(col("value") % 2).orderBy(col("value")))))
    assert(ranked.contains("Window"), ranked)
  }

  test("typed maps, explode, unions and stream-static joins pass the guard") {
    import spark.implicits._
    val static = spark.range(10).toDF("value")
    AlertPipeline.streamingWriter(stream, df => df
      .select(col("value")).as[Long]
      .mapPartitions(_.map(_ * 2)).map(_ + 1).filter(_ > 0)
      .toDF("value")
      .withColumn("pair", explode(array(col("value"), col("value") + 1)))
      .union(df.select(col("value"), col("value").as("pair")))
      .repartition(2)
      .join(static, Seq("value"), "left"), (_, _) => ())
  }

  test("projections, filters and aliases pass the guard") {
    AlertPipeline.streamingWriter(stream, df => df
      .withColumn("odd", col("value") % 2 === 1)
      .filter(col("odd"))
      .as("alerts")
      .select(col("alerts.value")), (_, _) => ())
  }
}
