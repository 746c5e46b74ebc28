package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition

/** `ScanBytes.spread`, the one size-gated repartition: each case names
  * the frame, the floor, the frame whose size decides, and whether the
  * result is spread to the session's parallelism. Floors are explicit
  * byte counts so that small local frames reach them.
  */
class ScanBytesSpec extends SparkSpec {

  test("spread repartitions only an under-split batch frame at or above the floor") {
    val width = spark.sparkContext.defaultParallelism
    assert(width > 1, "the cases need a session wider than one core")
    val narrow = spark.range(0, 100, 1, 1).toDF("id")   // 800 bytes, 1 split
    val wide = spark.range(0, 100, 1, width).toDF("id") // already full width
    val tiny = spark.range(0, 10, 1, 1).toDF("id")      // 80 bytes
    val stream = spark.readStream.format("rate").load()
    val narrowBytes = ScanBytes.of(narrow)
    assert(ScanBytes.of(tiny) < narrowBytes)
    // (case, df, floor, sizedBy, spread?)
    val cases: Seq[(String, DataFrame, Long, DataFrame, Boolean)] = Seq(
      ("below the floor", narrow, narrowBytes + 1, null, false),
      ("at the floor", narrow, narrowBytes, null, true),
      ("above a 1-byte floor", narrow, 1L, null, true),
      ("a zero floor skips the size check", tiny, 0L, null, true),
      ("enough partitions: no exchange", wide, 1L, null, false),
      ("a streaming frame", stream, 1L, null, false),
      ("a large sizing frame spreads a small df", tiny, narrowBytes, narrow, true),
      ("a small sizing frame keeps a large df", narrow, narrowBytes, tiny, false))
    for ((name, df, floor, sizedBy, expectSpread) <- cases) {
      val out = ScanBytes.spread(df, floor, sizedBy)
      if (!expectSpread) assert(out eq df, s"$name: the frame was not returned unchanged")
      else {
        assert(out.queryExecution.logical.isInstanceOf[Repartition],
          s"$name: no repartition on top of the frame")
        assert(out.rdd.getNumPartitions === width, name)
        assert(out.count() === df.count(), name)
      }
    }
  }
}
