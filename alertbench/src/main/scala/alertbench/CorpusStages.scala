package alertbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.{Decontaminate, ShardPack, TextOps}

/** CorpusBuild.build's chain with its default parameters, run stage by
  * stage with every stage boundary cached and materialised, so each
  * stage's time and selectivity can be read off on its own. Its output
  * must digest exactly like CorpusBuild.build's.
  */
final class CorpusStages(docs: DataFrame, bench: DataFrame, timer: CorpusStages.Timer) {
  private val held = ArrayBuffer.empty[DataFrame]

  private def mat(stage: String, df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    held += c
    val (ns, n) = Harness.timed(c.count())
    timer(stage, ns)
    (c, n)
  }

  val docCount: Long = docs.count()
  private val (keep, _) = TextOps.qualityFilter(col("text"))
  val (kept, keptCount) = mat("text.quality", docs.filter(keep))
  private val (clusters, _) =
    mat("dedup.pipeline", Dedup.dedupPipeline(kept, "doc_id", "text", 4))
  val (reps, repCount) = mat("dedup.pipeline", kept.join(
    clusters.filter(col("cluster") === col("doc_id")).select(col("doc_id")), Seq("doc_id")))
  private val unioned = reps
    .select(col("doc_id"), col("text").as("__text"), lit(false).as("__is_bench"))
    .unionByName(bench.select(col("doc_id"), col("text").as("__text"),
      lit(true).as("__is_bench")))
  private val (flags, _) = mat("text.decontaminate",
    Decontaminate.flags(unioned, "doc_id", "__text", col("__is_bench"), 4, 1L << 13))
  val contaminatedCount: Long = flags.filter(col("contaminated")).count()
  val (out, _) = mat("text.shard_pack", ShardPack.pack(
    reps.join(flags.filter(!col("contaminated")).select(col("doc_id")), Seq("doc_id")),
    "doc_id", "text", "source", 2000L))

  def free(): Unit = held.foreach(_.unpersist())
}

object CorpusStages {
  /** Receives (stage, ns) for every materialised boundary. */
  type Timer = (String, Long) => Unit
  val untimed: Timer = (_, _) => ()
}
