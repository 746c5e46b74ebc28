package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, SweepCheckpoint}

/** The end-to-end corpus-construction chain a training-data pipeline
  * runs at 100 TB, composed as ONE operator from the production
  * pieces (each independently oracle-verified):
  *
  *   1. C4-style quality cascade ([[TextOps.qualityFilter]]) —
  *      map-only, runs FIRST because it is the cheapest stage and
  *      shrinks the shuffle-heavy dedup input;
  *   2. exact + near dedup ([[Dedup.dedupPipeline]]), keeping one
  *      representative per verified cluster — every candidate step
  *      joins on a bucketing key, output linear in the input;
  *   3. benchmark decontamination ([[Decontaminate.flags]]) over the
  *      surviving representatives only (the fewest docs reach the
  *      gram join), bench side count-gated broadcast with the pinned
  *      sort-merge fallback;
  *   4. shard packing ([[ShardPack.pack]]) per `groupCol` over the
  *      final keep set — window partitions bounded by the group key
  *      (route through [[ShardPack.packBucketed]] instead when one
  *      group can hold a large fraction of the corpus).
  *
  * Returns one row per RETAINED doc: (idCol, groupCol, n_tokens,
  * shard). The benchmark set is a separate relation — eval data never
  * enters the corpus, it only vetoes grams.
  *
  * By default the chain composes LAZILY, so the quality-kept relation
  * is recomputed by the dedup input, the representative join, and the
  * packer (three corpus passes; the cascade itself is a cheap map) —
  * correct, and right for small inputs where a pass is cheap. At
  * 100 TB three corpus passes is the difference between a night and a
  * weekend: pass `stageMaterialize = Some(medium)` and each stage
  * boundary (quality-kept, representatives, decontaminated-clean) is
  * EAGERLY persisted through the given [[SweepCheckpoint]] medium and
  * freed as soon as the next boundary is materialized, so every stage
  * scans the corpus exactly once and the returned frame is one packing
  * pass over the final clean table (its plan no longer references the
  * input relation at all). The last boundary backs the lazily-returned
  * result, so it is NOT freed — under `Table` the final `stages/`
  * artifact lives until the caller is done with the result (the same
  * contract as the sweep tables). A `Table` medium's stage tables are
  * written under `<dir>/stages`, so the same directory can safely
  * serve both `sweep` and `stageMaterialize`. The default stays lazy
  * because a lazily-returned result cannot own a cache lifecycle (the
  * r5 lesson) — materialization is an explicit, caller-owned choice.
  */
object CorpusBuild {

  def build(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, groupCol: String, maxHamming: Int = 4,
      ngram: Int = 4, budgetTokens: Long = 2000L,
      requireTerminal: Boolean = true,
      sweep: SweepCheckpoint = SweepCheckpoint.Local,
      maxBroadcastBenchDocs: Long = 1L << 13,
      stageMaterialize: Option[SweepCheckpoint] = None,
      knownBenchDocs: Long = -1L,
      knownBenchGrams: Long = -1L): DataFrame = {
    // stage tables get their own namespace under a Table medium so a
    // shared dir cannot collide with the dedup sweeps' sweep_<n>
    val medium = stageMaterialize.map {
      case SweepCheckpoint.Table(dir) => SweepCheckpoint.Table(s"$dir/stages")
      case m => m
    }
    def mat(df: DataFrame, idx: Int): DataFrame =
      medium.fold(df)(m => Dedup.sweepMaterialize(df, m, idx))
    def free(df: DataFrame, idx: Int): Unit =
      medium.foreach(m => Dedup.sweepFree(df, m, idx))

    val (keep, _) = TextOps.qualityFilter(col(textCol),
      requireTerminal = requireTerminal)
    val kept = mat(docs.filter(keep), 0)
    val clusters = Dedup.dedupPipeline(kept, idCol, textCol, maxHamming,
      sweep = sweep)
    // the cluster label is the component's min doc id, so the labeled
    // doc with cluster == id IS the cluster's one representative
    val reps = mat(kept.join(
      clusters.filter(col("cluster") === col(idCol)).select(col(idCol)),
      Seq(idCol)), 1)
    free(kept, 0)
    val unioned = reps
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        lit(false).as("__is_bench"))
      .unionByName(bench.select(col(idCol).as("doc_id"),
        col(textCol).as("__text"), lit(true).as("__is_bench")))
    val clean = mat(reps.join(
      Decontaminate.flags(unioned, "doc_id", "__text", col("__is_bench"),
          ngram, maxBroadcastBenchDocs,
          knownBenchDocs = knownBenchDocs, knownBenchGrams = knownBenchGrams)
        .filter(!col("contaminated"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol)), 2)
    free(reps, 1)
    ShardPack.pack(clean, idCol, textCol, groupCol, budgetTokens)
  }

  /** Event-time admission front of the chain (p5): the quality cascade,
    * a whitespace-normalized md5 fingerprint and a simhash per kept
    * doc, then the EARLIEST copy of each distinct content — the
    * smallest (event time, doc id) per fingerprint, one struct-min hash
    * aggregate with no window sort and no join. The admitted rows carry
    * their simhash, so near-dup assignment can chain behind as a batch
    * stage ([[Dedup.simhashAssign]]).
    *
    * Returns (doc_id: long, fp, ts_ms: epoch millis of `tsCol`, simhash).
    */
  def earliestAdmissions(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, requireTerminal: Boolean = true): DataFrame = {
    val (keep, _) = TextOps.qualityFilter(col(textCol),
      requireTerminal = requireTerminal)
    Dedup.simhash(docs.filter(keep), idCol, textCol,
        carryCols = Seq(textCol, tsCol))
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.fingerprint(col(textCol)).as("fp"),
        unix_millis(col(tsCol).cast("timestamp")).as("ts_ms"),
        col("simhash"))
      .groupBy(col("fp"))
      .agg(min(struct(col("ts_ms"), col("doc_id"), col("simhash"))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("fp"),
        col("m.ts_ms").as("ts_ms"), col("m.simhash").as("simhash"))
  }
}
