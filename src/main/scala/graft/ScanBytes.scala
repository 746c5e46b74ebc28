package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** ACTUAL bytes behind a frame's scans, for size-floor decisions
  * (spread/repartition gates, the pair-family refusal pre-flight).
  *
  * VERDICT r13 #2: the floors used to be denominated in
  * `optimizedPlan.stats.sizeInBytes`, whose default 20-byte string
  * width undercounts real text ~2.5x — so each site carried its own
  * hand-calibrated constant, and the round demonstrated both failure
  * modes (a guard floor that silently never fired -> 67 GB of spill;
  * a spread floor that gated the exchange off at sf1 until halved
  * per-site). File-backed leaves report their FileIndex size instead:
  * the real post-partition-pruning file bytes Spark will actually
  * read, robust to schema/row-width drift, so one derivation per
  * decision (not one tuned constant per site) suffices.
  *
  * Non-file leaves (LocalRelation in tests, InMemoryRelation after a
  * cache, streaming sources) keep their optimizer estimate — cached
  * relations report materialized (accurate) sizes, and test-scale
  * local frames sit far below every floor either way. Column pruning
  * is deliberately ignored: the floors ask "is this CORPUS big enough
  * that distributing/guarding pays", a property of the data on disk,
  * not of the projection.
  *
  * FILTER-blind too, by the same design (ADVICE r14): a selective
  * filter over a large table still reports the full leaf bytes, so a
  * small filtered slice of a big corpus can trip a guard floor and pay
  * its pre-flight job. That errs only in the conservative direction —
  * a floor can fire early, never silently not at all — which is the
  * failure mode the r13 incident picked this denomination to kill. If
  * filtered-slice calls ever become a common pattern, the fallback is
  * the optimizer estimate when the plan carries selective filters.
  */
object ScanBytes {

  /** Spread floor of the one-shot per-document kernels (text
    * tokenize/regex/fingerprint, the dedup shingle and simhash
    * front-ends). Measured: the exchange pays at the 50k-doc scale
    * (6.0 MB on disk) and hurts at the oracle scales (<= 0.6 MB), so
    * 2 MB is the geometric midpoint with ~3x margin to both sides.
    */
  val KernelFloor: Long = 1L << 21

  /** Spread floor of the iterative vector operators (IVF cell
    * assignment, Lloyd loops, PQ scoring). Measured: an ungated
    * repartition cost them +0.6..1.7 s per query at the oracle scales,
    * where the corpus fits one task anyway; the embeddings table is
    * ~8 MB at the 20k-vector scale where the exchange is a wash and
    * ~80 MB at the 200k-vector scale where it pays 8x (23.6 s -> ~3 s
    * for the sf10 cell-assignment pass), so 16 MB keeps margin on both
    * sides.
    */
  val VectorFloor: Long = 1L << 24

  /** Repartition `df` up to the session's parallelism before CPU-bound
    * per-row work when its source under-parallelizes it: a single small
    * parquet file arrives as 1-2 splits (one row group is one task), so
    * every downstream kernel would serialize on as many cores. No-op,
    * and no shuffle, on a streaming frame (micro-batches size
    * themselves), when `df` already carries enough partitions (the
    * corpus-scale case, where a blind repartition would shuffle the
    * whole text column), or when `sizedBy`'s scan bytes are below
    * `floorBytes` (a corpus that small runs cheaper in one task than
    * through an exchange plus the per-stage task overhead the extra
    * partitions add downstream). `sizedBy` is the frame whose size
    * decides: pass the pre-explode base when `df` contains a Generate,
    * whose size is not scan-derived. A floor of 0 skips the size check.
    */
  def spread(df: DataFrame, floorBytes: Long,
      sizedBy: DataFrame = null): DataFrame = {
    if (df.isStreaming) return df
    val sizing = if (sizedBy == null) df else sizedBy
    val target = df.sparkSession.sparkContext.defaultParallelism
    if ((floorBytes <= 0 || of(sizing) >= floorBytes) &&
        df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  def of(df: DataFrame): Long = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val total = leaves.map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => BigInt(fs.location.sizeInBytes)
        case other => BigInt(other.sizeInBytes)
      }
      case leaf => leaf.stats.sizeInBytes
    }.sum
    if (total > BigInt(Long.MaxValue)) Long.MaxValue else total.toLong
  }
}
