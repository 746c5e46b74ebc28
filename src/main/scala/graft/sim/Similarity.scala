package graft.sim

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, SweepCheckpoint, Vec}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * - `bruteForceTopK`: exact cosine top-k — the correctness baseline; a
  *   single scan + TakeOrderedAndProject (no full sort, no shuffle of the
  *   vectors), so it is also the right plan whenever the query set is
  *   small.
  * - `ivfTopK`: IVF-style scale path — vectors are pre-assigned to
  *   centroid cells (one broadcast join + windowed argmin, done once and
  *   reusable); a query probes only the closest `nprobe` cells, cutting
  *   the scanned fraction to ~nprobe/ncells. At 100 TB the assignment is
  *   a materialized, cell-partitioned table and the probe is a partition-
  *   pruned scan.
  *
  * Centroid "training" here deterministically takes the first `ncells`
  * vectors as centroids (k-means iterations would slot in identically —
  * the search plan only needs *some* fixed centroid table).
  */
object Similarity {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Zero-norm vectors have no defined cosine; every search operator
    * excludes them from BOTH sides before ranking/thresholding —
    * NaN ordering and NaN-vs-threshold comparisons are
    * engine-divergent (and Spark 4 ANSI throws on the zero divisor),
    * so degenerate embeddings must never reach the cosine.
    */
  private def nonZero(v: Column): Column = Vec.dot(v, v) > 0.0

  /** Exact top-k by cosine against the vector of `queryId`. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val e0 = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .filter(nonZero(col("v")))
    val q = e0.filter(col("id") === queryId).select(col("v").as("qv"))
    parallelized(e0).join(broadcast(q))
      .filter(col("id") =!= queryId)
      .withColumn("cos", Vec.cosine(col("v"), col("qv")))
      .select(col("id"), col("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Spread a narrow scan across the session's cores before a
    * compute-heavy broadcast join: a single small parquet file arrives
    * as 1-2 splits, and every per-row distance evaluation above it
    * would serialize on as many cores (the `Dedup.parallelized`
    * treatment — measured 23.6 s -> ~3 s for the sf10 cell-assignment
    * pass). No-op at real scale where scans carry enough splits, AND
    * below a 16 MB floor: on a corpus that small the serial pass is
    * cheaper than the exchange plus the per-stage task overhead the
    * extra partitions add to every downstream stage (measured: an
    * ungated repartition cost the Lloyd-loop operators +0.6..1.7 s
    * per query at the oracle scales while the corpus fit in one task
    * anyway). The floor is denominated in ACTUAL scan bytes
    * ([[graft.ScanBytes]], VERDICT r13 #2): the embeddings table is
    * ~8 MB on disk at the 20k-vector scale where the exchange is a
    * wash and ~80 MB at the 200k-vector scale where it pays 8x, so
    * 16 MB keeps the measured behavior with margin on both sides.
    * `gate` overrides the frame whose size decides — pass the
    * pre-explode base when `df` contains a Generate, whose size is
    * not scan-derived.
    */
  private[sim] def parallelized(df: DataFrame,
      gate: DataFrame = null): DataFrame = {
    if (df.isStreaming) return df
    val g = if (gate == null) df else gate
    val bytes = graft.ScanBytes.of(g)
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (bytes >= (1L << 24) && df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** Per-cell occupancy target for [[autoCells]]. Fixed at 4096 in
    * production — a session knob that silently changed cell counts
    * would also change the mirrored oracle CTEs, so the parity harness
    * could NOT catch the drift (ADVICE r13). The former
    * `GRAFT_CELL_DIVISOR` env override is retired (VERDICT r14 #5):
    * s11 exercises the two-level route unforced and SimilaritySpec
    * forces branches through explicit `ncells`, so the only remaining
    * escape hatch is the `graft.test.cellDivisor` SYSTEM property — a
    * test-JVM flag no production launcher sets — and a non-default
    * value is still loudly logged.
    */
  private[graft] val cellDivisor: Long = {
    val v = sys.props.get("graft.test.cellDivisor").map(_.toLong)
    v.filter(_ != 4096L).foreach { d =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft.test.cellDivisor=$d overrides the 4096 IVF occupancy " +
          "target — TEST-ONLY flag; cell counts (and the mirrored " +
          "oracle CTEs) are non-standard for this JVM")
    }
    v.getOrElse(4096L)
  }

  /** Driver-side id-statistics cache for the IVF family, keyed by the
    * CANONICALIZED logical plan of the id projection: one
    * `(count, min, max)` aggregate job per distinct seed frame per
    * session, shared by [[autoCells]] (which needs the count) and
    * [[assignCells]] (whose centroid-seed path choice needs the
    * density check `min == 0 && max == count-1`). r17, VERDICT r16
    * "What's wrong" #1: the r16 seed-robustness fix ran an eager
    * `densePath.count()` probe job at EVERY non-streaming
    * construction — on a join-derived frame that probe forced the
    * full upstream computation just to build a plan, and AUTO callers
    * paid it on top of the count `autoCells` had already run. Now the
    * AUTO chain (autoCells → assignCells on the same frame) runs ONE
    * job total and explicit-ncells callers pay one cached job per
    * distinct frame instead of one per construction
    * (paired adjudication: SCALE_r17 §1).
    *
    * Canonicalized-plan equality means two independently constructed
    * reads of the same source hit the same entry (exprIds are
    * normalized positionally). The cache assumes session-immutable
    * inputs — the Verify/Bench pattern; a test that rewrites a path
    * in place within one session should [[clearIdStatsCache]].
    * Bounded LRU (128 entries) so long sessions over many ad-hoc
    * frames cannot grow it without bound.
    */
  private val idStatsCache =
    new java.util.LinkedHashMap[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        (Long, Long, Long)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
            (Long, Long, Long)]): Boolean = size() > 128
    }

  private[graft] def clearIdStatsCache(): Unit =
    idStatsCache.synchronized { idStatsCache.clear() }

  /** Drop cached centroid tables (see [[centroidCache]]) — cold-run
    * hygiene for the measurement tools: with the cache warm, a later
    * construction on the same seed frame skips the one collect job
    * the cold path pays.
    */
  private[graft] def clearCentroidCache(): Unit =
    centroidCache.synchronized { centroidCache.clear() }

  /** `(count, min id, max id)` of `df`'s id column — cached per
    * canonicalized plan (see [[idStatsCache]]). The aggregate runs on
    * the column's NATURAL type (an eager `cast("long")` would throw
    * under ANSI for exotic id columns the r16 probe tolerated);
    * non-integral or empty min/max report the `(1, -1)` sentinel, so
    * the density check `min == 0 && max == count-1` fails and such
    * frames take the ordered seed path — exactly where the r16 probe
    * routed them. Streaming callers must not reach this (no eager
    * jobs on a streaming frame — [[assignCells]] guards).
    */
  private[graft] def idStats(df: DataFrame, idCol: String): (Long, Long, Long) = {
    val proj = df.select(col(idCol).as("id"))
    val key = proj.queryExecution.analyzed.canonicalized
    idStatsCache.synchronized { Option(idStatsCache.get(key)) }.getOrElse {
      val r = proj.agg(count(lit(1)), min(col("id")), max(col("id"))).head()
      def num(i: Int, dflt: Long): Long =
        if (r.isNullAt(i)) dflt
        else r.get(i) match {
          case l: java.lang.Long => l.longValue()
          case n: java.lang.Integer => n.longValue()
          case n: java.lang.Short => n.longValue()
          case n: java.lang.Byte => n.longValue()
          case _ => dflt
        }
      val v = (r.getLong(0), num(1, 1L), num(2, -1L))
      idStatsCache.synchronized { idStatsCache.put(key, v) }
      v
    }
  }

  /** AUTO cell count for the IVF family: sized from the corpus so
    * per-cell occupancy stays near a fixed target (~4096 vectors),
    * the IVF property every batched operator's scale story rests on.
    * A FIXED cell count over a growing corpus makes occupancy — and
    * with it every within-cell join and per-query probe scan — grow
    * linearly, turning batched-query work quadratic per data decade
    * (SCALE_r12: d13 284 s and s10 23x/decade at sf10 under
    * ncells=8; both ~linear under AUTO). One column-pruned
    * [[idStats]] job, cached and shared with [[assignCells]]' seed
    * density check (r17 — the id column rides along for min/max, a
    * narrow columnar read);
    * floor 8 keeps tiny corpora (and the sf0.01/sf0.1 oracle scales)
    * on the pinned 8-cell structure the DuckDB oracles encode.
    */
  def autoCells(emb: DataFrame, idCol: String): Int =
    math.max(8, (idStats(emb, idCol)._1 / cellDivisor).toInt)

  /** Cell-count gate above which [[assignCells]] routes through the
    * two-level coarse quantizer. At or below it the single-level
    * argmin runs — the plan (and result, see the equivalence note on
    * [[assignCells]]) the oracle scales have always pinned.
    */
  private[graft] val TwoLevelGate = 64

  /** Cell assignment: argmin squared-L2 centroid per vector (ties break
    * to the lowest cell id). Reusable across queries. min_by under a
    * groupBy rather than a window sort — partial-aggregatable map-side,
    * so at scale the only wide exchange is one hash aggregate over the
    * vector ids.
    *
    * Above [[TwoLevelGate]] cells, assignment is TWO-LEVEL (the IVF
    * coarse-quantizer tree — SCALE_r12's named next bottleneck: flat
    * assignment is N x ncells = N x N/4096 distances, quadratic per
    * data decade once autoCells scales the cell count):
    * ceil(sqrt(ncells)) SUPER-centroids (the centroids with cell <
    * nsuper — the same first-k convention as the centroids
    * themselves); each centroid is tagged with its nearest super
    * (argmin sqDist, ties to the lowest super id — an ncells x nsuper
    * pass, negligible); each vector routes to its nearest super and
    * refines among that super's member centroids only — N x (nsuper +
    * ~sqrt(ncells)) distances, i.e. N^1.5 per decade instead of N^2.
    * The refinement is an EQUI-join on the super key, so when the
    * tagged centroid table itself outgrows a broadcast (corpora
    * beyond ~25B vectors) it degrades to a shuffle join without a
    * plan rewrite.
    *
    * Exactness/consistency: the two-level result is a deterministic
    * function mirrored term-for-term by the DuckDB oracles (same
    * distance identity, same tie-breaks). With nsuper = ncells the
    * two-level formula reduces EXACTLY to the single-level argmin
    * (the routing argmin is the global argmin with the same
    * tie-break, and the winning super's member set always contains
    * that winner: a lower-id duplicate centroid would have won the
    * routing too), which is why the gate can switch plans without a
    * result seam at the boundary.
    */
  def assignCells(emb: DataFrame, idCol: String, vecCol: String,
      ncells: Int, seedFrom: DataFrame = null): DataFrame = {
    val e0 = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val seed = if (seedFrom == null) emb else seedFrom
    // r17 — the assignment is MAP-ONLY by default: the centroid table
    // is collected once (bounded: ncells rows, cached per (seed plan,
    // ncells)), broadcast, and each row evaluates ONE scalar
    // expression ([[org.apache.spark.sql.graft.NearestCell]]) that
    // mirrors the join+min_by form term-for-term (distance identity,
    // SQL double ordering, lowest-cell ties, two-level route above
    // the gate — the equivalence spec runs both arms on tie-heavy
    // corpora). The former broadcast-join + groupBy(id) min_by shape
    // — retained below in [[assignCellsJoin]] — exchanged a full copy
    // of every VECTOR through a hash aggregate (twice, two-level):
    // the grouping key is unique, so partial aggregation reduced the
    // candidate expansion but still shipped N vector structs per
    // exchange (measured paired at the 2M x dim-64 decade corpus:
    // 53.5 s / 832 MB shuffle-write vs 3.3 s / 3.8 kB for this path —
    // SCALE_r17 §3b). The join arm remains the route
    // for streaming frames (cannot collect eagerly), centroid tables
    // beyond [[MaxExprCells]] (beyond a sane broadcast), and corrupt
    // seeds (null centroid vectors / non-integral ids), where its
    // null-ordering semantics are the pinned behavior.
    if (s0IsStreaming(e0, seedFrom) || ncells > MaxExprCells)
      return assignCellsJoin(emb, idCol, vecCol, ncells, seedFrom)
    val cent = collectCentroids(seed, idCol, vecCol, ncells)
    if (cent == null) // corrupt seed: legacy semantics, exactly
      return assignCellsJoin(emb, idCol, vecCol, ncells, seedFrom)
    if (cent.isEmpty) // empty seed = empty result (the join form's)
      return e0.select(col("id"), lit(0L).as("cell"), col("v"))
        .filter(lit(false))
    val idx = org.apache.spark.sql.graft.CellIndex.build(
      cent, ncells > TwoLevelGate)
    val bc = e0.sparkSession.sparkContext.broadcast(idx)
    parallelized(e0).select(col("id"),
      org.apache.spark.sql.graft.NearestCell(col("v"), bc).as("cell"),
      col("v"))
  }

  private def s0IsStreaming(e0: DataFrame, seedFrom: DataFrame): Boolean =
    if (seedFrom == null) e0.isStreaming else seedFrom.isStreaming || e0.isStreaming

  /** Expression-path gate: beyond this the collected centroid table
    * stops being a sane driver/broadcast object (131072 cells x dim 64
    * is ~67 MB; under AUTO sizing that is a ~537M-vector corpus) and
    * assignment routes through [[assignCellsJoin]], whose refinement
    * equi-join degrades to a shuffle join without a plan rewrite.
    */
  private[graft] val MaxExprCells = 1 << 17

  /** Bounded centroid cache for the expression path — the collect is
    * one pushed-down job (dense seed: row-group-pruned id filter;
    * else one TakeOrdered pass), cached per (canonical seed plan,
    * ncells) like [[idStatsCache]] so repeated constructions are
    * job-free. Entries above 8192 cells skip the cache (memory).
    * Returns null when the seed is corrupt for the kernel (null
    * centroid vectors, non-integral ids) — the caller falls back to
    * the join arm, which pins those semantics.
    */
  private val centroidCache =
    new java.util.LinkedHashMap[
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
        Array[Array[Double]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
            Array[Array[Double]]]): Boolean = size() > 8
    }

  private def collectCentroids(seed: DataFrame, idCol: String,
      vecCol: String, ncells: Int): Array[Array[Double]] = {
    val proj = seed.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val key = (proj.queryExecution.analyzed.canonicalized, ncells)
    val hit = centroidCache.synchronized { Option(centroidCache.get(key)) }
    hit.getOrElse {
      val (cnt, mn, mx) = idStats(seed, idCol)
      val dense = mn == 0L && mx == cnt - 1L
      val rows =
        if (dense) proj.filter(col("id") < ncells).collect()
        else proj.orderBy(col("id")).limit(ncells).collect()
      def idOf(r: org.apache.spark.sql.Row): Long = r.get(0) match {
        case l: java.lang.Long => l.longValue()
        case n: java.lang.Integer => n.longValue()
        case n: java.lang.Short => n.longValue()
        case n: java.lang.Byte => n.longValue()
        case _ => Long.MinValue // non-integral id: join arm
      }
      if (rows.exists(r => idOf(r) == Long.MinValue || r.isNullAt(1))) null
      else {
        // cell id = rank in ascending-id order (dense: == id)
        val cent = rows.sortBy(idOf).map(_.getSeq[Any](1).map {
          case null => Double.NaN // DotProduct's null-element read
          case d: java.lang.Double => d.doubleValue()
          case f: java.lang.Float => f.doubleValue()
          case x: java.lang.Number => x.doubleValue()
        }.toArray)
        if (ncells <= 8192)
          centroidCache.synchronized { centroidCache.put(key, cent); () }
        cent
      }
    }
  }

  /** The former join+aggregate assignment — the streaming / oversized
    * / corrupt-seed arm of [[assignCells]] and the comparison arm its
    * equivalence spec runs against.
    */
  private[graft] def assignCellsJoin(emb: DataFrame, idCol: String,
      vecCol: String, ncells: Int, seedFrom: DataFrame = null): DataFrame = {
    val e0 = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // Centroid seed = the `ncells` LOWEST ids PRESENT in the seed
    // frame, renumbered 0..ncells-1 by id rank (r16). The old
    // convention — literally `id < ncells` — is identical on a
    // dense-id frame (every full-table caller: rank-1 == id) but
    // DEGENERATE on a filtered frame: sampledEmbeddingDupPairs' 1/r
    // thinned corpus kept only ~ncells/r seed rows, so the "re-derived
    // IVF" the d23 caveat worried about was really a ~1-cell index —
    // per-cell occupancy r× the 4096 target and a quadratic
    // within-cell join (found by the SCALE_r16 §2b boundary probe:
    // recall 1.0 at every severity was the index not cutting at all).
    // An id-shifted frame was worse still: ZERO seed rows and a silently empty
    // result.
    //
    // `seedFrom` (default: the frame itself) lets a SAMPLED caller
    // seed from the FULL corpus, making its assignment the exact
    // restriction of the full run's — the d23 thinned-view contract.
    //
    // Path choice (r17 — VERDICT r16 #1): the dense shortcut (the
    // id-pushed narrow filter, a handful of row groups at any scale)
    // is taken when the CACHED id stats of the seed frame prove the
    // ids dense (`min == 0 && max == count-1`, unique ids per the
    // operator contract) — no per-construction probe job; the AUTO
    // chain reuses the stats autoCells already computed, so dense
    // full-table callers build the plan with ZERO extra jobs. A
    // non-dense seed (filtered/shifted ids — the d23 thinned shape)
    // pays one ordered top-ncells pass, lazily inside the plan. A
    // dense frame with count < ncells takes the dense filter too —
    // identical result (rank-1 == id on a dense prefix), one fewer
    // sort. Streaming frames cannot run the stats job (and cannot
    // sort), so they keep the dense-path plan unconditionally, as
    // before.
    val s0 =
      if (seedFrom == null) e0
      else seedFrom.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val densePath = s0.filter(col("id") < ncells)
      .select(col("id").as("cell"), col("v").as("cv"))
    val dense = s0.isStreaming || {
      val (cnt, mn, mx) = idStats(
        if (seedFrom == null) emb else seedFrom, idCol)
      mn == 0L && mx == cnt - 1L
    }
    val cent =
      if (dense) densePath
      else {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
        s0.orderBy(col("id")).limit(ncells)
          .select((row_number().over(w) - 1).cast("long").as("cell"),
            col("v").as("cv"))
      }
    val e = parallelized(e0)
    if (ncells <= TwoLevelGate) {
      e.join(broadcast(cent))
        .withColumn("d", Vec.sqDist(col("v"), col("cv")))
        .groupBy(col("id"))
        .agg(
          min_by(struct(col("cell"), col("v")), struct(col("d"), col("cell"))).as("m"))
        .select(col("id"), col("m.cell").as("cell"), col("m.v").as("v"))
    } else {
      val nsuper = math.ceil(math.sqrt(ncells.toDouble)).toInt
      val sup = cent.filter(col("cell") < nsuper)
        .select(col("cell").as("sup"), col("cv").as("scv"))
      // centroid -> super tag: ncells rows x nsuper supers, one
      // broadcast join + partial-aggregatable min_by. The leading
      // priority field pins the SELF-TAG invariant (r17): the FP
      // sqDist fold can evaluate a near-identical pair a few ulp
      // NEGATIVE — below the exact-zero self distance — and a
      // constructed ulp-perturbed seed left a super with no tagged
      // members, silently DROPPING every vector routed there at the
      // refinement equi-join (the expression arm crashed on the same
      // corpus; see CellIndex.build and SimilaritySpec's degenerate
      // corpus). Self rows sort first, so a super's own centroid
      // always anchors its member group; cells >= nsuper carry no
      // self row and keep the plain (d, sup) ordering.
      val ctag = cent.join(broadcast(sup))
        .withColumn("d", Vec.sqDist(col("cv"), col("scv")))
        .groupBy(col("cell"))
        .agg(min_by(struct(col("sup"), col("cv")),
          struct(when(col("cell") === col("sup"), 0).otherwise(1),
            col("d"), col("sup"))).as("m"))
        .select(col("m.sup").as("sup"), col("cell"), col("m.cv").as("cv"))
      // vector -> super route (N x nsuper distances)
      val routed = e.join(broadcast(sup))
        .withColumn("d", Vec.sqDist(col("v"), col("scv")))
        .groupBy(col("id"))
        .agg(min_by(struct(col("sup"), col("v")),
          struct(col("d"), col("sup"))).as("m"))
        .select(col("id"), col("m.sup").as("sup"), col("m.v").as("v"))
      // refine within the routed super's members only (equi-join on
      // the super key — broadcastable here, shuffle-joinable beyond)
      routed.join(broadcast(ctag), "sup")
        .withColumn("d", Vec.sqDist(col("v"), col("cv")))
        .groupBy(col("id"))
        .agg(min_by(struct(col("cell"), col("v")),
          struct(col("d"), col("cell"))).as("m"))
        .select(col("id"), col("m.cell").as("cell"), col("m.v").as("v"))
    }
  }

  /** Lloyd-trained IVF cell assignment over int8 CODES — real IVF
    * trains its centroid table rather than taking arbitrary seed
    * vectors, and at corpus scale it trains on the quantized
    * representation it will serve from (composes [[Quantize]]; the
    * code table is 4x smaller than float32). `iters` Lloyd iterations
    * from the deterministic seed (the vectors with id < `ncells`, the
    * [[assignCells]] convention), then the final assignment.
    *
    * Cross-engine exactness: integer code sums make every cross-row
    * aggregate EXACT (order-invariant under Spark's nondeterministic
    * partial-aggregation order — the float-mean trap the q1 decimal
    * convention exists for); the only float arithmetic is one
    * division per (cell, dim) mean and the per-row [[Vec.sqDist]]
    * folds, both bit-stable against DuckDB.
    *
    * Scale shape per iteration: broadcast the ncells-row centroid
    * table, per-row argmin via partial-aggregatable min_by (no
    * window), one (cell, dim)-keyed hash aggregate over the exploded
    * codes (n x dim rows, map-side combine). Empty cells keep their
    * previous centroid. Each iteration's centroid table — tiny by
    * construction — is EAGERLY materialized through `sweep` (the
    * [[graft.dedup.SweepCheckpoint]] media shared with
    * [[graft.dedup.Dedup.connectedComponents]]), so training makes
    * the canonical one-pass-over-the-data-per-iteration k-means
    * schedule and the returned assignment plan is one scan plus one
    * broadcast join against a literal-sized table (left lazy, the
    * plan re-scans the corpus iters+1 times and chains every
    * iteration's joins into one monster plan). `Local` is the
    * single-box default; on a real cluster pass `Reliable`/`Table` —
    * localCheckpoint is executor-memory-backed and one lost executor
    * kills the training loop. Under `Table` the final iteration's
    * `sweep_<iters-1>` directory backs the (lazy) returned
    * assignment and lives until the caller is done with it.
    *
    * The seed table is eagerly required nonempty: a corpus whose ids
    * do not start at 0 (so no id < ncells exists) must fail loudly,
    * not return an empty assignment.
    */
  def kmeansCells(emb: DataFrame, idCol: String, vecCol: String,
      ncells: Int, iters: Int,
      sweep: SweepCheckpoint = SweepCheckpoint.Local): DataFrame = {
    // r17 (optimization round, guide §2.3/§2.4): the default route runs
    // the Lloyd loop driver-side over a broadcast
    // [[org.apache.spark.sql.graft.Codebook]] — per-iteration
    // assignment is ONE scalar expression per row (map-only; the
    // former broadcast-join + groupBy(id).min_by exchanged a full copy
    // of every code vector per iteration because the grouping key is
    // unique), each iteration's only exchange is the tiny (cell, pos)
    // mean aggregate (collected: ncells x dim bounded rows; the mean
    // division and empty-cell carry are the identical float ops
    // driver-side), and the final assignment is one map-only
    // projection. No per-iteration checkpoint is needed (the codebook
    // is a literal, the plan stays flat) so `sweep` is unused here;
    // the former join+aggregate loop remains in [[kmeansCellsJoin]] —
    // the fallback for corrupt seeds (null centroid vectors /
    // non-integral ids, whose null-ordering semantics it pins) and
    // the equivalence-spec comparison arm.
    // no eager collects on a stream; beyond MaxExprCells the seed
    // collect / per-iteration sum collect / codebook broadcast stop
    // being "bounded small" (ADVICE r17 — the same driver/broadcast
    // blowup gate assignCells applies)
    if (emb.isStreaming || ncells > MaxExprCells)
      return kmeansCellsJoin(emb, idCol, vecCol, ncells, iters, sweep)
    val codes0 = Quantize.int8Codes(emb, idCol, vecCol)
    val seedRows = codes0.filter(col("id") < ncells)
      .select(col("id"), col("q")).collect()
    require(seedRows.nonEmpty, s"kmeansCells: seed centroid table is empty — " +
      s"no $idCol < ncells=$ncells exists (ids must start at 0 per the " +
      "assignCells convention); normalize ids or raise ncells")
    def idOf(x: Any): Long = x match {
      case l: java.lang.Long => l.longValue()
      case n: java.lang.Integer => n.longValue()
      case n: java.lang.Short => n.longValue()
      case n: java.lang.Byte => n.longValue()
      case _ => Long.MinValue // non-integral id: join arm
    }
    if (seedRows.exists(r => idOf(r.get(0)) == Long.MinValue || r.isNullAt(1)))
      return kmeansCellsJoin(emb, idCol, vecCol, ncells, iters, sweep)
    var cb = org.apache.spark.sql.graft.Codebook.build(seedRows.map { r =>
      idOf(r.get(0)) -> r.getSeq[Any](1).map {
        case null => Double.NaN // DotProduct's null-element read
        case d: java.lang.Double => d.doubleValue()
        case x: java.lang.Number => x.doubleValue()
      }.toArray
    })
    // every iteration's distance pass runs above this exchange
    val codes = parallelized(codes0)
    val sc = emb.sparkSession.sparkContext
    for (_ <- 0 until iters) {
      val bc = sc.broadcast(cb)
      // assignment projected BELOW the explode (see the
      // ProductQuantize.trainCodebooks note: a select's non-generator
      // expressions land ABOVE the Generate and would re-evaluate the
      // argmin once per exploded element — measured 5x on s7).
      // posexplode_OUTER + post-filter, row-equivalent to the inner
      // explode (outer emits exactly one null-pos row for a null/empty
      // array): InferFiltersFromGenerate puts `size(q) > 0` under an
      // INNER generate and predicate pushdown substitutes the whole
      // quantize HOF tree into the scan's data filter — the corpus
      // gets quantized twice per pass (measured: the iteration stage
      // at 2x). No filter is inferred for outer generates; the pos
      // filter references a generate output, so it cannot push down.
      val sums = codes.select(col("q"),
          org.apache.spark.sql.graft.NearestCodebookCell(col("q"), bc)
            .as("cell"))
        .select(col("cell"), posexplode_outer(col("q")).as(Seq("pos", "x")))
        .filter(col("pos").isNotNull)
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x").cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      val grouped = sums.groupBy(_.getLong(0))
      cb = org.apache.spark.sql.graft.Codebook.build(
        cb.ids.zip(cb.cent).map { case (cell, cv) =>
          grouped.get(cell) match {
            case Some(rows) =>
              cell -> rows.sortBy(_.getInt(1)).map { r =>
                if (r.isNullAt(2)) Double.NaN
                else r.getLong(2).toDouble / r.getLong(3).toDouble
              }
            case None => cell -> cv // empty cell keeps its centroid
          }
        })
    }
    val bc = sc.broadcast(cb)
    codes.select(col("id"),
      org.apache.spark.sql.graft.NearestCodebookCell(col("q"), bc).as("cell"))
  }

  /** The former join+aggregate Lloyd loop — [[kmeansCells]]'s
    * corrupt-seed/streaming fallback and the spec comparison arm.
    */
  private[graft] def kmeansCellsJoin(emb: DataFrame, idCol: String,
      vecCol: String, ncells: Int, iters: Int,
      sweep: SweepCheckpoint = SweepCheckpoint.Local): DataFrame = {
    val codes0 = Quantize.int8Codes(emb, idCol, vecCol)
    val seed = codes0.filter(col("id") < ncells)
      .select(col("id").as("cell"), col("q").as("cv"))
    // every iteration's distance pass runs above this exchange
    val codes = parallelized(codes0)
    require(!seed.isEmpty, s"kmeansCells: seed centroid table is empty — " +
      s"no $idCol < ncells=$ncells exists (ids must start at 0 per the " +
      "assignCells convention); normalize ids or raise ncells")
    var cent = seed
    var prev: Option[DataFrame] = None
    for (i <- 0 until iters) {
      val assigned = assignToCentroids(codes, cent)
      val sums = assigned
        .select(col("cell"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x").cast("long")).as("s"), count(lit(1)).as("n"))
      val means = sums
        .withColumn("m", col("s").cast("double") / col("n").cast("double"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          p => p.getField("m")).as("nc"))
      cent = Dedup.sweepMaterialize(
        cent.join(means, Seq("cell"), "left")
          .select(col("cell"), coalesce(col("nc"), col("cv")).as("cv")),
        sweep, i)
      prev.foreach(p => Dedup.sweepFree(p, sweep, i - 1))
      prev = Some(cent)
    }
    assignToCentroids(codes, cent).select(col("id"), col("cell"))
  }

  /** The batched-ANN probe-broadcast gate: does the query side fit
    * under BOTH the query-count and the float (count x dim) bound?
    * With no hints, one eager aggregate over the raw query input
    * (column-pruned to the vector column, no cast, no norm filter —
    * an upper bound of the filtered probe side). `knownQueryCount`
    * >= 0 skips the job; a nonpositive dim (hinted or from an empty
    * table) disables the float bound. Division instead of
    * multiplication so a huge hinted count cannot overflow the
    * comparison.
    */
  private def probeFits(queries: DataFrame, qvecCol: String,
      maxQueries: Long, maxFloats: Long,
      knownCount: Long, knownDim: Long): Boolean = {
    val (nq, qdim) =
      if (knownCount >= 0L) (knownCount, knownDim)
      else {
        val r = queries.agg(count(lit(1)).as("n"),
          coalesce(max(size(col(qvecCol))), lit(0)).as("d")).head()
        (r.getLong(0), r.getInt(1).toLong)
      }
    nq <= maxQueries && (qdim <= 0L || nq <= maxFloats / qdim)
  }

  private def assignToCentroids(codes: DataFrame,
      cent: DataFrame): DataFrame =
    codes.join(broadcast(cent))
      .withColumn("d", Vec.sqDist(col("q"), col("cv")))
      .groupBy(col("id"))
      .agg(min_by(struct(col("cell"), col("q")),
        struct(col("d"), col("cell"))).as("m"))
      .select(col("id"), col("m.cell").as("cell"), col("m.q").as("q"))

  /** Signed-random-projection LSH search (Charikar STOC'02 cosine
    * sketch): each vector is bucketed by the sign pattern of `nPlanes`
    * +/-1 hyperplane projections; a query probes every bucket within
    * `maxHamming` bit flips of its own and ranks the candidates by
    * exact cosine. Complements `ivfTopK` — SRP needs no centroid table
    * and its collision probability is 1 - theta/pi per plane, so bucket
    * balance is data-independent.
    *
    * The hyperplanes are +/-1-valued with signs drawn from the shared
    * 60-bit md5 hash family keyed by (plane, dimension), derived
    * in-plan from the corpus dimensionality (a 1-row broadcast agg) —
    * deterministic, cross-engine reproducible, and dimension-agnostic.
    * Scale shape: the plane table (nPlanes rows) and the single query
    * row are broadcast; bucketing is one map-side expansion (x nPlanes)
    * into a partial-aggregatable integer sum keyed on the vector id; at
    * 100 TB the bucket column is materialized once and the probe is a
    * bucket-pruned scan, exactly like the IVF cell table.
    */
  def srpTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nPlanes: Int = 8, maxHamming: Int = 1): DataFrame = {
    val e0 = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val bucketed = srpBucketedAs(widened(e0), "id", "v", e0, "v", nPlanes)
      .filter(nonZero(col("v")))
    val q = bucketed.filter(col("id") === queryId)
      .select(col("v").as("qv"), col("bucket").as("qb"))
    bucketed
      .join(broadcast(q),
        bit_count(col("bucket").bitwiseXOR(col("qb"))) <= maxHamming)
      .filter(col("id") =!= queryId)
      .withColumn("cos", Vec.cosine(col("v"), col("qv")))
      .select(col("id"), col("bucket"), col("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** SRP sign-pattern bucketing as ONE map-side projection (r17, guide
    * §2.3/§2.4): the hyperplane table — nPlanes rows derived in-plan
    * from the corpus dimensionality, as before — is collapsed into a
    * single broadcast row (sorted by plane id) and the bucket is an
    * ascending-plane fold `acc + (dot(v, w_p) > 0 ? 1<<p : 0)`. The
    * former shape joined the nPlanes-row table (x nPlanes expansion)
    * and re-assembled rows with `groupBy(id).agg(sum(bit), first(v))`
    * — a unique-grouping-key aggregate that shipped one full copy of
    * every VECTOR through its exchange (the NearestCell/SCALE_r17 §3b
    * pathology). Per-plane dots and bit values are the identical
    * expressions; the bit sum is an integer total, order-free, so the
    * bucket is bit-identical. Assumes unique ids (the corpus contract
    * every search operator already carries — the old aggregate
    * collapsed duplicate ids to one arbitrary row rather than doing
    * anything well-defined with them).
    */
  /** Pin the frame to session width BEFORE a map-only stage whose
    * downstream is compute-heavy (the SCALE_r17 §7 / d6 lesson,
    * re-learned here on s6: removing the former bucketing aggregate's
    * exchange also removed the width it accidentally provided — at a
    * 13 MB sf1 corpus, under [[parallelized]]'s 16 MB byte floor, the
    * whole bucket + candidate join + cosine pipeline serialized on ONE
    * scan split and s6 ran 1.6x SLOWER than the join arm, probed
    * single-session, OPTIMIZATION_r17 §5). The former aggregate exchanged
    * the corpus unconditionally, so an explicit-width repartition can
    * never cost more than the old shape — and explicit widths are
    * exempt from AQE's byte-based coalescing, which cannot see
    * compute density.
    */
  private def widened(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  private def srpBucketed(df: DataFrame, idc: String, vc: String,
      nPlanes: Int): DataFrame =
    srpBucketedAs(df, idc, vc, df, vc, nPlanes)

  /** [[srpBucketed]] with the hyperplane table derived from a separate
    * frame's dimensionality (the query side buckets under the CORPUS's
    * planes, as the former shared-planes shape did).
    */
  private def srpBucketedAs(df: DataFrame, idc: String, vc: String,
      dimSource: DataFrame, dimVc: String, nPlanes: Int): DataFrame = {
    import graft.functions.Hashing
    val dim = dimSource.agg(max(size(col(dimVc))).as("dim"))
    val planes = dim
      .select(explode(sequence(lit(0), lit(nPlanes - 1))).as("p"), col("dim"))
      .select(col("p"),
        transform(sequence(lit(0), col("dim") - 1),
          i => when(Hashing.hash60(i.cast("string"), col("p"))
            .bitwiseAND(lit(1L)) === 1L, lit(1.0)).otherwise(lit(-1.0))).as("w"))
    val planes1 = planes
      .agg(sort_array(collect_list(struct(col("p"), col("w")))).as("pws"))
    // per-plane terms are UNROLLED over the compile-time nPlanes
    // instead of an `aggregate` HOF fold: HOFs evaluate their lambda
    // (and the dot inside it) interpreted per element, where the
    // unrolled sum whole-stage-compiles; pws is sorted by p, so
    // element i+1 is plane i and 1<<i is its literal bit. The bit sum
    // is an exact integer in any association.
    val bucket = (0 until nPlanes).map { p =>
      when(Vec.dot(col(vc),
          element_at(col("pws"), p + 1).getField("w")) > lit(0.0),
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.join(broadcast(planes1))
      .select(col(idc), col(vc), bucket.as("bucket"))
  }

  /** Batched IVF search: top-k per row of a query TABLE — the
    * production entry point (a similarity service answers a probe SET,
    * not one id). Shape: the cell assignment is computed once
    * (reusable/materializable); the query set expands to its `nprobe`
    * closest cells (a broadcast-sized table — queries x ncells rows)
    * and the corpus joins it with an EQUI-join on the cell key, so
    * each corpus row meets only the queries probing its cell — never
    * an all-pairs product. Per-query ranking is one window row_number
    * over the candidate set, keyed by the query id.
    *
    * `queries` carries (`qidCol`, `qvecCol`); self-matches (corpus id
    * == query id) are excluded like the single-query operators.
    *
    * The broadcast of the probe expansion assumes the query set is
    * small next to the corpus — true for a similarity service
    * answering a probe batch, but `queries` is an arbitrary caller
    * DataFrame and one COUPLED to the corpus (a predicate slice, a
    * whole-table self-search) grows the broadcast linearly with the
    * corpus until the driver dies. So the assumption is ENFORCED, not
    * documented away (the d7 recipe, `Decontaminate.flags`): the
    * query side is gated, and above either bound the candidate join
    * falls back to a shuffle equi-join on the cell key with
    * sort-merge PINNED (Catalyst's size estimate for the probe
    * expansion is crude and could re-broadcast it). Same results
    * either way, spec-pinned.
    *
    * Each probe row carries the full query vector (nprobe x dim x 8
    * bytes per query), so a count-only gate has a fat-vector hole:
    * 64k queries at dim=4096 is a ~4 GB broadcast that a doc bound
    * alone admits. The gate is therefore denominated in BOTH queries
    * and floats (count x dim), the d7 doc+gram double-bound recipe;
    * the defaults coincide at dim=128 (2^16 queries x 128 = 2^23
    * floats ~ 100 MB at nprobe=2).
    *
    * The gate runs ONE eager aggregate (count + max dim) over the raw
    * query input — column-pruned, no vector cast, no norm filter, so
    * it is an upper bound of the filtered probe side and strictly
    * cheaper than the probe subplan itself — the price of refusing to
    * OOM lazily. Callers that already know their probe batch size can
    * skip the job entirely with `knownQueryCount`/`knownQueryDim`
    * (TRUSTED upper bound / exact dim; a count hint without a dim
    * hint disables the float bound, the flagsFromShingled negative
    * convention).
    */
  def ivfTopKAll(emb: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, ncells: Int = 0, nprobe: Int = 2,
      maxBroadcastQueries: Long = 1L << 16,
      maxBroadcastQueryFloats: Long = 1L << 23,
      knownQueryCount: Long = -1L, knownQueryDim: Long = -1L): DataFrame = {
    // ncells <= 0 = AUTO (see autoCells): a batched query table grows
    // with the corpus, so fixed cells make this operator quadratic per
    // decade; explicit ncells stays for pinned structures
    val cells = if (ncells > 0) ncells else autoCells(emb, idCol)
    val e = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(qidCol).as("qid"),
      asDouble(col(qvecCol)).as("qv"))
      .filter(nonZero(col("qv")))
    val cent = e.filter(col("id") < cells)
      .select(col("id").as("cell"), col("v").as("cv"))
    // per-query probe cells: queries x nprobe rows; the nprobe cut is
    // a row_number over the query table, not the corpus
    val qcells = q.join(broadcast(cent))
      .withColumn("d", Vec.sqDist(col("cv"), col("qv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d").asc, col("cell").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("cell"))
    val probeSide =
      if (probeFits(queries, qvecCol, maxBroadcastQueries,
        maxBroadcastQueryFloats, knownQueryCount, knownQueryDim))
        broadcast(qcells)
      else qcells.hint("merge")
    val cand = assignCells(emb, idCol, vecCol, cells)
      .filter(nonZero(col("v")))
      .join(probeSide, "cell")
      .filter(col("id") =!= col("qid"))
      .withColumn("cos", Vec.cosine(col("v"), col("qv")))
      .select(col("qid"), col("id"), col("cell"), col("cos"))
    // per-query top-k through the bounded per-group heap instead of a
    // window row_number: the window SORTS every query's whole
    // candidate run (~corpus x nprobe / ncells rows per query) where
    // the heap streams it in one pass holding k rows per query —
    // same exchange, no sort buffer (the s10 sf100 probe named this
    // sort as the family's residual constant). Ordering is total
    // ((cos, id)), so the result set is identical to the rank filter.
    org.apache.spark.sql.graft.TopKPerGroup(cand, k, Seq(col("qid")),
      Seq(col("cos").desc, col("id").asc))
  }

  /** Batched SRP search: top-k per query-table row. Better than a
    * per-query replay of [[srpTopK]]'s non-equi Hamming join: each
    * query EXPANDS to its whole Hamming-<=maxHamming probe ball
    * (sum of C(nPlanes, r) buckets — 9 for 8 planes at radius 1), and
    * the corpus bucket table joins that expansion with an EQUI-join on
    * the bucket value. The ball is enumerated driver-side (it is a
    * function of two small integers, not of data) and shipped as one
    * literal array.
    *
    * The probe-ball broadcast is gated exactly like [[ivfTopKAll]]
    * (each query expands to sum of C(nPlanes, r) probe rows, each
    * carrying the query vector): above the query-count OR float
    * (count x dim) bound the candidate join falls back to a PINNED
    * sort-merge equi-join on the bucket key — same results, one
    * eager aggregate over the raw query input as the price, skipped
    * when the caller passes `knownQueryCount`/`knownQueryDim`.
    */
  def srpTopKAll(emb: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nPlanes: Int = 8, maxHamming: Int = 1,
      maxBroadcastQueries: Long = 1L << 16,
      maxBroadcastQueryFloats: Long = 1L << 23,
      knownQueryCount: Long = -1L, knownQueryDim: Long = -1L): DataFrame = {
    val e = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // map-only bucketing on BOTH sides (see srpBucketed — the former
    // per-side groupBy(id) aggregate exchanged a copy of every vector).
    // The hyperplane table derives from the CORPUS dimensionality for
    // both sides, as before.
    val bucketed = srpBucketedAs(widened(e), "id", "v", e, "v", nPlanes)
      .filter(nonZero(col("v")))
    val qin = queries.select(col(qidCol).as("qid"),
      asDouble(col(qvecCol)).as("qv"))
      .filter(nonZero(col("qv")))
    val q = srpBucketedAs(qin, "qid", "qv", e, "v", nPlanes)
    // Hamming ball of xor-masks at radius <= maxHamming (driver-side:
    // depends only on nPlanes/maxHamming)
    val ball = (0L until (1L << nPlanes))
      .filter(m => java.lang.Long.bitCount(m) <= maxHamming)
    val probes = q.select(col("qid"), col("qv"), col("bucket").as("qb"),
      explode(lit(ball.toArray)).as("mask"))
      .select(col("qid"), col("qv"),
        col("mask").bitwiseXOR(col("qb")).as("bucket"))
    // gate on the RAW query input: an upper bound of the bucketed
    // probe side, and it skips re-running the bucketing subplan
    val probeSide =
      if (probeFits(queries, qvecCol, maxBroadcastQueries,
        maxBroadcastQueryFloats, knownQueryCount, knownQueryDim))
        broadcast(probes)
      else probes.hint("merge")
    val cand = bucketed
      .join(probeSide, "bucket")
      .filter(col("id") =!= col("qid"))
      .withColumn("cos", Vec.cosine(col("v"), col("qv")))
      .select(col("qid"), col("id"), col("bucket"), col("cos"))
    // bounded per-group heap instead of a window sort (see ivfTopKAll)
    org.apache.spark.sql.graft.TopKPerGroup(cand, k, Seq(col("qid")),
      Seq(col("cos").desc, col("id").asc))
  }

  /** IVF search: probe the `nprobe` cells closest to the query vector,
    * exact cosine top-k within them.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, ncells: Int = 8, nprobe: Int = 2): DataFrame = {
    val e = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val q = e.filter(col("id") === queryId && nonZero(col("v")))
      .select(col("v").as("qv"))
    val assigned = assignCells(emb, idCol, vecCol, ncells)
      .filter(nonZero(col("v")))
    val probed = e.filter(col("id") < ncells)
      .select(col("id").as("cell"), col("v").as("cv"))
      .join(broadcast(q))
      .withColumn("d", Vec.sqDist(col("cv"), col("qv")))
      .orderBy(col("d").asc, col("cell").asc)
      .limit(nprobe)
      .select(col("cell"))
    assigned
      .join(broadcast(probed), "cell")
      .filter(col("id") =!= queryId)
      .join(broadcast(q))
      .withColumn("cos", Vec.cosine(col("v"), col("qv")))
      .select(col("id"), col("cell"), col("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }
}
