package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{AdcDistance, AdcTables, Codebook, NearestSubCell, PqCodebooks, PqEncode}

import graft.dedup.{Dedup, SweepCheckpoint, Vec}

/** Product quantization (Jégou et al., TPAMI 2011) — the
  * memory-compression half of a corpus-scale ANN index, complementing
  * [[Similarity.ivfTopKAll]]'s routing half. Each vector splits into
  * `nsub` subvectors; each subspace trains its own `kcent`-centroid
  * codebook; a vector is stored as `nsub` small codes (one byte each at
  * kcent <= 256) instead of dim floats — a 100 TB float32 corpus at
  * dim=128 becomes ~3 TB of codes. A query is answered via asymmetric
  * distance computation (ADC): one (nsub x kcent) table of exact
  * query-to-centroid distances, then every corpus vector's approximate
  * distance is `nsub` table lookups and adds — no float vector is ever
  * touched at search time.
  *
  * Spark-first shape:
  *  - training runs ALL subspaces in one keyed Lloyd loop — centroids
  *    are keyed by (sub, cell), the per-iteration argmin is one
  *    partial-aggregatable min_by keyed on (id, sub), and the mean
  *    update is one (sub, cell, pos) hash aggregate — so each
  *    iteration is ONE pass over the corpus however many subspaces
  *    train (nsub sequential loops would scan nsub x iters times);
  *  - per-iteration centroid tables (nsub x kcent rows — tiny by
  *    construction) are eagerly materialized through the shared
  *    [[graft.dedup.SweepCheckpoint]] media, the
  *    [[Similarity.kmeansCells]] schedule;
  *  - the ADC distance table is literal-sized and BROADCAST onto the
  *    code table: search is a map-side join + one hash aggregate per
  *    query — no shuffle of anything corpus-sized, and the scan reads
  *    only the (id, sub, code) columns.
  *
  * Cross-engine exactness (the s7 conventions): training runs on the
  * [[Quantize.int8Codes]] representation so every cross-row mean sum
  * is an integer; the only floats are the per-(cell,dim) mean division
  * and [[Vec.sqDist]] folds; the final per-vector distance folds the
  * per-subspace lookups in a FIXED left-to-right association (sub
  * order), so DuckDB reproduces it bit-for-bit.
  *
  * Subspace boundaries are `[floor(s*dim/nsub), floor((s+1)*dim/nsub))`
  * of the per-row dimensionality — ragged dims split consistently on
  * both engines. Degenerate rows (dim < nsub) would produce empty
  * subvectors whose dot products diverge across engines; callers keep
  * corpus dim >= nsub (any real embedding table does).
  */
object ProductQuantize {

  /** (id, sub, sv): the int8-code subvector table. */
  private def subCodes(codes: DataFrame, nsub: Int): DataFrame =
    codes
      .withColumn("dim", size(col("q")))
      .select(col("id"), explode(sequence(lit(0), lit(nsub - 1))).as("sub"),
        col("q"), col("dim"))
      .withColumn("lo", floor(col("sub") * col("dim") / lit(nsub)).cast("int"))
      .withColumn("hi",
        floor((col("sub") + lit(1)) * col("dim") / lit(nsub)).cast("int"))
      .select(col("id"), col("sub"),
        slice(col("q"), col("lo") + lit(1), col("hi") - col("lo")).as("sv"))

  /** Keyed argmin: nearest (sub, cell) centroid per (id, sub), ties to
    * the lowest cell — partial-aggregatable min_by, no window sort.
    */
  private def assign(subcodes: DataFrame, cent: DataFrame): DataFrame =
    subcodes.join(broadcast(cent), "sub")
      .withColumn("d", Vec.sqDist(col("sv"), col("cv")))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(struct(col("cell"), col("sv")),
        struct(col("d"), col("cell"))).as("m"))
      .select(col("id"), col("sub"), col("m.cell").as("cell"),
        col("m.sv").as("sv"))

  /** Trained codebooks (sub, cell, cv) and the encoded corpus
    * (id, sub, code) — `iters` Lloyd steps across all subspaces at
    * once from the deterministic seed (vectors with id < kcent, the
    * [[Similarity.assignCells]] convention; empty cells keep their
    * previous centroid).
    *
    * r17 (optimization round, guide §2.3/§2.4): the default route runs
    * the Lloyd loop through [[trainCodebooks]] — per-iteration
    * assignment is ONE scalar expression per row against a broadcast
    * [[org.apache.spark.sql.graft.PqCodebooks]] (map-only; the former
    * join + `groupBy(id, sub).min_by` exchanged one full copy of every
    * subvector per iteration because the grouping key is unique), the
    * iteration's only exchange is the tiny (sub, cell, pos) mean
    * aggregate (collected: nsub x kcent x subdim rows), and the
    * returned centroid table is a literal local relation, so no
    * per-iteration checkpoint is needed to keep the plan flat (`sweep`
    * is unused on this route). The former join+aggregate loop remains
    * in [[trainJoin]] — the fallback for corrupt seeds (null centroid
    * vectors / non-integral ids, whose null-ordering semantics it
    * pins) and the equivalence-spec comparison arm.
    */
  def train(emb: DataFrame, idCol: String, vecCol: String,
      nsub: Int, kcent: Int, iters: Int,
      sweep: SweepCheckpoint = SweepCheckpoint.Local): (DataFrame, DataFrame) =
    trainCodebooks(emb, idCol, vecCol, nsub, kcent, iters) match {
      case Some(cb) =>
        val spark = emb.sparkSession
        val bc = spark.sparkContext.broadcast(cb)
        val codes = Quantize.int8Codes(emb, idCol, vecCol)
        // posexplode_OUTER + never-dropping post-filter (PqEncode is
        // non-null, length nsub): an inner generate's inferred
        // size-filter would re-evaluate the whole encode per row in
        // the scan's data filter (see trainCodebooks)
        val codeTab = graft.ScanBytes.spread(codes, graft.ScanBytes.VectorFloor)
          .select(col("id"),
            posexplode_outer(PqEncode(col("q"), bc)).as(Seq("sub", "cell")))
          .filter(col("sub").isNotNull)
        (codebookDf(spark, cb), codeTab)
      case None => trainJoin(emb, idCol, vecCol, nsub, kcent, iters, sweep)
    }

  /** The former join+aggregate Lloyd loop — [[train]]'s corrupt-seed
    * fallback and the spec comparison arm.
    */
  private[graft] def trainJoin(emb: DataFrame, idCol: String, vecCol: String,
      nsub: Int, kcent: Int, iters: Int,
      sweep: SweepCheckpoint = SweepCheckpoint.Local): (DataFrame, DataFrame) = {
    val codes = Quantize.int8Codes(emb, idCol, vecCol)
    val subcodes0 = subCodes(codes, nsub)
    val seed = subcodes0.filter(col("id") < kcent)
      .select(col("sub"), col("id").as("cell"), col("sv").as("cv"))
    // every iteration's distance pass runs above this exchange
    // (graft.ScanBytes.spread: a 1-2 split scan would
    // serialize the per-row assignment math on as many cores; the
    // size gate reads `codes` — subcodes' Generate has no
    // scan-derived estimate)
    val subcodes =
      graft.ScanBytes.spread(subcodes0, graft.ScanBytes.VectorFloor, codes)
    require(!seed.isEmpty, s"ProductQuantize.train: seed codebook is " +
      s"empty — no $idCol < kcent=$kcent exists (ids must start at 0); " +
      "normalize ids or raise kcent")
    var cent = seed
    var prev: Option[DataFrame] = None
    for (i <- 0 until iters) {
      val assigned = assign(subcodes, cent)
      val sums = assigned
        .select(col("sub"), col("cell"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(sum(col("x").cast("long")).as("s"), count(lit(1)).as("n"))
      val means = sums
        .withColumn("m", col("s").cast("double") / col("n").cast("double"))
        .groupBy(col("sub"), col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          p => p.getField("m")).as("nc"))
      cent = Dedup.sweepMaterialize(
        cent.join(broadcast(means), Seq("sub", "cell"), "left")
          .select(col("sub"), col("cell"),
            coalesce(col("nc"), col("cv")).as("cv")),
        sweep, i)
      prev.foreach(p => Dedup.sweepFree(p, sweep, i - 1))
      prev = Some(cent)
    }
    (cent, assign(subcodes, cent).select(col("id"), col("sub"), col("cell")))
  }

  /** Driver-side Lloyd over broadcast codebooks: `iters` steps, each
    * ONE distributed job (the map-only per-row assignment feeding the
    * partial-aggregated (sub, cell, pos) sum/count, collected — nsub x
    * kcent x subdim bounded rows), with the mean division and
    * empty-cell carry evaluated on the driver by the exact float ops
    * the join arm's `s.cast(double)/n.cast(double)` +
    * `coalesce(nc, cv)` evaluate. None when the seed is unusable for
    * the kernel (empty handled by the shared require; null seed
    * subvectors / non-integral ids fall back to [[trainJoin]], whose
    * null-ordering semantics are pinned).
    */
  /** Long-or-nothing read of an id cell (the
    * Similarity.collectCentroids idOf convention): Long.MinValue marks
    * a non-integral id, which routes to the join arm.
    */
  private def idOf(x: Any): Long = x match {
    case l: java.lang.Long => l.longValue()
    case n: java.lang.Integer => n.longValue()
    case n: java.lang.Short => n.longValue()
    case n: java.lang.Byte => n.longValue()
    case _ => Long.MinValue
  }

  private def vecOf(xs: Seq[Any]): Array[Double] = xs.map {
    case null => Double.NaN // DotProduct's null-element read
    case d: java.lang.Double => d.doubleValue()
    case x: java.lang.Number => x.doubleValue()
  }.toArray

  private[graft] def trainCodebooks(emb: DataFrame, idCol: String,
      vecCol: String, nsub: Int, kcent: Int,
      iters: Int): Option[PqCodebooks] = {
    if (emb.isStreaming) return None // no eager collects on a stream
    val codes0 = Quantize.int8Codes(emb, idCol, vecCol)
    val subcodes0 = subCodes(codes0, nsub)
    val seedRows = subcodes0.filter(col("id") < kcent)
      .select(col("sub"), col("id").as("cell"), col("sv")).collect()
    require(seedRows.nonEmpty, s"ProductQuantize.train: seed codebook is " +
      s"empty — no $idCol < kcent=$kcent exists (ids must start at 0); " +
      "normalize ids or raise kcent")
    if (seedRows.exists(r => idOf(r.get(1)) == Long.MinValue || r.isNullAt(2)))
      return None // non-integral id / null seed subvector: join arm
    val bySub = seedRows.groupBy(_.getInt(0))
    if (bySub.size != nsub) return None // a subspace with no seed row
    val seed = Array.tabulate(nsub) { s =>
      Codebook.build(bySub(s).map(r =>
        idOf(r.get(1)) -> vecOf(r.getSeq[Any](2))))
    }
    var cb = new PqCodebooks(seed)
    val subcodes =
      graft.ScanBytes.spread(subcodes0, graft.ScanBytes.VectorFloor, codes0)
    val sc = emb.sparkSession.sparkContext
    for (_ <- 0 until iters) {
      val bc = sc.broadcast(cb)
      // the assignment is projected BELOW the explode: a generator's
      // non-generator select expressions are planned in the Project
      // ABOVE the Generate, where the argmin would re-evaluate once
      // per exploded ELEMENT (measured: s7 ran 5x slower before this
      // split — subdim x the assignment work). posexplode_OUTER +
      // post-filter, row-equivalent to the inner explode — an INNER
      // generate gets an inferred `size(sv) > 0` filter that predicate
      // pushdown re-evaluates below (the kmeansCells note has the
      // measured 2x); outer generates infer no filter.
      val sums = subcodes.select(col("sub"), col("sv"),
          NearestSubCell(col("sub"), col("sv"), bc).as("cell"))
        .select(col("sub"), col("cell"),
          posexplode_outer(col("sv")).as(Seq("pos", "x")))
        .filter(col("pos").isNotNull)
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(sum(col("x").cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      // driver mean update: per (sub, cell), values in ascending-pos
      // order (the join arm's array_sort(collect_list(struct(pos, m)))),
      // m = s/n as the identical double division; a null s (all-null
      // elements) lands as NaN — the value the next iteration's
      // distance fold reads a null element as. Cells with no assigned
      // rows keep their previous centroid (the left-join coalesce).
      val grouped = sums.groupBy(r => (r.getInt(0), r.getLong(1)))
      val next = Array.tabulate(nsub) { s =>
        val old = cb.subs(s)
        val entries = old.ids.zip(old.cent).map { case (cell, cv) =>
          grouped.get((s, cell)) match {
            case Some(rows) =>
              cell -> rows.sortBy(_.getInt(2)).map { r =>
                if (r.isNullAt(3)) Double.NaN
                else r.getLong(3).toDouble / r.getLong(4).toDouble
              }
            case None => cell -> cv
          }
        }
        Codebook.build(entries)
      }
      cb = new PqCodebooks(next)
    }
    Some(cb)
  }

  /** The (sub, cell, cv) centroid table of trained codebooks as a
    * literal local relation (no job to produce it).
    */
  private def codebookDf(spark: org.apache.spark.sql.SparkSession,
      cb: PqCodebooks): DataFrame = {
    import spark.implicits._
    cb.subs.zipWithIndex.flatMap { case (b, s) =>
      b.ids.zip(b.cent).map { case (cell, cv) => (s, cell, cv.toSeq) }
    }.toSeq.toDF("sub", "cell", "cv")
  }

  /** ADC top-k for the vector of `queryId`: exact distances to the
    * query fill a (nsub x kcent) table; every corpus vector's
    * approximate squared-L2 distance is the sub-ordered left-fold sum
    * of its `nsub` lookups. Returns (id, adist) ascending.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nsub: Int = 4, kcent: Int = 8, iters: Int = 2,
      sweep: SweepCheckpoint = SweepCheckpoint.Local): DataFrame =
    trainCodebooks(emb, idCol, vecCol, nsub, kcent, iters) match {
      case Some(cb) =>
        // r17 map-only ADC (guide §2.4): the (nsub x kcent) distance
        // table — Spark-evaluated over the literal centroid relation,
        // exactly the rows the former plan broadcast — is collected
        // and broadcast as a lookup object, so search is one scan:
        // per-row encode (broadcast codebooks) + per-row table-lookup
        // fold + TakeOrdered. The former plan shipped every (id, sub)
        // code row through a unique-key hash aggregate to assemble the
        // same sum.
        val spark = emb.sparkSession
        val bcCb = spark.sparkContext.broadcast(cb)
        val centDf = codebookDf(spark, cb)
        val dtRows = subCodes(
          Quantize.int8Codes(
            emb.filter(col(idCol) === queryId), idCol, vecCol), nsub)
          .select(col("sub"), col("sv").as("qv"))
          .join(broadcast(centDf), "sub")
          .withColumn("d", Vec.sqDist(col("qv"), col("cv")))
          .select(col("sub"), col("cell"), col("d")).collect()
        val codes = Quantize.int8Codes(emb, idCol, vecCol)
        val scored = graft.ScanBytes.spread(codes, graft.ScanBytes.VectorFloor)
          .select(col("id"), PqEncode(col("q"), bcCb).as("codes"))
        if (dtRows.isEmpty) // absent query id: the former inner join
          return scored.select(col("id"), lit(0.0).as("adist")) // emitted nothing
            .filter(lit(false))
        val bcDt = spark.sparkContext.broadcast(AdcTables.build(
          cb.subs.map(_.ids),
          dtRows.iterator.map(r => (queryId, r.getInt(0), r.getLong(1),
            if (r.isNullAt(2)) null
            else java.lang.Double.valueOf(r.getDouble(2))))))
        scored
          .select(col("id"),
            AdcDistance(lit(queryId), col("codes"), bcDt).as("adist"))
          .filter(col("id") =!= queryId)
          .orderBy(col("adist").asc, col("id").asc)
          .limit(k)
      case None => pqTopKJoin(emb, idCol, vecCol, queryId, k, nsub, kcent,
        iters, sweep)
    }

  /** The former join+aggregate ADC plan — [[pqTopK]]'s corrupt-seed
    * fallback and the spec comparison arm.
    */
  private[graft] def pqTopKJoin(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nsub: Int = 4, kcent: Int = 8, iters: Int = 2,
      sweep: SweepCheckpoint = SweepCheckpoint.Local): DataFrame = {
    val (cent, codeTab) = trainJoin(emb, idCol, vecCol, nsub, kcent, iters,
      sweep)
    val qsub = subCodes(
      Quantize.int8Codes(
        emb.filter(col(idCol) === queryId), idCol, vecCol), nsub)
      .select(col("sub"), col("sv").as("qv"))
    // explicit hint: cent is literal-sized (nsub x kcent rows) but its
    // checkpointed-plan size ESTIMATE is timing-dependent, and an
    // auto-broadcast decision that falls to sort-merge would sort both
    // sides for a 32-row join (found as a plan-spec flake under
    // full-suite memory pressure)
    val dt = qsub.join(broadcast(cent), "sub")
      .withColumn("d", Vec.sqDist(col("qv"), col("cv")))
      .select(col("sub"), col("cell"), col("d"))
    codeTab.join(broadcast(dt), Seq("sub", "cell"))
      .groupBy(col("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("d")))),
        p => p.getField("d")).as("ds"))
      .withColumn("adist",
        (1 to nsub).map(i => element_at(col("ds"), i)).reduce(_ + _))
      .filter(col("id") =!= queryId)
      .select(col("id"), col("adist"))
      .orderBy(col("adist").asc, col("id").asc)
      .limit(k)
  }

  /** Batched IVF-PQ search — the two halves of the corpus-scale ANN
    * index composed (Jégou et al.'s full IVFADC system, batched over a
    * query TABLE like [[Similarity.ivfTopKAll]]): IVF cell routing
    * prunes WHICH vectors each query scores (corpus/ncells per probe
    * on average), product quantization prunes WHAT is read to score
    * them (nsub one-byte codes, never the float vector).
    *
    * Plan shape per batch: the per-query probe list (qid, cell — two
    * longs per row) and the per-query ADC distance tables (|Q| x nsub
    * x kcent fixed-width rows — exactly sizeable from the query count
    * alone, no dim term) broadcast onto the corpus, so candidate
    * generation is a map-side equi-join on the routing cell, scoring
    * is map-side lookups, and the only wide exchange is the (qid, id)
    * hash aggregate folding the nsub lookups — nothing corpus-sized
    * shuffles, and the window ranking partitions by query over
    * cell-bounded candidate sets, never the corpus. Above the
    * query-count gate both broadcasts fall back to a pinned sort-merge
    * (the s5/s6 convention; one eager count, skipped via
    * `knownQueryCount`).
    *
    * Exactness: routing mirrors [[Similarity.assignCells]]'s
    * argmin-sqDist-ties-to-lowest-cell; scoring is the s8 sub-ordered
    * left-fold; ranking ties break on (adist, id) — all
    * engine-mirrorable term-for-term.
    *
    * Self-exclusion: candidates with `id == qid` are dropped (the
    * s5/s6 self-query convention — the query table is a slice of the
    * corpus, and a vector's nearest neighbor is trivially itself). If
    * the query table comes from an EXTERNAL id space that happens to
    * overlap the corpus ids, those collisions are excluded too —
    * remap one id space before calling if that is not wanted.
    */
  /** ADC-broadcast budget for [[ivfPqTopKAll]]'s AUTO gate, in table
    * ENTRIES (nq x nsub x kcent doubles): 2^22 entries = 32 MB of
    * packed payload — comfortably under broadcast norms (guide §3.1:
    * "a few hundred MB is usually fine") with room for the transient
    * driver collect's Row overhead (measured, tools/PqGateProbe).
    */
  private[graft] val MaxAdcEntries = 1L << 22

  def ivfPqTopKAll(emb: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, ncells: Int = 0, nprobe: Int = 2,
      nsub: Int = 4, kcent: Int = 8, iters: Int = 2,
      sweep: SweepCheckpoint = SweepCheckpoint.Local,
      maxBroadcastQueries: Long = -1L,
      knownQueryCount: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ncells <= 0 = AUTO (Similarity.autoCells): per-query candidates
    // are ~corpus * nprobe / ncells, so a fixed cell count over a
    // growing corpus and query table is quadratic per data decade
    // (SCALE_r12: 23x at sf10); explicit ncells stays for pinned
    // structures. The PQ codebook (nsub x kcent) is residual-free and
    // independent of the cell count, so it needs no scaling.
    val cells =
      if (ncells > 0) ncells
      else graft.sim.Similarity.autoCells(emb, idCol)
    val e = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val icent = e.filter(col("id") < cells)
      .select(col("id").as("icell"), col("v").as("icv"))
    val q = queries.select(col(qidCol).as("qid"),
      col(qvecCol).cast("array<double>").as("qv"))
    val qprobe = q.join(broadcast(icent))
      .withColumn("d", Vec.sqDist(col("qv"), col("icv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d").asc, col("icell").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("icell"))
    val nq =
      if (knownQueryCount >= 0L) knownQueryCount
      else q.agg(count(lit(1))).head().getLong(0)
    // r18 (VERDICT r17 #7): the AUTO gate (maxBroadcastQueries < 0,
    // the new default) is denominated in ADC-TABLE ENTRIES, not a flat
    // query count — the broadcast the gate protects holds nq x nsub x
    // kcent doubles (plus the transient driver collect of the same
    // rows), so the safe query count scales inversely with the
    // codebook size. MaxAdcEntries = 2^22 (~32 MB of table payload
    // plus transient driver-side Row overhead against the 8 GB driver
    // — measured, tools/PqGateProbe): at the default nsub=4 x kcent=8
    // the gate sits at 2^17 queries, DOUBLE the old flat 2^16. An
    // explicit non-negative maxBroadcastQueries stays a flat cap (the
    // spec hook for forcing the join arm).
    val gate =
      if (maxBroadcastQueries >= 0L) maxBroadcastQueries
      else MaxAdcEntries / math.max(1L, nsub.toLong * kcent.toLong)
    val fits = nq <= gate
    val cbOpt =
      if (fits) trainCodebooks(emb, idCol, vecCol, nsub, kcent, iters)
      else None // over the gate the dt table must not be collected
    cbOpt match {
      case Some(cb) =>
        // r17 map-only IVF-PQ (guide §2.4/§8: decide with small rows,
        // never shuffle the corpus): ONE corpus projection computes
        // the routing cell (broadcast NearestCell) AND the nsub PQ
        // codes (broadcast PqEncode) per row; candidates come from the
        // broadcast probe join; scoring is a per-row broadcast-table
        // fold. The former plan re-joined the corpus-sized (id, sub,
        // cell) code table (a sort-merge: two exchanges + sorts) and
        // assembled the fold through a unique-key (qid, id) hash
        // aggregate over nsub rows per candidate. The only remaining
        // exchange is TopKPerGroup's bounded per-query heap.
        val spark = emb.sparkSession
        val bcCb = spark.sparkContext.broadcast(cb)
        val centDf = codebookDf(spark, cb)
        val dtRows = subCodes(Quantize.int8Codes(queries, qidCol, qvecCol),
            nsub)
          .select(col("id").as("qid"), col("sub"), col("sv").as("qsv"))
          .join(broadcast(centDf), "sub")
          .withColumn("d", Vec.sqDist(col("qsv"), col("cv")))
          .select(col("qid"), col("sub"), col("cell"), col("d")).collect()
        val bcDt = spark.sparkContext.broadcast(AdcTables.build(
          cb.subs.map(_.ids),
          dtRows.iterator.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            if (r.isNullAt(3)) null
            else java.lang.Double.valueOf(r.getDouble(3))))))
        val corpus = graft.sim.Similarity
          .assignCells(emb, idCol, vecCol, cells)
          .select(col("id"), col("cell").as("icell"),
            PqEncode(Quantize.int8CodeCol(col("v")), bcCb).as("codes"))
        val scored = corpus.join(broadcast(qprobe), "icell")
          .filter(col("id") =!= col("qid"))
          .select(col("qid"), col("id"),
            AdcDistance(col("qid"), col("codes"), bcDt).as("adist"))
        org.apache.spark.sql.graft.TopKPerGroup(scored, k, Seq(col("qid")),
          Seq(col("adist").asc, col("id").asc))
      case None =>
        val corpusCells = graft.sim.Similarity
          .assignCells(emb, idCol, vecCol, cells)
          .select(col("id"), col("cell").as("icell"))
        val (cent, codeTab) = train(emb, idCol, vecCol, nsub, kcent, iters,
          sweep)
        val qsub = subCodes(Quantize.int8Codes(queries, qidCol, qvecCol), nsub)
          .select(col("id").as("qid"), col("sub"), col("sv").as("qsv"))
        val dt = qsub.join(broadcast(cent), "sub")
          .withColumn("d", Vec.sqDist(col("qsv"), col("cv")))
          .select(col("qid"), col("sub"), col("cell"), col("d"))
        val probeSide = if (fits) broadcast(qprobe) else qprobe.hint("merge")
        val dtSide = if (fits) broadcast(dt) else dt.hint("merge")
        val scored = corpusCells.join(probeSide, "icell")
          .filter(col("id") =!= col("qid"))
          .select(col("qid"), col("id"))
          .join(codeTab, "id")
          .join(dtSide, Seq("qid", "sub", "cell"))
          .groupBy(col("qid"), col("id"))
          .agg(transform(
            array_sort(collect_list(struct(col("sub"), col("d")))),
            p => p.getField("d")).as("ds"))
          .withColumn("adist",
            (1 to nsub).map(i => element_at(col("ds"), i)).reduce(_ + _))
          .select(col("qid"), col("id"), col("adist"))
        // per-query top-k through the bounded per-group heap instead of
        // a window row_number (the Similarity.ivfTopKAll rationale: no
        // sort of each query's whole candidate run; ordering total on
        // (adist, id) so the set equals the rank filter's)
        org.apache.spark.sql.graft.TopKPerGroup(scored, k, Seq(col("qid")),
          Seq(col("adist").asc, col("id").asc))
    }
  }

  /** ADC-then-exact re-rank (the refinement stage of Jégou et al.'s
    * IVFADC+R): [[pqTopK]] nominates a `rerank`-sized short list from
    * codes alone, then ONLY those candidates' stored vectors are
    * fetched — the R-row candidate id list broadcasts onto the corpus
    * as a map-side semi-join, so the full-vector column is read for R
    * rows and nothing corpus-sized shuffles — and exact distances
    * re-sort the short list into the final top-k. This closes most of
    * the ADC quantization error at the cost of touching R real vectors
    * instead of zero; `rerank/k` is the recall/IO dial (typical 2-10x).
    *
    * Exactness contract: the re-score runs on the same
    * [[Quantize.int8Codes]] representation and [[Vec.sqDist]]
    * dot-identity as training, so the oracle mirrors it term-for-term.
    */
  def pqTopKRerank(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, rerank: Int, nsub: Int = 4, kcent: Int = 8,
      iters: Int = 2,
      sweep: SweepCheckpoint = SweepCheckpoint.Local): DataFrame = {
    require(rerank >= k, s"pqTopKRerank: rerank window $rerank must be >= k=$k")
    val cand = pqTopK(emb, idCol, vecCol, queryId, rerank, nsub, kcent,
      iters, sweep).select(col("id"))
    val codes = Quantize.int8Codes(emb, idCol, vecCol)
    val qv = codes.filter(col("id") === queryId).select(col("q").as("qv"))
    codes.join(broadcast(cand), "id")
      .join(broadcast(qv))
      .select(col("id"), Vec.sqDist(col("q"), col("qv")).as("dist"))
      .orderBy(col("dist").asc, col("id").asc)
      .limit(k)
  }
}
