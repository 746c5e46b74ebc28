package graft

import graft.sim.Similarity

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.t(spark, sf, "embeddings")

  test("brute-force top-k is ordered and excludes the query") {
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10).collect()
    assert(top.length === 10)
    assert(!top.exists(_.getLong(0) == 0L))
    val cos = top.map(_.getDouble(1))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    assert(cos.forall(c => c >= -1.0000001 && c <= 1.0000001))
  }

  test("IVF results are a subset of cells and agree with brute force there") {
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10).collect()
    assert(ivf.length === 10)
    val cells = ivf.map(_.getLong(1)).toSet
    assert(cells.size <= 2, "nprobe=2 must limit result cells")
    // every IVF hit must appear in the full brute-force ranking with the
    // same cosine
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.foreach { r =>
      assert(bf(r.getLong(0)) === r.getDouble(2))
    }
  }

  test("SRP candidates sit within maxHamming of the query bucket and rank by exact cosine") {
    val srp = Similarity.srpTopK(emb, "vec_id", "embedding", 0L, 10).collect()
    assert(srp.nonEmpty && srp.length <= 10)
    assert(!srp.exists(_.getLong(0) == 0L))
    // recover the query's bucket from the same pipeline
    val qb = Similarity.srpTopK(emb, "vec_id", "embedding", 0L, Int.MaxValue)
      .collect().map(_.getLong(1)).toSet
    srp.foreach { r =>
      assert(qb.contains(r.getLong(1))) // candidate buckets are the probed set
    }
    assert(qb.size <= 9, "8 planes, Hamming<=1 probes at most 9 buckets")
    val cos = srp.map(_.getDouble(2))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    // cosines must agree exactly with the brute-force ranking
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    srp.foreach(r => assert(bf(r.getLong(0)) === r.getDouble(2)))
  }

  test("SRP bucketing is deterministic across runs") {
    val a = Similarity.srpTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val b = Similarity.srpTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a === b)
  }

  test("int8 quantization: hand-computed reconstruction and error bound") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(127.0f, -127.0f, 63.5f)), // scale 1: q = 127,-127,64
      (1L, Array(0.0f, 0.0f, 0.0f)),       // zero vector: defined stats
      (2L, Array(2.54f, -1.27f, 0.0f))     // scale 0.02: exact-ish grid
    ).toDF("vec_id", "embedding")
    val r = graft.sim.Quantize.int8Stats(df, "vec_id", "embedding")
      .orderBy("id").collect()
    // row 0: 63.5/1 + 0.5 floors to 64 -> err 0.5^2/3 on one element
    assert(r(0).getDouble(1) === 1.0)
    assert(math.abs(r(0).getDouble(2) - 0.25 / 3.0) < 1e-12)
    assert(r(0).getDouble(3) > 0.9999)
    // zero vector: scale 0, exact reconstruction, guarded cosine
    assert(r(1).getDouble(1) === 0.0 && r(1).getDouble(2) === 0.0
      && r(1).getDouble(3) === 0.0)
    // generic bound: per-element error <= scale/2 -> mse <= scale^2/4
    val all = graft.sim.Quantize.int8Stats(emb, "vec_id", "embedding").collect()
    all.foreach { row =>
      val (sc, mse, cos) = (row.getDouble(1), row.getDouble(2), row.getDouble(3))
      assert(mse <= sc * sc / 4.0 + 1e-12, s"mse $mse exceeds bound for scale $sc")
      assert(cos >= 0.99, s"int8 cosine fidelity collapsed: $cos")
    }
  }

  test("cell assignment covers every vector exactly once") {
    val asg = Similarity.assignCells(emb, "vec_id", "embedding", 8)
    assert(asg.count() === emb.count())
    assert(asg.select("id").distinct().count() === emb.count())
  }

  test("assignCells after autoCells on a dense full-table frame runs ZERO extra jobs (r17)") {
    // VERDICT r16 #1: the r16 seed-robustness fix ran an eager probe
    // job at every non-streaming construction. The r17 contract: the
    // AUTO chain shares ONE cached id-stats job, so plan construction
    // after autoCells is job-free for dense frames (and the stats are
    // reused across repeated constructions on the same frame).
    val emb2 = Tables.t(spark, sf, "embeddings")
    graft.sim.Similarity.clearIdStatsCache()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def settled(): Int = { Thread.sleep(800); jobs.get() }
    spark.sparkContext.addSparkListener(l)
    try {
      val cells = graft.sim.Similarity.autoCells(emb2, "vec_id")
      val afterAuto = settled()
      assert(afterAuto >= 1, "autoCells must run its stats job")
      // constructing the assignment plan (twice) adds no jobs
      graft.sim.Similarity.assignCells(emb2, "vec_id", "embedding", cells)
      graft.sim.Similarity.assignCells(emb2, "vec_id", "embedding", cells)
      assert(settled() === afterAuto,
        "assignCells construction ran extra eager jobs on a dense frame")
      // a SECOND autoCells on the same frame is cache-served too
      graft.sim.Similarity.autoCells(emb2, "vec_id")
      assert(settled() === afterAuto, "autoCells re-ran its stats job")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("assignCells: expression arm equals the join arm on tie-heavy corpora (r17)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the kernel mirrors the join+min_by form term-for-term; the spec
    // drives both arms over a corpus built to stress the seams: a
    // coarse value grid (many EXACT distance ties -> the lowest-cell
    // tie-break must match), duplicated vectors (duplicate centroids
    // among the seed), and a zero vector; single-level and two-level
    // cell counts; dense, shifted, and filtered id frames.
    val rnd = new scala.util.Random(1717)
    val dim = 4
    def gv() = Array.fill(dim)(math.rint(rnd.nextDouble() * 4) / 2.0)
    val rows = (0L until 3000L).map(i =>
      (i, if (i == 7L) Array.fill(dim)(0.0) else gv()))
    val df = rows.toDF("vec_id", "embedding")
    def got(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (nc <- Seq(8, 100)) {
      val a = got(Similarity.assignCells(df, "vec_id", "embedding", nc)
        .select("id", "cell"))
      val b = got(Similarity.assignCellsJoin(df, "vec_id", "embedding", nc)
        .select("id", "cell"))
      assert(a.size === 3000)
      assert(a === b, s"nc=$nc: expression vs join arm diverge")
    }
    val shifted = df.select((col("vec_id") + 5000L).as("vec_id"),
      col("embedding"))
    val filtered = df.filter(col("vec_id") % 3 === 0)
    for (frame <- Seq(shifted, filtered); nc <- Seq(8, 100)) {
      val a = got(Similarity.assignCells(frame, "vec_id", "embedding", nc)
        .select("id", "cell"))
      val b = got(Similarity.assignCellsJoin(frame, "vec_id", "embedding", nc)
        .select("id", "cell"))
      assert(a === b, s"nc=$nc non-dense frame: arms diverge")
    }
  }

  test("two-level self-tag invariant: degenerate ulp-perturbed seed neither crashes nor drops rows (r17)") {
    // Found by review after the NearestCell rewrite: squared distance
    // is mathematically >= 0, but the Vec.sqDist fold can evaluate a
    // near-identical pair a few ulp NEGATIVE — beating the exact-zero
    // self distance. A seed search (SCALE_r17 §8) found three
    // ulp-perturbations of one vector with d01 < 0, d02 < d01,
    // d12 > d02: under the pre-fix tag rule every one of the three
    // tagged AWAY from super 1 (c1->0 via the negative, c0 and c2 ->
    // the more-negative pair), so super 1 had NO members — yet a
    // fourth perturbation ROUTES to super 1 (strictly, also via FP
    // noise). Pre-fix: the expression arm crashed
    // (ArrayIndexOutOfBounds on the empty member group) and the join
    // arm + oracle CTE silently DROPPED the routed row at the
    // refinement equi-join. The exact-tie corpus above cannot catch
    // this: identical duplicates tie symmetrically, so a memberless
    // super is never routable there. The self-tag invariant (a
    // super's own centroid anchors its group, pinned in
    // CellIndex.build, the join arm's min_by priority field, and the
    // oracle CTE's leading CASE term) makes every routable super
    // nonempty by construction.
    import org.apache.spark.sql.functions.col
    val df = graft.tools.DegenerateSeedRepro.corpus(spark)
    def got(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val a = got(Similarity.assignCells(df, "id", "vec", 66)
      .select("id", "cell"))
    val b = got(Similarity.assignCellsJoin(df, "id", "vec", 66)
      .select("id", "cell"))
    assert(a.size === 67, "expression arm dropped rows on the degenerate seed")
    assert(b.size === 67, "join arm dropped rows on the degenerate seed")
    assert(a === b, "arms diverge on the degenerate seed")
    // the probe refines within self-anchored super 1 to its true
    // nearest centroid
    assert(a(100L) === 1L)
  }

  test("centroid seed on filtered/shifted-id frames: ncells lowest ids present, renumbered (review r16)") {
    import org.apache.spark.sql.functions.col
    // a filtered frame (every 10th id — the sampledEmbeddingDupPairs
    // shape): the old `id < ncells` seed kept ~ncells/10 centroids, a
    // degenerate near-1-cell index; the seed must instead be the
    // ncells lowest ids PRESENT, renumbered densely so the two-level
    // `cell < nsuper` convention stays sound
    val sparse = emb.filter(col("vec_id") % 10 === 0)
    val n = sparse.count()
    val asg = Similarity.assignCells(sparse, "vec_id", "embedding", 8)
      .select(col("id"), col("cell")).cache()
    assert(asg.count() === n)
    val cells = asg.select("cell").distinct().collect()
      .map(_.getLong(0)).sorted
    assert(cells.length === 8, s"degenerate seed: ${cells.mkString(",")}")
    assert(cells.forall(c => c >= 0 && c < 8), cells.mkString(","))
    // the 8 seed vectors (lowest present ids 0,10,..,70) must sit in
    // their own renumbered cells (a centroid's nearest centroid is
    // itself; ties break to the lower cell)
    val seedCells = asg.filter(col("id") < 80).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 8).foreach { k =>
      assert(seedCells(10L * k) === k.toLong,
        s"seed ${10 * k} not in renumbered cell $k: $seedCells")
    }
    asg.unpersist()
    // an id-SHIFTED frame (no ids below ncells at all): the old seed
    // was EMPTY -> silently empty assignment; now it must cover every
    // vector
    val shifted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    val asg2 = Similarity.assignCells(shifted, "vec_id", "embedding", 8)
    assert(asg2.count() === emb.count())
  }

  test("two-level assignment above the gate matches the routed brute-force formula") {
    import org.apache.spark.sql.functions.col
    val ncells = 80 // > TwoLevelGate=64 -> the two-level path
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    // the engine's IEEE sequence: sequential left-fold dot products,
    // |a|^2 + |b|^2 - 2ab
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def sqd(a: Array[Double], b: Array[Double]): Double =
      dot(a, a) + dot(b, b) - 2.0 * dot(a, b)
    def argmin(v: Array[Double], among: Seq[(Long, Array[Double])]): Long =
      among.map { case (id, c) => (sqd(v, c), id) }
        .minBy(identity)(Ordering.Tuple2(Ordering.Double.TotalOrdering,
          Ordering.Long))._2
    val cent = vecs.filter(_._1 < ncells).toSeq
    val nsuper = math.ceil(math.sqrt(ncells.toDouble)).toInt
    val sup = cent.filter(_._1 < nsuper)
    val ctag = cent.map { case (cell, cv) => cell -> argmin(cv, sup) }.toMap
    val expected = vecs.map { case (id, v) =>
      val s = argmin(v, sup)
      val members = cent.filter { case (cell, _) => ctag(cell) == s }
      id -> argmin(v, members)
    }.toMap
    val got = Similarity.assignCells(emb, "vec_id", "embedding", ncells)
      .select(col("id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === vecs.length)
    assert(got === expected)
    // the two-level result is a real routing (not the flat argmin):
    // at least one vector must land off its globally-nearest centroid,
    // or this test would pass vacuously against a flat implementation
    val flat = vecs.map { case (id, v) => id -> argmin(v, cent) }.toMap
    assert(vecs.exists { case (id, _) => got(id) != flat(id) },
      "expected the routed assignment to differ from flat argmin somewhere")
  }

  test("batched ANN: a corpus-sized query table takes the sort-merge path, identical output") {
    import org.apache.spark.sql.functions.col
    // the whole corpus as the query table — the corpus-coupled shape
    // (VERDICT r6 #1) whose probe expansion grows linearly with the
    // data and must NOT be broadcast above the gate
    val fatQ = emb
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    // ivf: gated run shuffles on the cell key with sort-merge pinned
    val gatedIvf = Similarity.ivfTopKAll(emb, "vec_id", "embedding",
      fatQ, "vec_id", "embedding", k = 3, maxBroadcastQueries = 10)
    val pIvf = gatedIvf.queryExecution.executedPlan.toString()
    assert(pIvf.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("cell#")),
      "gated ivf probe join should sort-merge on the cell key")
    val openIvf = Similarity.ivfTopKAll(emb, "vec_id", "embedding",
      fatQ, "vec_id", "embedding", k = 3,
      maxBroadcastQueries = Long.MaxValue)
    assert(rows(gatedIvf) === rows(openIvf),
      "ivf join-strategy fallback changed the results")
    // srp: same contract on the bucket key
    val gatedSrp = Similarity.srpTopKAll(emb, "vec_id", "embedding",
      fatQ, "vec_id", "embedding", k = 3, maxBroadcastQueries = 10)
    val pSrp = gatedSrp.queryExecution.executedPlan.toString()
    assert(pSrp.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("bucket#")),
      "gated srp probe join should sort-merge on the bucket key")
    val openSrp = Similarity.srpTopKAll(emb, "vec_id", "embedding",
      fatQ, "vec_id", "embedding", k = 3,
      maxBroadcastQueries = Long.MaxValue)
    assert(rows(gatedSrp) === rows(openSrp),
      "srp join-strategy fallback changed the results")
    // and below the gate the probe side must still broadcast (the
    // fast path for real probe batches)
    val small = emb.filter(col("vec_id") % 50 === 0)
    val pFast = Similarity.ivfTopKAll(emb, "vec_id", "embedding",
      small, "vec_id", "embedding", k = 3)
      .queryExecution.executedPlan.toString()
    assert(pFast.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("cell#")),
      "small query batches must keep the broadcast probe join")
  }

  test("batched ANN: the float bound catches a small-count fat-vector query table") {
    import org.apache.spark.sql.functions.col
    // few queries (passes the doc-count gate) whose count x dim
    // exceeds a tiny float budget — the VERDICT r7 fat-vector hole:
    // a count-only gate admits a multi-GB broadcast at dim=4096
    val small = emb.filter(col("vec_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val gated = Similarity.ivfTopKAll(emb, "vec_id", "embedding",
      small, "vec_id", "embedding", k = 3, maxBroadcastQueryFloats = 4)
    val p = gated.queryExecution.executedPlan.toString()
    assert(p.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("cell#")),
      "a fat-vector query table must take the sort-merge fallback")
    val open = Similarity.ivfTopKAll(emb, "vec_id", "embedding",
      small, "vec_id", "embedding", k = 3)
    assert(rows(gated) === rows(open),
      "the float-bound fallback changed the results")
    val gatedSrp = Similarity.srpTopKAll(emb, "vec_id", "embedding",
      small, "vec_id", "embedding", k = 3, maxBroadcastQueryFloats = 4)
    val pSrp = gatedSrp.queryExecution.executedPlan.toString()
    assert(pSrp.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("bucket#")),
      "srp: a fat-vector query table must take the sort-merge fallback")
    assert(rows(gatedSrp) === rows(Similarity.srpTopKAll(emb, "vec_id",
      "embedding", small, "vec_id", "embedding", k = 3)),
      "srp: the float-bound fallback changed the results")
  }

  test("batched ANN: query-size hints skip the gate job without changing results") {
    import org.apache.spark.sql.functions.col
    val small = emb.filter(col("vec_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val unhinted = Similarity.ivfTopKAll(emb, "vec_id", "embedding",
      small, "vec_id", "embedding", k = 3)
    // a truthful small hint keeps the broadcast path
    val hinted = Similarity.ivfTopKAll(emb, "vec_id", "embedding",
      small, "vec_id", "embedding", k = 3,
      knownQueryCount = small.count(), knownQueryDim = 64L)
    assert(hinted.queryExecution.executedPlan.toString().linesIterator
      .exists(l => l.contains("BroadcastHashJoin") && l.contains("cell#")))
    assert(rows(hinted) === rows(unhinted))
    // an over-the-gate hint forces the fallback — still same rows
    val big = Similarity.srpTopKAll(emb, "vec_id", "embedding",
      small, "vec_id", "embedding", k = 3,
      knownQueryCount = (1L << 20), knownQueryDim = 4096L)
    assert(big.queryExecution.executedPlan.toString().linesIterator
      .exists(l => l.contains("SortMergeJoin") && l.contains("bucket#")))
    assert(rows(big) === rows(Similarity.srpTopKAll(emb, "vec_id",
      "embedding", small, "vec_id", "embedding", k = 3)))
  }
}
