package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {

  /** Min-rooted union-find: label = min id of the component. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(n => n -> find(n)).toMap
  }

  test("byte-level hashedShinglesKernel is bit-identical to the string path (r18)") {
    // the legacy semantics: DISTINCT shingle strings (first occurrence),
    // each fnv1a64-hashed, ascending-sorted — duplicates from FNV
    // collisions between distinct strings would both emit
    def legacy(t: String, n: Int): Array[Long] = {
      val h = Dedup.shinglesKernel(t, n).map(Dedup.fnv1a64)
      java.util.Arrays.sort(h)
      h
    }
    val edge = Seq(
      "", " ", "  ", "a", "a b", "a b c", "a b c d",
      "a  b   c", " leading", "trailing ", " both ",
      "x x x x x x", "répét é é unicode ✓ ✓ emoji 😀 😀 a b",
      "tab\tand\nnewline stay in one token a b",
      "UPPER Case MiXeD a b c", "ß SS İ i a b")
    for (t <- edge; n <- Seq(1, 2, 3, 4))
      assert(Dedup.hashedShinglesKernel(t, n).toSeq === legacy(t, n).toSeq,
        s"diverged on '$t' n=$n")
    val rnd = new scala.util.Random(7)
    val alphabet = "ab c déß😀AB  "
    for (_ <- 0 until 500) {
      val t = (0 until rnd.nextInt(120))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(Dedup.hashedShinglesKernel(t, 3).toSeq === legacy(t, 3).toSeq,
        s"fuzz diverged on '$t'")
    }
  }

  test("shingle table capacity: power of two >= 2 * shingles; named failure past 2^30 slots") {
    assert(Seq(0, 1, 2, 3, 4, 5).map(Dedup.shingleTableCapacity) ===
      Seq(4, 4, 4, 8, 8, 16))
    assert(Dedup.shingleTableCapacity(1 << 29) === (1 << 30))
    // past the largest table: a named failure, not an Int wrap of the
    // bound (a 4-slot table) or of the capacity (0) that never returns
    for (nsh <- Seq((1 << 29) + 1, 1 << 30, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](Dedup.shingleTableCapacity(nsh))
      assert(e.getMessage.contains("shingle table overflow"), e.getMessage)
    }
  }

  test("simhash assignment is sound against the exact pair enumeration") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.t(spark, sf, "documents")
    val sim = Dedup.simhash(docs, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sim, "doc_id", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val assign = Dedup.simhashAssign(sim, "doc_id", maxHamming = 4).collect()
    assign.foreach { r =>
      val (doc, canon, ham) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(canon < doc, "canonical must be the smaller id")
      assert(ham <= 4, "assignment outside the Hamming radius")
      assert(pairs.contains((canon, doc)),
        s"($doc -> $canon) is not a true near-dup pair")
    }
    // output is linear: at most one row per non-canonical doc
    assert(assign.map(_.getLong(0)).distinct.length === assign.length)
  }

  test("simhash forest: same connectivity as all verified pairs, star-shaped, no larger") {
    val docs = Tables.t(spark, sf, "documents")
    val sim = Dedup.simhash(docs, "doc_id", "text")
    val pairEdges = Dedup.simhashPairs(sim, "doc_id", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val forestEdges = Dedup.simhashForest(sim, "doc_id", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the theorem the d9 rewrite rests on: union-of-bucket-stars and
    // all-verified-pairs induce the SAME components over the SAME nodes
    val viaPairs = unionFind(pairEdges)
    val viaForest = unionFind(forestEdges)
    assert(viaForest === viaPairs,
      "forest connectivity diverged from the full pair enumeration")
    // star shape: the root is its BUCKET-component min, so always the
    // smaller id of the edge. (It need not be the GLOBAL component min:
    // bucket fragments of one true component chain through shared
    // members — that chaining is what the closure resolves.)
    forestEdges.foreach { case (d1, d2) =>
      assert(d1 < d2, s"star root must be the smaller id: ($d1, $d2)")
    }
    // linear output: each banded row contributes at most one star edge,
    // so the bound is bands x touched-docs — O(n) — never O(pairs).
    // (On sparse data the forest may exceed the pair COUNT — different
    // buckets emit different fragments — linearity, not minimality, is
    // the contract.)
    val touched = forestEdges.flatMap(e => Seq(e._1, e._2)).distinct.length
    assert(forestEdges.length <= 5 * touched)
    assert(forestEdges.distinct.length === forestEdges.length)
  }

  test("simhash forest collapses a replication clique to linear edges") {
    import spark.implicits._
    // 60 identical docs + 3 singletons: pair enumeration owes
    // 60*59/2 = 1770 rows; the forest owes 59
    val docs = ((0L until 60L).map(i => (i, "same text replicated body")) ++
      Seq((100L, "alpha unrelated"), (101L, "beta different entirely"),
        (102L, "gamma nothing shared"))).toDF("doc_id", "text")
    val sim = Dedup.simhash(docs, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sim, "doc_id", maxHamming = 4).count()
    val forest = Dedup.simhashForest(sim, "doc_id", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs === 1770L)
    assert(forest.length === 59)
    assert(forest.forall(_._1 === 0L), "clique stars to its min id")
    assert(forest.map(_._2).sorted === (1L until 60L))
  }

  test("simhashClusters over the forest is bit-identical to components over all pairs") {
    val docs = Tables.t(spark, sf, "documents")
    val sim = Dedup.simhash(docs, "doc_id", "text")
    val viaOperator = Dedup.simhashClusters(sim, "doc_id", maxHamming = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAllPairs = Dedup.connectedComponents(
        Dedup.simhashPairs(sim, "doc_id", maxHamming = 4).select("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaOperator === viaAllPairs)
  }

  test("simhash operators leave no cached tables behind (ADVICE r5)") {
    val docs = Tables.t(spark, sf, "documents")
    val sim = Dedup.simhash(docs, "doc_id", "text")
    spark.sharedState.cacheManager.clearCache()
    Dedup.simhashPairs(sim, "doc_id", maxHamming = 4).count()
    Dedup.simhashForest(sim, "doc_id", maxHamming = 4).count()
    Dedup.simhashAssign(sim, "doc_id", maxHamming = 4).count()
    Dedup.simhashClusters(sim, "doc_id", maxHamming = 4).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a dedup operator leaked a cached table into the session")
  }

  test("connectedComponents: named failure when diameter exceeds the sweep budget") {
    import spark.implicits._
    import graft.dedup.ConvergenceException
    // a path graph 0-1-2-...-12 needs ~12 sweeps for node 12's label to
    // walk to 0; a 3-sweep budget must fail with the NAMED error (a
    // diameter-26 graph vs maxIter=25 was a bare require() crash)
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[ConvergenceException] {
      Dedup.connectedComponents(chain, maxIter = 3).collect()
    }
    assert(e.sweeps === 3)
    // and with budget >= diameter the same graph converges to one root
    val labels = Dedup.connectedComponents(chain, maxIter = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 13)
    assert(labels.forall(_._2 === 0L), "path graph must collapse to min id")
  }

  test("connectedComponents equals union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 10
      val pairs = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val expected = unionFind(pairs)
      val got = Dedup.connectedComponents(pairs.toDF("d1", "d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial diverged from union-find")
    }
  }

  test("Table-sweep non-convergence keeps ONE resume artifact; resumeFrom completes from it") {
    import spark.implicits._
    import graft.dedup.{ConvergenceException, SweepCheckpoint}
    val dir = java.nio.file.Files.createTempDirectory("cc_fail").toString
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("d1", "d2")
    // mid-propagation kill: the 3-sweep budget is under the path
    // diameter, so the run dies with the named failure — but in Table
    // mode the LAST completed sweep must survive as the resume artifact
    val e = intercept[ConvergenceException] {
      Dedup.connectedComponents(chain, maxIter = 3,
        sweep = SweepCheckpoint.Table(dir)).collect()
    }
    assert(e.resumeDir === Some(dir), "exception must carry the resume dir")
    val left = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("sweep_"))
    assert(left.length === 1,
      s"exactly the last completed sweep must remain: ${left.map(_.getName).toSeq}")
    // resume continues the propagation instead of restarting: labels
    // must match the uninterrupted run exactly
    val resumed = Dedup.connectedComponents(chain, maxIter = 15,
      sweep = SweepCheckpoint.Table(dir), resumeFrom = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(chain, maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed === full, "resumed labels diverged from the uninterrupted run")
    assert(resumed.values.forall(_ == 0L), "path graph must collapse to min id")
    // resuming from a dir with no completed sweep is a named argument
    // error, not a silent fresh start
    val empty = java.nio.file.Files.createTempDirectory("cc_empty").toString
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 15,
        sweep = SweepCheckpoint.Table(empty), resumeFrom = Some(empty))
    }
  }

  test("checkpoint-cleaner conf surfaced for Reliable sweeps") {
    // the helper the Reliable warning path keys on must reflect the
    // context conf (off in this suite — the documented default that
    // accretes checkpoint dirs unless enabled on clusters)
    assert(Dedup.checkpointCleanerEnabled(spark) ===
      spark.sparkContext.getConf.getBoolean(
        "spark.cleaner.referenceTracking.cleanCheckpoints", false))
  }

  test("sweep strategies (Local/Reliable/Table) agree on the cluster result") {
    import graft.dedup.SweepCheckpoint
    val docs = Tables.t(spark, sf, "documents")
    val sim = Dedup.simhash(docs, "doc_id", "text")
    def run(s: SweepCheckpoint) =
      Dedup.simhashClusters(sim, "doc_id", maxHamming = 4, sweep = s)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run(SweepCheckpoint.Local)
    val relDir = java.nio.file.Files.createTempDirectory("cc_rel").toString
    val tblDir = java.nio.file.Files.createTempDirectory("cc_tbl").toString
    assert(run(SweepCheckpoint.Reliable(relDir)) === local)
    assert(run(SweepCheckpoint.Table(tblDir)) === local)
    // Table frees each sweep once the next lands; only the final sweep
    // directory (backing the returned frame) may remain
    val left = new java.io.File(tblDir).listFiles()
      .filter(_.getName.startsWith("sweep_"))
    assert(left.length <= 1, s"stale sweep tables: ${left.map(_.getName).toSeq}")
  }

  test("dedupPipeline: sound merges, root fixed points, closure equality") {
    val docs = Tables.t(spark, sf, "documents")
    val out = Dedup.dedupPipeline(docs, "doc_id", "text", maxHamming = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // idCol named like the component table's internals must not clash
    val renamed = Dedup.dedupPipeline(
      docs.withColumnRenamed("doc_id", "id"), "id", "text", maxHamming = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(renamed === out, "idCol=\"id\" changed the clustering")
    // ...including the OUTPUT column's own name (r10 review: routing
    // through simhashClusters' idCol-named projection made
    // idCol="cluster" an ambiguous-reference AnalysisException)
    val asCluster = Dedup.dedupPipeline(
      docs.withColumnRenamed("doc_id", "cluster"), "cluster", "text",
      maxHamming = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asCluster === out, "idCol=\"cluster\" changed the clustering")
    assert(out.size === docs.count(), "one row per input doc")
    // cluster ids are canonical roots: never above the member, and the
    // root itself maps to itself
    out.foreach { case (doc, cl) =>
      assert(cl <= doc, s"cluster $cl above member $doc")
      assert(out(cl) === cl, s"root $cl of $doc is not a fixed point")
    }
    // closure EQUALITY (since the r10 forest upgrade): the pipeline's
    // clustering must be exactly (exact groups) composed with the FULL
    // simhashClusters closure over the survivors — not a refinement
    val survSim = Dedup.simhash(
      Dedup.exact(docs, "doc_id", "text")
        .join(docs, Seq("doc_id")).select("doc_id", "text"),
      "doc_id", "text")
    val full = Dedup.simhashClusters(survSim, "doc_id", maxHamming = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val md5g = docs.selectExpr("doc_id", "md5(coalesce(text, '')) AS h")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val surv = md5g.groupBy(_._2).map { case (h, ms) => h -> ms.keys.min }
    val expected = md5g.keys.map { d =>
      val s = surv(md5g(d)); d -> full.getOrElse(s, s)
    }.toMap
    assert(out === expected,
      "pipeline clustering diverged from exact∘full-closure composition")
  }

  test("simhash clusters equal union-find over the exact pair graph") {
    val docs = Tables.t(spark, sf, "documents")
    val sim = Dedup.simhash(docs, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sim, "doc_id", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // independent union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val got = Dedup.simhashClusters(sim, "doc_id", maxHamming = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected, "cluster labels diverge from union-find")
  }

  private lazy val docs = Tables.t(spark, sf, "documents")

  test("exact dedup keeps one survivor per distinct text") {
    val n = docs.count()
    val d = Dedup.exact(docs, "doc_id", "text")
    assert(d.count() <= n)
    assert(d.agg(sum("n_copies")).head().getLong(0) === n)
  }

  test("ngram jaccard finds the planted near-duplicate pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5).collect()
    assert(pairs.nonEmpty, "expected planted near-dups in documents")
    assert(pairs.forall(r => r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0))
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("minhash LSH recovers high-jaccard pairs found exactly") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // at jaccard >= 0.9, a 4-band/3-row LSH misses with prob < 1e-4
    assert(exact == lsh, s"LSH missed ${exact.diff(lsh)} / extra ${lsh.diff(exact)}")
  }

  test("cluster summary: zero-shingle copy groups are not families; short identical docs are") {
    // d15 summarizes d3's VERIFIED graph: empty/too-short texts have
    // no shingles hence no Jaccard identity — identical empties must
    // NOT form a phantom copy family (fuzz-found r12). Identical
    // one-shingle docs DO pair (jac = 1) and must still summarize.
    import spark.implicits._
    val df = Seq(
      (0L, ""), (1L, ""), (2L, ""), // byte-identical, zero shingles
      (3L, "a b"), // too short for a 3-gram
      (4L, "one two three"), (5L, "one two three"), // one shared shingle
      (6L, "entirely different words here")).toDF("doc_id", "text")
    val got = Dedup.minhashLshClusterSummary(df, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((4L, 2L, 1L)),
      s"expected only the one-shingle family, got ${got.toSeq}")
  }

  test("giant planted family: cluster summary is identical through the capped join route") {
    // one viral near-dup family (300 members, per-member token tweak
    // so the exact-dup collapse cannot pre-merge them) + distinct
    // background docs. bucketCap=16 forces every family bucket through
    // the spilling-join fallback; the summary must be bit-identical to
    // the star-kernel route and report the family as ONE component.
    import spark.implicits._
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val fam = (0 until 300).map(i => (i.toLong, s"$base extra$i"))
    val bg = (0 until 50).map(i =>
      (1000L + i, (0 until 40).map(j => s"bg${i}w$j").mkString(" ")))
    val df = (fam ++ bg).toDF("doc_id", "text")
    val capped = Dedup.minhashLshClusterSummary(df, "doc_id", "text", 0.7,
        bucketCap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val uncapped = Dedup.minhashLshClusterSummary(df, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped === uncapped,
      s"cap route diverged: missing ${uncapped.diff(capped)}, extra ${capped.diff(uncapped)}")
    val famRow = capped.find(_._1 == 0L)
    assert(famRow.exists(_._2 === 300L),
      s"giant family not one component of 300: $famRow / $capped")
  }

  test("pair report over-bucketCap fallback: Column ownership partitions the " +
      "pair set exactly against the kernel route (VERDICT r14 #3)") {
    // Hand-built signatures so ownership STRADDLES the cap boundary:
    // 40 docs all share band 1 (one 42-member bucket — over cap 16,
    // Column-fallback route), while pairs (2k, 2k+1) ALSO share band 0
    // in 2-member buckets (under cap — kernel route). First-truly-shared
    // ownership must emit (2k, 2k+1) from the band-0 kernel bucket ONLY
    // and every other pair from the band-1 fallback bucket ONLY — an
    // ownership divergence double- or zero-emits, which the exact
    // row-count check catches (a set compare would mask double emission).
    // Two extra rows carry the SAME id (9999) through both routes: a
    // duplicated id must never self-pair on either (ADVICE r14).
    import spark.implicits._
    val shd = (1L to 10L).toArray // identical sets: every pair verifies at jac 1.0
    def mkSig(band0: Long, band1: Long, uniq: Long): Array[Long] =
      Array(band0, band0 + 1, band0 + 2, band1, band1 + 1, band1 + 2,
        uniq, uniq + 1, uniq + 2, uniq + 1000, uniq + 1001, uniq + 1002)
    val fam = (0 until 40).map(m =>
      (m.toLong, 10, shd, mkSig(10000L + m / 2, 777L, 50000L + 100L * m)))
    val dup = Seq.fill(2)((9999L, 10, shd, mkSig(20000L, 777L, 90000L)))
    val sets = (fam ++ dup).toDF("id", "nsh", "shd", "sig")
    def run(cap: Int): Seq[(Long, Long, Double)] =
      Dedup.minhashLshPairsFromSets(sets, 0.7, bucketCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    val capped = run(16)
    val uncapped = run(Dedup.DefaultBucketCap)
    assert(capped === uncapped, s"routes diverged: capped ${capped.size} " +
      s"rows vs uncapped ${uncapped.size}")
    // exactly-once: C(40,2) family pairs + 40 pairs per dup-id row
    assert(capped.size === 40 * 39 / 2 + 80, s"got ${capped.size} rows")
    assert(capped.forall(p => p._1 < p._2), "self- or misordered pair emitted")
    assert(capped.forall(_._3 === 1.0))
  }

  test("giant simhash bucket: recursive sub-banding equals brute force") {
    // a bucket above RecursePairwiseLimit (512 distinct signatures)
    // exercises bucketStars' recursion: two 300-member cliques far
    // apart in the free bits (members <= 2 flips from their base, so
    // pairwise <= 4 within a clique; the bases differ in 20 bits).
    // Components of the emitted stars must equal brute-force
    // components over all 600 signatures.
    val baseA = 0x0000000000000FFFL // band-0 bits (0..11) set
    val baseB = baseA | (0xFFFFFL << 40) // same bucket, 20 far bits
    def flips(base: Long): Seq[Long] = {
      val free = (12 until 40).toArray // untouched by baseB's far bits
      for {
        i <- free.indices; j <- i + 1 until free.length
        if i * free.length + j < 10000
      } yield base ^ (1L << free(i)) ^ (1L << free(j))
    }
    val sigs = (flips(baseA).take(299) :+ baseA) ++
      (flips(baseB).take(299) :+ baseB)
    assert(sigs.distinct.length === 600)
    val rows = sigs.zipWithIndex.map { case (s, i) => (0, 0xFFFL, i.toLong, s) }
    val stars = Dedup.bucketStars(rows.iterator, maxHamming = 4).toSeq
    val got = unionFind(stars)
    val brute = for {
      i <- sigs.indices; j <- i + 1 until sigs.length
      if java.lang.Long.bitCount(sigs(i) ^ sigs(j)) <= 4
    } yield (i.toLong, j.toLong)
    val expected = unionFind(brute)
    assert(got === expected,
      s"recursion diverged from brute force (${got.size} vs ${expected.size} labeled)")
    // and the two cliques really are separate components
    assert(expected.values.toSet.size === 2)
    // the EDGE SET itself must be the canonical one-star-per-component
    // form the d5 oracle states (root = component min, one edge per
    // other member) — not per-subgroup stars (sf0.1 oracle regression:
    // a component spanning recursion subgroups emitted extra stars)
    val canonical = expected.groupBy(_._2).iterator.flatMap { case (root, ms) =>
      ms.keys.filter(_ != root).map(m => (root, m))
    }.toSet
    assert(stars.toSet === canonical,
      s"star edges not canonical: extra ${stars.toSet.diff(canonical)}")
  }

  test("LSH cluster summary equals components over the full verified pair set") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.7)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "expected planted near-dups")
    val labels = unionFind(pairs)
    val expected = labels.groupBy(_._2).map { case (root, ms) =>
      (root, ms.size.toLong, ms.size.toLong * (ms.size - 1) / 2)
    }.toSet
    val got = Dedup.minhashLshClusterSummary(docs, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected,
      s"summary diverged: missing ${expected.diff(got)}, extra ${got.diff(expected)}")
  }

  test("lazy-verified bucket stars match eager verification on a crafted bucket") {
    // one bucket: a verified chain 1-2-3 (adjacent sets overlap, ends
    // do not), plus an unrelated member 9 — lazy union-find must still
    // produce the full chain component and leave 9 out
    def set(xs: Long*): Array[Long] = xs.sorted.toArray
    val rows = Seq(
      (7L, 1L, 4, set(1, 2, 3, 4)),
      (7L, 2L, 4, set(3, 4, 5, 6)),
      (7L, 3L, 4, set(5, 6, 7, 8)),
      (7L, 9L, 4, set(100, 101, 102, 103)))
    // threshold 1/3: |1 ∩ 2| = 2, jac = 2/6 = 0.333... >= 1/3; |1 ∩ 3| = 0
    val stars = Dedup.lshBucketStars(rows.iterator, 1.0 / 3.0).toSet
    assert(stars === Set((1L, 2L), (1L, 3L)), s"stars: $stars")
  }

  test("containment degree equals the aggregated pair report") {
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(pairs.nonEmpty)
    val expected = pairs.groupBy(_._1).map { case (d, xs) =>
      (d, xs.length.toLong, xs.map(_._2).max) }.toSet
    val got = Dedup.containmentDegree(docs, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
  }

  test("jaccard degree equals the symmetrized aggregated pair report") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    val sym = pairs.flatMap(p => Seq((p._1, p._3), (p._2, p._3)))
    val expected = sym.groupBy(_._1).map { case (d, xs) =>
      (d, xs.length.toLong, xs.map(_._2).max) }.toSet
    val got = Dedup.ngramJaccardDegree(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
  }

  test("sampledJaccardDegree: rateInv=1 is exact; thinning is sound and unbiased-scaled") {
    val full = Dedup.ngramJaccardDegree(docs, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // rateInv=1 keeps every doc: est column aside, it IS the degree op
    val r1 = Dedup.sampledJaccardDegree(docs, "doc_id", "text", 0.5, 1)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(r1.view.mapValues(v => (v._1, v._2)).toMap === full)
    r1.values.foreach { case (n, _, est) => assert(est === n) }
    // rateInv=2: every emitted doc is in the residue class, its sampled
    // degree never exceeds the full degree, max_jac is a lower bound,
    // and est = n * 2
    val keepIds = docs.where(Dedup.sampleKeep("doc_id", 2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keepIds.nonEmpty && keepIds.size < docs.count())
    val r2 = Dedup.sampledJaccardDegree(docs, "doc_id", "text", 0.5, 2)
      .collect()
    assert(r2.nonEmpty)
    r2.foreach { r =>
      val (d, n, m, est) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      assert(keepIds.contains(d), s"doc $d emitted but not sampled")
      val (fn, fm) = full(d)
      assert(n <= fn, s"doc $d sampled degree $n > full degree $fn")
      assert(m <= fm + 1e-12, s"doc $d sampled max_jac $m > full $fm")
      assert(est === n * 2)
    }
    // the asymmetric sibling obeys the same contract
    val fullC = Dedup.containmentDegree(docs, "doc_id", "text", 0.7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val c1 = Dedup.sampledContainmentDegree(docs, "doc_id", "text", 0.7, 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(c1 === fullC)
    val c2 = Dedup.sampledContainmentDegree(docs, "doc_id", "text", 0.7, 2)
      .collect()
    c2.foreach { r =>
      val (d, nc, mc, est) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      assert(keepIds.contains(d))
      val (fn2, fm2) = fullC(d)
      assert(nc <= fn2 && mc <= fm2 + 1e-12 && est === nc * 2)
    }
  }

  test("sampledEmbeddingDupPairs: rateInv=1 is exact; endpoints stay in the residue class") {
    val emb = Tables.t(spark, sf, "embeddings")
    val full = Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r1 = Dedup.sampledEmbeddingDupPairs(emb, "vec_id", "embedding", 0.4, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r1 === full)
    val keep = emb.where(Dedup.sampleKeep("vec_id", 2))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val r2 = Dedup.sampledEmbeddingDupPairs(emb, "vec_id", "embedding", 0.4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // non-vacuous by fixture: sf0.001 keeps 6 pairs in the residue
    // class (verified against the DuckDB oracle) — a one-sided sample
    // filter regression cannot hide behind an empty result
    assert(r2.nonEmpty)
    r2.foreach { case (a, b) =>
      assert(keep.contains(a) && keep.contains(b),
        s"pair ($a,$b) has an unsampled endpoint")
    }
  }

  test("sampledEmbeddingDupPairs: family pairs survive the re-derived IVF (co-location)") {
    // the d23 caveat quantified (VERDICT r15 next #3): the sample
    // re-derives the IVF, so 1/r^2 survival holds only up to index
    // agreement. The co-location half of that claim is testable
    // exactly: near-identical family vectors share a nearest centroid
    // under ANY IVF, so every truth family pair with both endpoints
    // sampled MUST be in the sampled output — recall 1.0, not ~1.0.
    import spark.implicits._
    val rnd = new scala.util.Random(1616)
    val dim = 8
    def vec(): Array[Double] = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    val bases = Array.fill(4)(vec())
    val family = (0 until 240).map { i =>
      val b = bases(i / 60)
      (1000L + i, b.map(x => x + (rnd.nextDouble() - 0.5) * 1e-6))
    }
    val noise = (0 until 800).map(i => (i.toLong, vec()))
    val df = (noise ++ family).toDF("vec_id", "embedding")
    val r = 3
    val got = Dedup.sampledEmbeddingDupPairs(df, "vec_id", "embedding", 0.9, r)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // brute-force truth over the sampled subset
    val samp = df.where(Dedup.sampleKeep("vec_id", r))
      .collect().map(x => (x.getLong(0), x.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
      while (i < dim) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      ab / math.sqrt(aa * bb)
    }
    val truth = (for {
      x <- samp.indices; y <- samp.indices
      if samp(x)._1 < samp(y)._1 && cos(samp(x)._2, samp(y)._2) >= 0.9
    } yield (samp(x)._1, samp(y)._1)).toSet
    assert(truth.nonEmpty)
    // no false pairs: the sampled run verifies exact cosine
    assert(got.subsetOf(truth))
    // co-location: every sampled family pair is recalled
    def fam(id: Long): Long = if (id >= 1000L) (id - 1000L) / 60 else -id
    val famTruth = truth.filter { case (a, b) => a >= 1000L && fam(a) == fam(b) }
    assert(famTruth.nonEmpty)
    val missedFam = famTruth -- got
    assert(missedFam.isEmpty, s"family pairs lost to the sample IVF: ${missedFam.take(5)}")
    // borderline cross-family pairs MAY thin beyond 1/r^2 — report only
    val border = truth -- famTruth
    info(s"family recall 1.0 (${famTruth.size} pairs); borderline pairs " +
      s"${border.size}, recalled ${(border & got).size}")
  }

  test("sampledEmbeddingDupPairs is EXACTLY the exact run restricted to sampled endpoints (r16 thinned-view contract)") {
    // the r16 semantics upgrade: the sample is assigned under the FULL
    // corpus's index (cell count + centroid seed), so the sampled
    // output is the exact statement's pair set with both endpoints in
    // the residue class — SET EQUALITY, not recall-up-to-index-
    // agreement. This is what makes 1/r^2 survival exactly true per
    // exact-visible pair (the text-family rigor). Borderline-heavy
    // corpus on purpose: threshold at the cosine bulk, like the
    // SCALE_r16 §2b boundary probe that measured 0.41 recall under the
    // old re-derived index.
    import spark.implicits._
    val rnd = new scala.util.Random(2323)
    val dim = 8
    def vec(): Array[Double] = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    val bases = Array.fill(3)(vec())
    val rows = (0 until 3000).map { i =>
      val b = bases(i % 3)
      (i.toLong, b.map(x => x + (rnd.nextDouble() - 0.5) * 1.2))
    }
    val df = rows.toDF("vec_id", "embedding")
    for (r <- Seq(2, 3)) {
      val keep = df.where(Dedup.sampleKeep("vec_id", r))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val exactAll: Set[(Long, Long)] =
        Dedup.embeddingDupPairs(df, "vec_id", "embedding", 0.4)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val exactRestricted = exactAll
        .filter { case (a, b) => keep.contains(a) && keep.contains(b) }
      val got = Dedup.sampledEmbeddingDupPairs(df, "vec_id", "embedding", 0.4, r)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(exactRestricted.nonEmpty, s"vacuous at r=$r")
      assert(got === exactRestricted,
        s"r=$r: missing=${(exactRestricted -- got).take(3)} " +
          s"extra=${(got -- exactRestricted).take(3)}")
    }
  }

  test("capped streaming pair plan constructs lazily (no eager census job)") {
    // review r15: an explicit non-default bucketCap used to trigger the
    // eager bucket census, which collect()s — AnalysisException on a
    // streaming relation at plan-construction time. Streaming relations
    // must skip the census (kernel route) and stay fully lazy.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Int, Array[Long], Array[Long])]
    val sets = ms.toDF().toDF("id", "nsh", "shd", "sig")
    assert(sets.isStreaming)
    val plan = Dedup.minhashLshPairsFromSets(sets, 0.7, bucketCap = 4096)
    assert(plan.isStreaming) // constructed, no eager job, still a stream
    assert(plan.columns.toSeq === Seq("d1", "d2", "jac"))
  }

  test("simhash of identical token multisets is identical; near-dups are close") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h", "x"),
      (2L, "a b c d e f g h", "x"),
      (3L, "q r s t u v w z", "x")).toDF("doc_id", "text", "lang")
    val sim = Dedup.simhash(df, "doc_id", "text", Seq("lang"))
      .orderBy("doc_id").collect().map(_.getLong(2))
    assert(sim(0) === sim(1))
    assert(sim(0) !== sim(2))
  }

  test("hamming-LSH banding has recall 1.0 within the radius") {
    import spark.implicits._
    // signatures engineered around a base value at varied Hamming
    // distances, plus random far points
    val base = 0x0123456789abcdL & ((1L << 60) - 1)
    def flip(x: Long, bits: Seq[Int]): Long = bits.foldLeft(x)((v, b) => v ^ (1L << b))
    val rows = Seq(
      0L -> base,
      1L -> flip(base, Seq(3)),            // ham 1
      2L -> flip(base, Seq(7, 19, 40)),    // ham 3
      3L -> flip(base, Seq(0, 15, 30, 45)),// ham 4 (at radius)
      4L -> flip(base, Seq(1, 2, 13, 25, 59)), // ham 5 (outside)
      5L -> (~base & ((1L << 60) - 1)))    // ham 60
    val sim = rows.toDF("doc_id", "simhash")
    val got = Dedup.simhashPairs(sim, "doc_id", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over all pairs
    val expected = (for {
      (i, hi) <- rows; (j, hj) <- rows if i < j
      ham = java.lang.Long.bitCount(hi ^ hj) if ham <= 4
    } yield (i, j, ham.toLong)).toSet
    assert(got === expected)
    assert(expected.exists(_._3 == 4)) // the at-radius pair is exercised
  }

  test("nearDupPairs: both operators off one shingle materialization") {
    val docs = Tables.t(spark, sf, "documents")
    val (d2Shared, d3Shared) = Dedup.nearDupPairs(docs, "doc_id", "text")
    val d2Solo = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
    val d3Solo = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.7)
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12))).toSet
    assert(set(d2Shared) === set(d2Solo))
    assert(set(d3Shared) === set(d3Solo))
    // both shared plans read the SAME InMemoryRelation (one cache id)
    def cacheIds(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val plan = df.queryExecution.optimizedPlan
      plan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          m.cacheBuilder.cachedPlan.id.toLong
      }.toSet
    }
    val shared = cacheIds(d2Shared) intersect cacheIds(d3Shared)
    assert(shared.nonEmpty, "d2 and d3 do not share a cached relation")
  }

  test("embedding near-dup pairs are symmetric-free, thresholded, cell-routed") {
    val emb = Tables.t(spark, sf, "embeddings")
    val pairs = Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.3).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(r => r.getDouble(2) >= 0.3))
    // both ends of every pair share an IVF cell
    val cells = graft.sim.Similarity.assignCells(emb, "vec_id", "embedding", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.forall(r => cells(r.getLong(0)) == cells(r.getLong(1))))
  }

  test("embedding viral-cell pre-flight: worst-cell estimate refuses, names alternates") {
    import spark.implicits._
    // a planted 9-copy viral family: identical vectors share a nearest
    // centroid, so ALL land in one IVF cell -> worst-cell C(9,2) = 36
    val fam = (0 until 9).map(i => (i.toLong, Array(1.0, 0.0), 1.0))
    val lone = Seq((99L, Array(0.0, 1.0), 1.0))
    val assigned = (fam.map(v => (0L, v._1, v._2, v._3)) ++
        lone.map(v => (7L, v._1, v._2, v._3)))
      .toDF("cell", "id", "v", "nrm")
    // generous bound: no refusal
    Dedup.refuseIfViralCells(assigned, 1L << 20, "test")
    // tight bound: the refusal carries the worst-cell estimate and
    // names the scale-safe alternates
    val e = intercept[graft.dedup.PairVolumeException] {
      Dedup.refuseIfViralCells(assigned, 10L, "test")
    }
    assert(e.estimatedPairs === 36L)
    assert(e.getMessage.contains("semanticDedup"))
    assert(e.getMessage.contains("ivfTopKAll"))
    assert(e.getMessage.contains("maxCandidatePairs"))
    // the estimate doubles as the rate selector: ceil(sqrt(36/10)) = 2
    assert(e.getMessage.contains("rateInv >= ~2"))
    // the oracle-scale operator result is unchanged by the guard path
    // (below the pairGuard floor the call stays fully lazy), and the
    // explicit-bound escape hatch leaves results identical
    val emb = Tables.t(spark, sf, "embeddings")
    val a = Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.3,
        maxCandidatePairs = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b)
  }

  test("embedding sampled pre-flight tracks the exact worst cell within the 3x band (r17)") {
    import spark.implicits._
    // concentrated family (the viral signature): 20k identical
    // vectors land in ONE cell; scattered vectors fill the rest. The
    // binomial-thinning contract: per-cell E[s(s-1)] = n(n-1)/r^2, so
    // the r^2-scaled probe worst tracks the exact worst C(n,2) well
    // inside the 3x margin band the refusal stage is pinned to.
    val rnd = new scala.util.Random(7171)
    def scat() = Array(rnd.nextDouble() * 2 - 1, rnd.nextDouble() * 2 - 1)
    val rows = (0 until 10000).map(i => (i.toLong, scat())) ++
      (10000 until 30000).map(i => (i.toLong, Array(1.0, 0.0))) ++
      (30000 until 40000).map(i => (i.toLong, scat()))
    val df = rows.toDF("vec_id", "embedding")
    val exactWorst = graft.sim.Similarity
      .assignCells(df, "vec_id", "embedding", 8)
      .groupBy(col("cell")).agg(count(lit(1)).cast("double").as("n"))
      .agg(max(col("n") * (col("n") - 1) / 2)).head().getDouble(0)
    assert(exactWorst >= 20000.0 * 19999.0 / 2, s"family not co-located: $exactWorst")
    for (r <- Seq(2, 4)) {
      val est = Dedup.sampledWorstCellD(df, "vec_id", "embedding", 8, r)
      assert(est <= 3.0 * exactWorst && est >= exactWorst / 3.0,
        s"r=$r: probe $est vs exact $exactWorst outside the 3x band")
    }
  }

  test("embedding probe margin sits AT the 3x band; the exact census stays the gate of record (r17)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7272)
    def scat() = Array(rnd.nextDouble() * 2 - 1, rnd.nextDouble() * 2 - 1)
    val rows = (0 until 2000).map(i => (i.toLong, scat())) ++
      (2000 until 6000).map(i => (i.toLong, Array(1.0, 0.0)))
    val df = rows.toDF("vec_id", "embedding")
    // small frame -> preflightRate floor of 2; pin the stage at that rate
    val est = Dedup.sampledWorstCellD(df, "vec_id", "embedding", 8, 2)
    assert(est > 0)
    // bound = est/2: probe estimate is only 2x bound — INSIDE the 3x
    // band, must fall through without refusing...
    Dedup.sampledRefuseIfViralCells(df, "vec_id", "embedding", 8,
      (est / 2).toLong, "t")
    // ...while the exact census at the same bound refuses (the probe
    // can never terminally refuse a corpus the exact gate adjudicates)
    val asg = graft.sim.Similarity
      .assignCells(df, "vec_id", "embedding", 8)
    intercept[graft.dedup.PairVolumeException] {
      Dedup.refuseIfViralCells(asg, (est / 2).toLong, "t")
    }
    // bound = est/4: clearly over the band -> the probe refuses, and
    // says it was the sampled stage at its rate
    val e = intercept[graft.dedup.PairVolumeException] {
      Dedup.sampledRefuseIfViralCells(df, "vec_id", "embedding", 8,
        (est / 4).toLong, "t")
    }
    assert(e.getMessage.contains("sampled pre-flight (1/2"), e.getMessage)
  }

  test("embedding pair refusal releases the cell-assignment cache (review r16)") {
    // a range-backed corpus: the Range leaf's stats (8 B/row) put the
    // frame over the 16 MB pairGuard floor, so the eager pre-flight
    // actually runs; all vectors identical -> one viral cell ->
    // worst-cell C(3M,2) >> the default bound -> refusal. The refusal
    // must not strand the cached cell assignment (the embedding twin of
    // the r16 text-side release-on-refusal fix).
    val emb = spark.range(3000000).select(col("id").as("vec_id"),
      array(lit(1.0d), lit(0.0d)).as("embedding"))
    spark.sharedState.cacheManager.clearCache()
    val e = intercept[graft.dedup.PairVolumeException] {
      Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.4, ncells = 8)
    }
    // r17: a corpus THIS viral (C(3M,2) ~ 4.5e12, four orders over the
    // bound) must refuse at the SAMPLED stage — before the full-corpus
    // assignment is ever built or cached
    assert(e.getMessage.contains("sampled pre-flight (1/"), e.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a refused embedding pair report stranded the assignment cache")
  }

  test("sampled pre-flight margin sits AT the spec-pinned 3x band (review r16)") {
    import spark.implicits._
    // under the pinned sampled/exact <= 3x agreement band, a probe
    // refusal is sound only if the margin is >= the band: estimates in
    // (bound, 3x bound] MUST fall through to the exact census (a 2x
    // margin could terminally refuse a corpus the exact gate admits)
    val fam = (0 until 600).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again"))
    val rest = (0 until 2400).map(i =>
      (1000L + i, s"unique document payload number $i with filler token ${i * 7} end"))
    val docs = (fam ++ rest).toDF("doc_id", "text")
    // the internal call uses preflightRate(docs) = 2 on a corpus this
    // small; pin the margin against the estimate at that same rate
    val est = Dedup.sampledViralEstimateD(docs, "doc_id", "text", 0.5, 3,
      oneSided = false, r = Dedup.preflightRate(docs))
    assert(est > 0.0)
    // est = 2.5x bound: inside the band -> stage 1 must NOT refuse
    Dedup.sampledRefuseIfViral(docs, "doc_id", "text", 0.5, 3,
      oneSided = false, bound = (est / 2.5).toLong, op = "test")
    // est = 4x bound: over the band -> stage 1 refuses
    intercept[graft.dedup.PairVolumeException] {
      Dedup.sampledRefuseIfViral(docs, "doc_id", "text", 0.5, 3,
        oneSided = false, bound = (est / 4.0).toLong, op = "test")
    }
  }

  test("incrementalDedup classifies a crafted increment against index tables only") {
    import spark.implicits._
    val baseText = (1 to 40).map(i => s"tok$i").mkString(" ")
    val base = Seq(
      (0L, baseText),
      (2L, "a completely different corpus document about nothing"),
      (4L, (100 to 140).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    // increment: an exact copy of base 0, two copies of a new text,
    // a one-token edit of base 0 (near-dup), a pair of similar new
    // texts, and a novel doc
    val newText = (200 to 240).map(i => s"n$i").mkString(" ")
    val nearBase = ((1 to 39).map(i => s"tok$i") :+ "tokX").mkString(" ")
    val simText1 = (300 to 340).map(i => s"s$i").mkString(" ")
    val simText2 = ((300 to 339).map(i => s"s$i") :+ "sX").mkString(" ")
    val inc = Seq(
      (11L, baseText), (13L, newText), (15L, newText),
      (17L, nearBase), (19L, simText1), (21L, simText2),
      (23L, "utterly unrelated novel content xyz"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(inc, "doc_id", "text",
        Dedup.exactIndex(base, "doc_id", "text"),
        Dedup.bandIndex(base, "doc_id", "text", 4), maxHamming = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(11L) === (("exact_base", 0L)))
    assert(out(13L)._1 === "new" || out(13L)._1 === "near_inc") // 13 is the min copy
    assert(out(15L) === (("exact_inc", 13L)))
    // the near-dup crafting is probabilistic in simhash space — verify
    // the premise before asserting the classification
    val h = Dedup.simhash(Seq((0L, baseText), (1L, nearBase),
        (2L, simText1), (3L, simText2)).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (java.lang.Long.bitCount(h(0L) ^ h(1L)) <= 4)
      assert(out(17L) === (("near_base", 0L)))
    if (java.lang.Long.bitCount(h(2L) ^ h(3L)) <= 4)
      assert(out(21L) === (("near_inc", 19L)))
    assert(out(23L) === (("new", -1L)))
    // every increment id classified exactly once
    assert(out.keySet === Set(11L, 13L, 15L, 17L, 19L, 21L, 23L))
  }

  test("containmentPairs: asymmetric, planted containment found, threshold exact") {
    import spark.implicits._
    val words = (0 until 30).map(i => s"w$i")
    val big = words.mkString(" ")                   // 28 3-grams
    val quote = words.slice(10, 18).mkString(" ")   // 6 3-grams, all in big
    val other = (0 until 10).map(i => s"z$i").mkString(" ")
    val docs = Seq(1L -> big, 2L -> quote, 3L -> other).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.containmentPairs(docs, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // quote ⊂ big: C(2 -> 1) = 1.0; the reverse is 6/28 and must NOT
    // appear — the relation is asymmetric; `other` shares nothing
    assert(got === Map((2L, 1L) -> 1.0))
    // exact agreement with the brute-force definition at a low
    // threshold (prefix filter is candidate-complete)
    val lo = graft.dedup.Dedup.containmentPairs(docs, "doc_id", "text", 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lo((2L, 1L)) === 1.0)
    assert(lo((1L, 2L)) === 6.0 / 28.0)
    assert(!lo.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("semanticDedup: transitive components, total output, zero-norm singleton") {
    import spark.implicits._
    // 2-D vectors in one cell (ncells=1): ids 0/1/2 chain at 25-degree
    // steps under a cos >= 0.9 threshold (0-1 and 1-2 pair, 0-2 does
    // NOT — only transitivity links them), 3 points away, 4 is the
    // zero vector (no defined cosine; must survive as its own cluster)
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r), math.sin(r))
    }
    val emb = Seq(
      0L -> at(0), 1L -> at(25), 2L -> at(50),
      3L -> Seq(-1.0, 0.0), 4L -> Seq(0.0, 0.0)
    ).toDF("vec_id", "embedding")
    val got = graft.dedup.Dedup.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.9, ncells = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L))
  }

  test("embedding star forest: components equal closure over the full pair set") {
    // the r13 scale fix for d13 (embeddingDupPairs emits Omega(family^2)
    // edges; the star forest is O(vectors)) must be connectivity-EXACT:
    // union-find over the stars == union-find over all verified pairs
    val emb = Tables.t(spark, sf, "embeddings")
    val pairs = Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val stars = Dedup.embeddingStarForest(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(stars.length <= pairs.length,
      "star forest must never carry more edges than the pair report")
    assert(unionFind(pairs.toSeq) === unionFind(stars.toSeq))
    // and the composed operator agrees with the pair-closure definition
    val viaPairs = {
      val uf = unionFind(pairs.toSeq)
      emb.select(org.apache.spark.sql.functions.col("vec_id")).collect()
        .map(_.getLong(0)).map(id => id -> uf.getOrElse(id, id)).toMap
    }
    val got = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === viaPairs)
  }

  test("lsh pairs: non-divisible numHashes ignores the partial trailing band") {
    import spark.implicits._
    // r14 review catch: firstSharedBand walked a PARTIAL trailing band
    // past the signature array when rowsPerBand does not divide
    // numHashes (the old join form and the Column-form ownership both
    // ignore trailing hashes). 10 hashes / 3 rows = 3 full bands.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely different text about something else entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5,
        numHashes = 10, rowsPerBand = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.forall(p => p._1 < p._2 && p._3 >= 0.5))
    assert(pairs.map(p => (p._1, p._2)).toSet.contains((1L, 2L)),
      "planted near-dup pair not found under 3-full-band config")
    // the long-id contract fails loudly, not with an encoder error
    val bad = Seq(("a", "x y z")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(bad, "doc_id", "text", 0.5)
    }
    assert(e.getMessage.contains("integral id column"))
  }

  test("minhashLshTopK equals the ranked symmetrized pair report") {
    val docs = Tables.t(spark, sf, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = pairs.flatMap { case (d1, d2, j) =>
      Seq((d1, d2, j), (d2, d1, j))
    }.groupBy(_._1).values.flatMap(es =>
      es.sortBy(e => (-e._3, e._2)).take(3)).toSet
    val got = Dedup.minhashLshTopK(docs, "doc_id", "text", 0.7, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
    assert(got.groupBy(_._1).values.forall(_.size <= 3))
  }

  test("pair-volume pre-flight: estimate bounds candidates, refusal names alternates") {
    import spark.implicits._
    // a planted 6-copy family: every prefix gram of the family is
    // shared 6 ways -> the self-join estimate must be >= the real
    // candidate count C(6,2) = 15 and the containment estimate higher
    val fam = (0 until 6).map(i => i.toLong -> "a b c d e f g h")
    val docs = (fam :+ (99L -> "z y x w v u")).toDF("doc_id", "text")
    // reach into the operator's own scaffolding for the estimate input
    val sets = docs.select(col("doc_id").as("id"),
        graft.dedup.Dedup.hashedShingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), size(col("sh")).as("nsh"))
    val ex = sets.select(col("id"), col("nsh"), explode(col("sh")).as("g"))
    val freq = ex.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val pref = ex.join(freq, "g")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("cnt"), col("g"))))
      .filter(col("rn") <= (col("nsh") - ceil(col("nsh") * 0.5) + 1) &&
        col("cnt") >= 2)
      .select(col("id"), col("nsh"), col("g"), col("rn"))
    // generous bound: no refusal
    Dedup.refuseIfViral(pref, None, 1L << 20, "test")
    // tight bound: refusal carries the estimate and names the alternates
    val e = intercept[graft.dedup.PairVolumeException] {
      Dedup.refuseIfViral(pref, None, 3L, "test")
    }
    assert(e.estimatedPairs >= 15L)
    assert(e.getMessage.contains("minhashLshClusterSummary"))
    assert(e.getMessage.contains("minhashLshTopK"))
    val e2 = intercept[graft.dedup.PairVolumeException] {
      Dedup.refuseIfViral(pref, Some(ex), 3L, "test")
    }
    assert(e2.estimatedPairs >= e.estimatedPairs)
  }

  test("incremental star kernel is digit-identical to the all-pairs kernel") {
    // r16 forest-stage rewrite (VERDICT r15 next #5): the component-
    // incremental enumeration must compute closure(R) exactly like the
    // retained all-pairs union-find — same components, same min-rooted
    // stars — on clique, bridge, and seeded random bucket shapes.
    def run(f: (Iterator[(Long, Long, Int, Array[Long])], Double) => Iterator[(Long, Long)],
        rows: Seq[(Long, Array[Long])], t: Double): Set[(Long, Long)] =
      f(rows.iterator.map { case (id, sh) => (0L, id, sh.length, sh) }, t).toSet
    def both(rows: Seq[(Long, Array[Long])], t: Double): Unit = {
      val a = run(Dedup.lshBucketStars, rows, t)
      val b = run(Dedup.lshBucketStarsNaive, rows, t)
      assert(a === b, s"t=$t rows=${rows.map(_._1)}")
    }
    // planted clique + singletons
    val clique = (0 until 50).map(i => (100L + i, Array(1L, 2L, 3L, 4L)))
    val singles = Seq((1L, Array(9L, 10L)), (2L, Array(11L, 12L, 13L)))
    both(clique ++ singles, 0.7)
    // bridge: k overlaps two components that do not overlap each other
    val bridge = Seq(
      (10L, Array(1L, 2L, 3L)), (11L, Array(1L, 2L, 3L)),
      (20L, Array(7L, 8L, 9L)), (21L, Array(7L, 8L, 9L)),
      (30L, Array(1L, 2L, 3L, 7L, 8L, 9L)))
    both(bridge, 0.3)
    // seeded random buckets: small alphabet forces partial overlaps
    val rnd = new scala.util.Random(77)
    for (_ <- 0 until 300) {
      val m = 2 + rnd.nextInt(40)
      val rows = (0 until m).map { i =>
        val sz = 2 + rnd.nextInt(7)
        val sh = Array.fill(sz)(rnd.nextInt(12).toLong).distinct.sorted
        (rnd.nextInt(1000).toLong * 100 + i, sh)
      }
      both(rows, Seq(0.2, 0.5, 0.8)(rnd.nextInt(3)))
    }
    // the embedding twin (cellStars vs cellStarsNaive): low-dim random
    // vectors at loose thresholds give dense, bridge-heavy graphs
    for (s <- 0 until 100) {
      val r2 = new scala.util.Random(1000 + s)
      val m = 2 + r2.nextInt(30)
      val rows = (0 until m).map { i =>
        val v = Array.fill(4)(r2.nextDouble() * 2 - 1)
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (0L, r2.nextInt(500).toLong * 100 + i, v, nrm)
      }
      val t = Seq(0.1, 0.5, 0.9)(r2.nextInt(3))
      val a = Dedup.cellStars(rows.iterator, t).toSet
      val b = Dedup.cellStarsNaive(rows.iterator, t).toSet
      assert(a === b, s"seed=$s t=$t")
    }
  }

  test("sampled pre-flight estimate tracks the exact census within thinning variance") {
    import spark.implicits._
    // a planted 600-copy viral family among 2400 distinct docs: the
    // exact census is dominated by the family's C(600,2)-scale prefix
    // collisions; the 1/r probe sees ~600/r members and scales back by
    // r^2 (E[s(s-1)] = c(c-1)/r^2 exactly under binomial thinning).
    // The rarity prefix is re-derived on the sample, so the contract
    // pinned here is agreement within a 3x band, not equality.
    val fam = (0 until 600).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog again"))
    val rest = (0 until 2400).map(i =>
      (1000L + i, s"unique document payload number $i with filler token ${i * 7} end"))
    val docs = (fam ++ rest).toDF("doc_id", "text")
    val sets = docs.select(col("doc_id").as("id"),
        graft.dedup.Dedup.hashedShingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), size(col("sh")).as("nsh"))
    val (ex, pref) = {
      val e = sets.select(col("id"), col("nsh"), explode(col("sh")).as("g"))
      val freq = e.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      val p = e.join(freq, "g")
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
            .orderBy(col("cnt"), col("g"))))
        .filter(col("rn") <= (col("nsh") - ceil(col("nsh") * 0.5) + 1) &&
          col("cnt") >= 2)
        .select(col("id"), col("nsh"), col("g"), col("rn"))
      (e, p)
    }
    for (oneSided <- Seq(false, true)) {
      val exact = Dedup.viralEstimateD(pref, if (oneSided) Some(ex) else None)
      val sampled = Dedup.sampledViralEstimateD(docs, "doc_id", "text",
        0.5, 3, oneSided, r = 4)
      assert(exact > 0.0)
      assert(sampled > exact / 3.0 && sampled < exact * 3.0,
        s"oneSided=$oneSided: sampled=$sampled exact=$exact")
    }
    // the refusal path itself: a tight bound trips the sampled stage,
    // whose message marks the estimate as sampled and pre-computes the
    // implied minimum rate for the sampled surveys
    val e = intercept[graft.dedup.PairVolumeException] {
      Dedup.sampledRefuseIfViral(docs, "doc_id", "text", 0.5, 3,
        oneSided = false, bound = 100L, op = "test")
    }
    assert(e.getMessage.contains("sampled pre-flight"))
    assert(e.getMessage.contains("rateInv >= ~"))
  }

  test("raising maxCandidatePairs is the explicit escape hatch (results unchanged)") {
    // oracle-scale corpora sit below the pairGuard size floor, so the
    // default run never pays the estimate job; this pins that passing
    // an explicit bound leaves results identical on the normal path
    val docs = Tables.t(spark, sf, "documents")
    val a = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5,
        maxCandidatePairs = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b)
  }
}
