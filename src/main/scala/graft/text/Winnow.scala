package graft.text

/** Winnowing document fingerprints (the MOSS scheme: Schleimer,
  * Wilkerson & Aiken 2003) — rolling k-gram hashes, minimum per sliding
  * window (rightmost wins ties), consecutive duplicates collapsed.
  * The near-dup/containment fingerprint family named in the project
  * north star; guarantees any shared substring of length >= w + k - 1
  * yields a shared fingerprint.
  */
object Winnow {

  private val Base = 257L
  private val Mod = (1L << 61) - 1 // Mersenne prime

  /** Rolling polynomial hashes of every k-gram of s. "Characters" are
    * Unicode CODEPOINTS (matching the oracle's ord/substr semantics and
    * DuckDB's length()), not UTF-16 units — charAt would split non-BMP
    * characters (emoji) into surrogate halves and diverge cross-engine.
    */
  def kgramHashes(s: String, k: Int): Array[Long] = {
    val cp = s.codePoints().toArray
    if (cp.length < k) return Array.empty
    val n = cp.length - k + 1
    val out = new Array[Long](n)
    var h = 0L
    var pow = 1L
    var i = 0
    while (i < k) {
      h = mulmod(h, Base) + cp(i)
      if (h >= Mod) h -= Mod
      if (i < k - 1) pow = mulmod(pow, Base)
      i += 1
    }
    out(0) = h
    i = 1
    while (i < n) {
      h = h - mulmod(cp(i - 1).toLong, pow)
      if (h < 0) h += Mod
      h = mulmod(h, Base) + cp(i + k - 1)
      if (h >= Mod) h -= Mod
      out(i) = h
      i += 1
    }
    out
  }

  private def mulmod(a: Long, b: Long): Long = {
    // 61-bit Mersenne multiplication via Math.multiplyHigh
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (lo & Mod) + ((lo >>> 61) | (hi << 3))
    if (r >= Mod) r -= Mod
    r
  }

  /** Winnowed fingerprint set (sorted, distinct). */
  def fingerprints(text: String, k: Int = 5, w: Int = 4): Array[Long] = {
    val hs = kgramHashes(text, k)
    if (hs.isEmpty) return Array.empty
    if (hs.length <= w) return Array(hs.min)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var last = -1
    var i = 0
    while (i + w <= hs.length) {
      // rightmost minimum of window [i, i+w)
      var m = i
      var j = i + 1
      while (j < i + w) { if (hs(j) <= hs(m)) m = j; j += 1 }
      if (m != last) { out += hs(m); last = m }
      i += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    arr.distinct
  }

  /** Fingerprint-overlap similarity (|A ∩ B| / |A ∪ B|). */
  def similarity(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val sa = a.toSet
    val inter = b.count(sa.contains)
    val union = sa.size + b.distinct.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  /** SUBSTRING-level overlap pairs — the MOSS report over winnowed
    * fingerprints: all document pairs sharing at least `minShared`
    * fingerprints, with the shared count and the containment-style
    * overlap `n_shared / min(|A|, |B|)`. The winnowing guarantee makes
    * this a SPAN detector: any copied substring of length >= w + k - 1
    * codepoints yields a shared fingerprint, so a lifted paragraph
    * pairs its source and its host even when whole-document Jaccard
    * (d2) is tiny and set-decontamination (d7) has no benchmark side —
    * the relation doc-level similarity structurally misses.
    *
    * Scale shape: fingerprints are a sparse per-doc sample (~1/w of
    * k-grams), candidates come from a fingerprint-bucketed equi-join —
    * never all-pairs — and `maxDf` drops fingerprints shared by more
    * than that many docs BEFORE the join (MOSS's ignore-common-code
    * step: boilerplate hashes would otherwise create the hot-bucket
    * quadratic blow-up, and a span shared by hundreds of docs is
    * boilerplate, not plagiarism). Both the shared counts and the
    * overlap denominators are computed over the PRUNED sets, so the
    * statement stays self-consistent. Output is pair-level — bounded
    * by real overlap density, a diagnostic like d2/d14 at viral
    * densities (SCALE_r12).
    *
    * Cache lifecycle: the pruned fingerprint table is cached (three
    * consumers in the returned lazy plan — both join sides and the
    * size table), and CALLERS own its lifetime, the [[graft.dedup
    * .Dedup.signedSets]] convention: Verify/Bench clear the cache per
    * query; long-lived sessions should `spark.sharedState.cacheManager
    * .clearCache()` (or uncache selectively) once the result is
    * materialized.
    */
  def overlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2,
      maxDf: Int = 1 << 10): DataFrame =
    overlapTail(prunedFps(df, idCol, textCol, k, w, maxDf), minShared)

  /** SAMPLED span-overlap pairs — [[overlapPairs]]' statement over the
    * deterministic uniform 1/`rateInv` document sample (the
    * [[graft.dedup.Dedup.sampleKeep]] seed-97 residue class shared by
    * every sampled survey): the compute-relief path for the winnow
    * pair report, whose fp-bucket self-join is the one term that
    * grows Omega(family^2) under a viral copied-span family. Sampling
    * both endpoints scales that join's volume by 1/rateInv^2.
    *
    * '''Thinned-view contract (the d23/r16 discipline, from birth):'''
    * the fingerprint document-frequency prune (`maxDf`) and the
    * per-doc pruned-set sizes are computed over the FULL corpus —
    * re-deriving the df counts on the thinned corpus would KEEP
    * boilerplate fingerprints whose full-corpus df exceeds maxDf
    * (expected sampled df ~ df/rateInv), so the sampled report would
    * not be a restriction of the exact one, only an approximation
    * with unpredictable extra pairs. With the prune pinned to the
    * full corpus, the output is EXACTLY [[overlapPairs]]' pair set
    * restricted to pairs with both endpoints sampled (n_shared and
    * overlap byte-identical — WinnowFinkClassSpec set-equality), and
    * per-pair survival is exactly 1/rateInv^2. The df census still
    * scans the full corpus — linear, the analog of d23's full-corpus
    * centroid seed; the quadratic pair join is what thins.
    */
  def sampledOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      rateInv: Int, k: Int = 5, w: Int = 4, minShared: Int = 2,
      maxDf: Int = 1 << 10): DataFrame = {
    require(rateInv >= 1, s"rateInv must be >= 1, got $rateInv")
    overlapTail(prunedFps(df, idCol, textCol, k, w, maxDf)
      .where(graft.dedup.Dedup.sampleKeep("id", rateInv)), minShared)
  }

  /** Shared front-end of the overlap family: the per-doc DISTINCT
    * winnowed-fingerprint relation `(id, fp)`, boilerplate-pruned at
    * `maxDf` over the WHOLE input frame. Cached — see the cache
    * lifecycle note on [[overlapPairs]]; the sampled variant filters
    * AFTER the cache, so its three consumers reuse one materialized
    * full relation rather than re-paying the fingerprint kernel.
    */
  private def prunedFps(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxDf: Int): DataFrame = {
    val fpk = udf((t: String) => fingerprints(if (t == null) "" else t, k, w))
      .asNondeterministic() // keeps the kernel above the exchange (the
    // signedSets convention); fingerprints() is pure
    val target = df.sparkSession.sparkContext.defaultParallelism
    val wide = graft.ScanBytes.spread(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), 0L)
    // fingerprints() returns a distinct set, so (id, fp) is unique.
    // df-prune as a WINDOW count over one fp-keyed exchange, not the
    // r17 groupBy + join-back (r18, guide §2.4): the nondeterministic
    // kernel blocked exchange reuse between the join form's two fps
    // subtrees, so the cache BUILD ran the fingerprint kernel TWICE
    // over the corpus (two scans, two Generates in the r17 plan) and
    // paid two more exchanges + a broadcast for the df dictionary.
    // The window reads its single child once, and the explicit
    // numbered repartition both spreads the count and pins the cached
    // relation's width (AQE cannot byte-coalesce a numbered
    // repartition). Two alternatives were MEASURED and rejected
    // (plans/r18/refbench_sf1_d18*.json): caching the raw (id, fp)
    // relation below an uncached groupBy+join prune re-runs the probe
    // join and df census once per consumer (three consumers) and paired
    // ~1.9 s SLOWER at 10x data; the r17 shape itself loses the
    // kernel-pass dedup. The family nets positive under this shape:
    // paired at sf0.1 d18 +0.41 / d20 +0.11 / d24 +0.12, at 10x data
    // d20 +0.84 / d24 +0.73 with d18 itself -0.2 (the window sort vs
    // the old shape's concurrently-built broadcast subtree).
    val fps = wide.select(col("id"), explode(fpk(col("__t"))).as("fp"))
    fps.repartition(target, col("fp"))
      .withColumn("__dfc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .where(col("__dfc") <= maxDf)
      .drop("__dfc")
      .cache()
  }

  /** Pair join + sizes + overlap ratio over a (possibly restricted)
    * pruned-fingerprint relation. Sizes are computed from the SAME
    * relation as the join sides: for the sampled variant this equals
    * the full-corpus sizes on sampled docs (a doc's own pruned set
    * does not depend on which OTHER docs are sampled — the prune
    * already happened upstream).
    */
  private def overlapTail(pf: DataFrame, minShared: Int): DataFrame = {
    val sizes = pf.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // shuffle_hash pin (r18): both sides are the SAME cached relation,
    // hash-partitioned by fp (prunedFps' numbered repartition), so a
    // shuffled-hash join needs NO exchange and no sort — the build is
    // 1/width of the relation per task. The planner's own choice at
    // 10x data was a BroadcastHashJoin of the whole 77 MiB / 3.4M-row
    // cache (its post-filter size estimate undershoots the threshold),
    // whose single-threaded hash-relation build was the measured sf1
    // regression (refbench 2.35 -> 3.22 s); sort-merge would re-sort
    // millions of rows the partitioning already clusters.
    val pairs = pf.as("a").join(pf.as("b").hint("shuffle_hash"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("d1"), col("b.id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(sizes.select(col("id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("overlap",
        col("n_shared").cast("double") / least(col("n1"), col("n2")))
      .select(col("d1"), col("d2"),
        col("n_shared").cast("long").as("n_shared"), col("overlap"))
  }

  /** Bounded-output span-overlap REPORT — each doc's top-k partners by
    * winnowed-fingerprint overlap ([[overlapPairs]] symmetrized):
    * <= k rows per doc regardless of overlap density, ranked through
    * the bounded per-group heap ([[org.apache.spark.sql.graft
    * .TopKPerGroup]]) so nothing pair-volume shuffles or sorts after
    * the pair counts fold. The maxDf boilerplate prune already bounds
    * the candidate join's bucket sizes, which is why the winnow family
    * completes at scales where exact shingle-set pair reports die
    * (SCALE_r12: d18 3.9 s at sf10) — this adds the per-doc output
    * bound for viral overlap densities. Ties on (overlap, n_shared)
    * break to the lower partner id (total ordering, the TopKPerGroup
    * tie discipline).
    */
  def overlapTopK(df: DataFrame, idCol: String, textCol: String,
      topK: Int, k: Int = 5, w: Int = 4, minShared: Int = 2,
      maxDf: Int = 1 << 10): DataFrame = {
    val pairs = overlapPairs(df, idCol, textCol, k, w, minShared, maxDf)
    val sym = pairs.select(explode(array(
        struct(col("d1").as("doc_id"), col("d2").as("partner"),
          col("n_shared"), col("overlap")),
        struct(col("d2").as("doc_id"), col("d1").as("partner"),
          col("n_shared"), col("overlap")))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.partner").as("partner"),
        col("e.n_shared").as("n_shared"), col("e.overlap").as("overlap"))
    org.apache.spark.sql.graft.TopKPerGroup(sym, topK, Seq(col("doc_id")),
      Seq(col("overlap").desc, col("n_shared").desc, col("partner").asc))
  }
}
