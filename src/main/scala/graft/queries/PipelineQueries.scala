package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ScanBytes
import graft.Tables.t
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.{Quantize, Similarity}
import graft.text.{Decontaminate, Repetition, TextOps, TfIdf}

/** LLM-training-data pipeline operators (beyond the reference's own
  * surface, per the project north star): deduplication, similarity
  * search, text analysis, multimodal columns — each wired to the
  * documents / embeddings testdata tables with a DuckDB oracle.
  */
object PipelineQueries extends QueryPack {

  private def docs(s: SparkSession, dir: String) = t(s, dir, "documents")
  // The SPREAD documents scan for queries whose heavy work is
  // Column-composed map-side kernels (regex batteries, tokenize +
  // explode, byte histograms): a single-row-group parquet file pins
  // those kernels to ONE task regardless of session width — the
  // measured cause of SCALE_r12's t-family ~10x-per-decade band
  // (t9 97 -> 9.6 s, t19 129 -> 10.5 s at sf10). Operator-backed
  // queries (the d/p dedup chains, UnigramLm/BigramLm/TfIdf/
  // Repetition consumers) keep the bare scan: they spread their own
  // compute-heavy passes internally, usually AFTER a row-reducing
  // stage, and an unconditional upstream exchange measurably hurts
  // them (p5 at sf10: 19-25 s bare vs 36 s spread — the chain pays a
  // full-width text exchange its internal spread placement avoids).
  private def sdocs(s: SparkSession, dir: String) =
    ScanBytes.spread(t(s, dir, "documents"), ScanBytes.KernelFloor)
  private def emb(s: SparkSession, dir: String) = t(s, dir, "embeddings")

  // ---- dedup family ----

  private def d1Exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  private def d2NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", 0.5)
      .orderBy("d1", "d2")

  private def d3MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", 0.7)
      .orderBy("d1", "d2")

  // d14: asymmetric containment pairs — |S1 ∩ S2|/|S1| >= 0.7 ordered
  // pairs (quote/boilerplate detection); one-sided prefix filter on
  // the contained side, full gram index on the container side.
  private def d14Containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(s, dir), "doc_id", "text", 0.7)
      .orderBy("d1", "d2")

  // d15: linear-output cluster summary over the minhash-LSH verified
  // near-dup graph — d3's scale-safe sibling (VERDICT r10 #3): one row
  // per nontrivial component instead of the Omega(family^2) pair
  // report; the per-bucket union-find verifies lazily, so a duplicate
  // clique costs c-1 exact-Jaccard merges, not c(c-1)/2.
  private def d15LshClusterSummary(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshClusterSummary(docs(s, dir), "doc_id", "text", 0.7)
      .orderBy("cluster_id")

  // d16: per-contained-doc containment degree — d14's pair report
  // aggregated per doc. OUTPUT compression only (compute identical to
  // d14 by construction — see containmentDegree's scaladoc); the
  // compute-side scale siblings are d15/d17.
  private def d16ContainmentDegree(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentDegree(docs(s, dir), "doc_id", "text", 0.7)
      .orderBy("doc_id")

  // d17: per-doc near-dup degree over the exact Jaccard graph — d2's
  // linear-output sibling.
  private def d17JaccardDegree(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardDegree(docs(s, dir), "doc_id", "text", 0.5)
      .orderBy("doc_id")

  // d18: MOSS-style substring-span overlap — pairs sharing winnowed
  // fingerprints (any copied substring of >= w + k - 1 codepoints
  // leaves a shared fingerprint), the relation doc-level Jaccard
  // misses when a lifted paragraph sits inside an unrelated host.
  // minShared=6 demands a sustained span (or several), maxDf=32 drops
  // boilerplate shared corpus-wide — calibrated on the sf0.01 fp-df
  // distribution: (2, 64) pairs 57% of ALL doc pairs through shared
  // vocabulary, (8, 16) prunes even the planted families to zero;
  // (6, 32) reports 119 genuine span pairs (max n_shared 24).
  private def d18WinnowOverlap(s: SparkSession, dir: String): DataFrame =
    graft.text.Winnow.overlapPairs(docs(s, dir), "doc_id", "text",
        minShared = 6, maxDf = 32)
      .orderBy("d1", "d2")

  // d19: BOUNDED near-dup report — each doc's top-3 verified partners
  // by exact Jaccard over d3's LSH candidate relation. The pair-level
  // answer that stays <= k rows per doc at viral duplicate density,
  // where the full pair reports (d2/d14) refuse via
  // PairVolumeException; ranked through the TopKPerGroup bounded heap
  // (no pair-volume sort after verification).
  private def d19LshTopK(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshTopK(docs(s, dir), "doc_id", "text", 0.7, 3)
      .orderBy("doc_id", "partner")

  // d21: SAMPLED near-dup degree — d17's statement over a
  // deterministic uniform 1/2 document sample (seeded-MD5 residue
  // class, reproduced bit-for-bit by the oracle). The COMPUTE-side
  // scale path for the exact pair family: sampling both endpoints
  // scales pair volume by 1/rateInv^2, and est_n_neighbors =
  // n_neighbors * rateInv is unbiased (binomial thinning). rateInv=2
  // here so the sf0.01 oracle keeps a stable nontrivial row count;
  // scale users run 1/10 or 1/100.
  private def d21SampledDegree(s: SparkSession, dir: String): DataFrame =
    Dedup.sampledJaccardDegree(docs(s, dir), "doc_id", "text", 0.5, 2)
      .orderBy("doc_id")

  // d22: the asymmetric sibling — d16's containment degree over the
  // same 1/2 sample residue class as d21 (shared sub-corpus).
  private def d22SampledContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.sampledContainmentDegree(docs(s, dir), "doc_id", "text", 0.7, 2)
      .orderBy("doc_id")

  // d23: the embedding-family sampled sibling — d6's pair statement
  // over the 1/2 sample residue class, under d6's OWN index (full-
  // corpus cell count + centroid seed — the r16 thinned-view
  // contract; the oracle seeds from the full table the same way).
  private def d23SampledEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.sampledEmbeddingDupPairs(emb(s, dir), "vec_id", "embedding", 0.4, 2)
      .orderBy("d1", "d2")

  // d24: the winnow-family sampled sibling — d18's span-overlap pair
  // statement over the same 1/2 sample residue class as d21/d22/d23,
  // with the fingerprint df-prune (maxDf) and per-doc sizes pinned to
  // the FULL corpus (the thinned-view contract): the output is
  // exactly d18's pairs with both endpoints sampled. Completes the
  // sampled family across all three pair statements (text shingles,
  // embeddings, winnowed spans).
  private def d24SampledOverlap(s: SparkSession, dir: String): DataFrame =
    graft.text.Winnow.sampledOverlapPairs(docs(s, dir), "doc_id", "text",
        rateInv = 2, minShared = 6, maxDf = 32)
      .orderBy("d1", "d2")

  // d20: BOUNDED span-overlap report — each doc's top-3 winnow-overlap
  // partners (d18's constants: minShared=6, maxDf=32), same TopKPerGroup
  // bounded-heap ranking. Ties on (overlap, n_shared) break to the
  // lower partner id.
  private def d20OverlapTopK(s: SparkSession, dir: String): DataFrame =
    graft.text.Winnow.overlapTopK(docs(s, dir), "doc_id", "text",
        topK = 3, minShared = 6, maxDf = 32)
      .orderBy("doc_id", "partner")

  private def d4Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(s, dir), "doc_id", "text", Seq("lang"))
      .orderBy("doc_id")

  // d5: linear-output near-dup connectivity forest — per-LSH-bucket
  // verified components emitted as (component min, member) stars
  // instead of all verified pairs; same connectivity, O(docs) output
  // where pair enumeration is Omega(clique^2) under replication.
  private def d5SimhashForest(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashForest(
      Dedup.simhash(docs(s, dir), "doc_id", "text"),
      "doc_id", maxHamming = 4)
      .orderBy("d1", "d2")

  // d13: semantic dedup — d6's IVF-cell cosine pairs resolved into
  // transitive components (the SemDeDup shape); every vector gets a
  // cluster, singletons their own. Same AUTO cell sizing/threshold as
  // d6, so the two oracles share their candidate structure (at the
  // driver's oracle scales AUTO resolves to the floor of 8 cells the
  // SQL encodes; at stress scales cells grow with the corpus —
  // SCALE_r12).
  private def d13SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(emb(s, dir), "vec_id", "embedding",
        threshold = 0.4)
      .orderBy("vec_id")

  private def d6EmbeddingDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingDupPairs(emb(s, dir), "vec_id", "embedding", 0.4)
      .orderBy("d1", "d2")

  // d8: linear-output near-dup assignment (canonical representative per
  // doc) — the scale answer to d5's Omega(pairs) clique blow-up.
  private def d8SimhashAssign(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashAssign(
      Dedup.simhash(docs(s, dir), "doc_id", "text"),
      "doc_id", maxHamming = 4)
      .orderBy("doc_id")

  // ---- similarity search ----

  private def s1Knn(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(emb(s, dir), "vec_id", "embedding", 0L, 10)
      .select(col("id").as("vec_id"), col("cos"))

  private def s2Ivf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(emb(s, dir), "vec_id", "embedding", 0L, 10)
      .select(col("id").as("vec_id"), col("cell"), col("cos"))

  private def s3Srp(s: SparkSession, dir: String): DataFrame =
    Similarity.srpTopK(emb(s, dir), "vec_id", "embedding", 0L, 10)
      .select(col("id").as("vec_id"), col("bucket"), col("cos"))

  // s7: Lloyd-trained IVF cells over the int8 code table — 3
  // iterations from the deterministic seed, 8 cells; integer code
  // sums keep the centroid means exact in both engines.
  private def s7Kmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansCells(emb(s, dir), "vec_id", "embedding", 8, 3)
      .select(col("id").as("vec_id"), col("cell"))
      .orderBy("vec_id")

  // s8: product-quantization ADC search — per-subspace codebooks
  // trained in one keyed Lloyd loop (one corpus pass per iteration
  // for ALL subspaces), corpus stored as nsub codes, query answered
  // from a broadcast (nsub x kcent) distance table. Top-k by the
  // sub-ordered left-fold distance sum (cross-engine bit-exact).
  private def s8PqAdc(s: SparkSession, dir: String): DataFrame =
    graft.sim.ProductQuantize.pqTopK(emb(s, dir), "vec_id", "embedding",
        queryId = 0L, k = 10, nsub = 4, kcent = 8, iters = 2)
      .select(col("id").as("vec_id"), col("adist"))
      .orderBy(col("adist").asc, col("vec_id").asc)

  // s10: batched IVF-PQ — the full IVFADC system over a query TABLE
  // (every 50th vector): cell routing prunes WHICH vectors each query
  // scores, PQ codes prune WHAT is read to score them; probe list and
  // per-query distance tables broadcast, candidates equi-join the
  // routing cell, ranking partitions by query over cell-bounded sets.
  private def s10IvfPqBatch(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.sim.ProductQuantize.ivfPqTopKAll(e, "vec_id", "embedding",
        e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        k = 5, nprobe = 2, nsub = 4, kcent = 8, iters = 2)
      .select(col("qid"), col("id").as("vec_id"), col("adist"))
      .orderBy("qid", "vec_id")
  }

  // s11: the two-level coarse-quantizer route exercised UNFORCED
  // (VERDICT r13 #6) — an explicit ncells=125 > TwoLevelGate keeps the
  // super-centroid assignment permanently oracle-covered without the
  // GRAFT_CELL_DIVISOR test knob; the result is the per-cell census of
  // the routed assignment (cell occupancy + min member), so any drift
  // in routing, refinement, or tie-breaks moves rows.
  private def s11TwoLevelCells(s: SparkSession, dir: String): DataFrame =
    Similarity.assignCells(emb(s, dir), "vec_id", "embedding", 125)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("id")).as("min_vec"))
      .orderBy("cell")

  // s9: ADC-then-exact re-rank (IVFADC+R refinement) — the ADC pass
  // nominates a 3x short list from codes alone; only those 30 vectors
  // are re-scored exactly (candidate ids broadcast onto the corpus as
  // a map-side semi-join — no corpus shuffle) and the short list
  // re-sorts to the final top-10.
  private def s9PqRerank(s: SparkSession, dir: String): DataFrame =
    graft.sim.ProductQuantize.pqTopKRerank(emb(s, dir), "vec_id",
        "embedding", queryId = 0L, k = 10, rerank = 30, nsub = 4,
        kcent = 8, iters = 2)
      .select(col("id").as("vec_id"), col("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)

  // s5/s6: BATCHED ANN — the production entry point serves a query
  // TABLE (every 50th vector here), not a single id: the corpus joins
  // the query set's probe cells/buckets with an equi-join, per-query
  // top-k by window rank. k=5 keeps output row counts moderate.
  private def s5KnnBatch(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") % 50 === 0)
    Similarity.ivfTopKAll(e, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 5)
      .select(col("qid").as("query_id"), col("id").as("vec_id"),
        col("cell"), col("cos"))
      .orderBy(col("query_id"), col("cos").desc, col("vec_id"))
  }

  private def s6SrpBatch(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") % 50 === 0)
    Similarity.srpTopKAll(e, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 5)
      .select(col("qid").as("query_id"), col("id").as("vec_id"),
        col("bucket"), col("cos"))
      .orderBy(col("query_id"), col("cos").desc, col("vec_id"))
  }

  // s4: int8 quantization fidelity — floor-arithmetic quantization so
  // both engines agree without a rounding-mode contract.
  private def s4Quantize(s: SparkSession, dir: String): DataFrame =
    Quantize.int8Stats(emb(s, dir), "vec_id", "embedding")
      .select(col("id").as("vec_id"), col("scale"), col("mse"), col("cos"))
      .orderBy("vec_id")

  // ---- text analysis ----

  private def t1LangId(s: SparkSession, dir: String): DataFrame =
    sdocs(s, dir)
      .groupBy(col("lang"), TextOps.langId(col("text")).as("lang_guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_guess")

  private def t2Quality(s: SparkSession, dir: String): DataFrame =
    sdocs(s, dir).select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      TextOps.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  private def t3TokenStats(s: SparkSession, dir: String): DataFrame =
    sdocs(s, dir)
      .select(col("source"), col("doc_id"),
        explode(org.apache.spark.sql.graft.TokenizeSpace
          .pinned(col("text"))).as("tok"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("total_tokens"),
        countDistinct(col("tok")).as("n_distinct"))
      .orderBy("source")

  private def t4Fingerprint(s: SparkSession, dir: String): DataFrame =
    sdocs(s, dir)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  // t5: winnowed rolling-hash fingerprints (MOSS scheme). The oracle
  // mirrors the 61-bit Mersenne k-gram hash in HUGEINT (the direct
  // polynomial stays under 2^50, so one final mod suffices) and the
  // winnow selection as distinct rightmost-window-minimum values.
  private def t5Winnow(s: SparkSession, dir: String): DataFrame = {
    val fp = udf((t: String) => graft.text.Winnow.fingerprints(
      if (t == null) "" else t))
    sdocs(s, dir)
      .select(col("doc_id"), fp(col("text")).as("fps"))
      // try_element_at: a doc shorter than the k-gram has no
      // fingerprints -> NULL min_fp (ANSI element_at would throw)
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fingerprints"),
        try_element_at(col("fps"), lit(1)).as("min_fp"))
      .orderBy("doc_id")
  }

  // t6: regex token analysis (BPE-ish subword counting via pattern
  // classes; [a-z]+ semantics agree between Java and RE2 regex engines).
  private def t6RegexTokens(s: SparkSession, dir: String): DataFrame =
    sdocs(s, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_alpha"),
        regexp_count(col("text"), lit("[aeiou]{2}")).cast("long").as("n_double_vowel"),
        length(regexp_replace(col("text"), "[^ ]", "")).cast("long").as("n_spaces"))
      .orderBy("doc_id")

  // t7: Gopher-style repetition quality signals; fractions are single
  // IEEE divisions of exact integer counts, so both engines agree
  // bit-for-bit with no rounding step.
  private def t7Repetition(s: SparkSession, dir: String): DataFrame =
    Repetition.signals(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  // d9: transitive near-dup clusters — connected components of the d5
  // pair graph; the oracle computes the same fixpoint via a recursive
  // CTE, so convergence is engine-independent.
  private def d9SimhashClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashClusters(
      Dedup.simhash(docs(s, dir), "doc_id", "text"),
      "doc_id", maxHamming = 4)
      .orderBy("doc_id")

  // d10: the production dedup chain d1 -> forest -> components as one
  // composed operator; since r10 the near-dup stage is the COMPLETE
  // verified-pair closure (per-bucket star forests, connectivity-
  // identical to all pairs), so the oracle states the semantics
  // directly: exact survivors, recursive reachability over all
  // verified pairs, component-min roots.
  private def d10DedupPipeline(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupPipeline(docs(s, dir), "doc_id", "text", maxHamming = 4)
      .orderBy("doc_id")

  // t8: per-doc top TF-IDF term — the global-dictionary pattern (a
  // corpus-wide df aggregate joined back per document). tf and idf are
  // IEEE divisions of exact integers plus one ln(); the m2 entropy
  // oracle already established ln() parity between the JDK and DuckDB.
  private def t8Tfidf(s: SparkSession, dir: String): DataFrame =
    TfIdf.topTerm(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  // d7: benchmark decontamination — doc_id % 97 == 0 plays the held-out
  // benchmark set; 4-grams (not the production 8-13) so the synthetic
  // corpus's short docs produce non-trivial overlap.
  private def d7Decontaminate(s: SparkSession, dir: String): DataFrame =
    Decontaminate.flags(docs(s, dir), "doc_id", "text",
      col("doc_id") % 97 === 0, 4).orderBy("doc_id")

  // d12: the same contamination report through the bloom-pruned path —
  // the 100 TB shape for a benchmark too big to broadcast: corpus grams
  // are dropped map-side by a BloomAgg-built filter before the exact
  // verify join, so the shuffle carries candidates, not the corpus.
  // The output is exact (same oracle as d7); the filter only prunes.
  private def d12BloomDecontaminate(s: SparkSession, dir: String): DataFrame =
    Decontaminate.flagsBloomPruned(docs(s, dir), "doc_id", "text",
      col("doc_id") % 97 === 0, 4).orderBy("doc_id")

  // t9: C4-style keep/drop cascade — first failing rule as the reason,
  // all rules integer/length-based so both engines agree exactly.
  private def t9FilterCascade(s: SparkSession, dir: String): DataFrame = {
    val (keep, reason) = graft.text.TextOps.qualityFilter(col("text"))
    sdocs(s, dir)
      .select(col("doc_id"), keep.as("keep"), reason.as("reason"))
      .orderBy("doc_id")
  }

  // t10: token-budget shard packing per source — a per-group window
  // prefix sum; shard boundaries never split a document.
  private def t10ShardPack(s: SparkSession, dir: String): DataFrame =
    graft.text.ShardPack.pack(docs(s, dir), "doc_id", "text", "source", 2000L)
      .orderBy("doc_id")

  // t11: multi-level shard packing — deterministic sub-buckets bound
  // the window partitions regardless of source skew; shard ids are
  // renumbered globally unique via the broadcast offset table.
  private def t11ShardPackBucketed(s: SparkSession, dir: String): DataFrame =
    graft.text.ShardPack.packBucketed(docs(s, dir), "doc_id", "text",
      "source", 500L, nBuckets = 4)
      .orderBy("doc_id")

  // p1: the COMPOSED corpus-construction chain — quality cascade ->
  // dedup chain (one representative per verified cluster) ->
  // benchmark decontamination -> shard packing — as ONE operator over
  // the oracle-verified pieces. doc_id % 97 == 0 plays the external
  // benchmark set (the d7 convention); t9's cascade, d10's
  // maxHamming=4 chain, d7's 4-grams, t10's 2000-token budget.
  private def p1CorpusBuild(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    graft.text.CorpusBuild.build(
      all.filter(col("doc_id") % 97 =!= 0),
      all.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", "source",
      maxHamming = 4, ngram = 4, budgetTokens = 2000L,
      // the synthetic corpus is word-salad (no sentence-final
      // punctuation), so the C4 terminal rule would empty it — the
      // composed chain runs with that rule off, the standalone t9
      // keeps reporting it
      requireTerminal = false,
      // the production mode: each stage boundary persisted once, so
      // every stage scans the corpus exactly once instead of the lazy
      // chain's three passes (rows identical either way)
      stageMaterialize = Some(graft.dedup.SweepCheckpoint.Local))
      .orderBy("doc_id")
  }

  // p2: deterministic hash-bucket train/val/test assignment — 90/5/5
  // at granularity 1000, seed 7 of the shared md5 family. Map-only at
  // any corpus size; a doc's split never changes as the corpus grows.
  private def p2SplitAssign(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.assignSplits(
      docs(s, dir).select(col("doc_id")), "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      seed = 7, granularity = 1000)
      .orderBy("doc_id")

  // p3: deterministic mixture sampling — per-source keep rates
  // (upweight src0, downsample src1/src2, crawl-default for the rest)
  // at granularity 1000, seed 17. Map-only; a doc's keep/drop never
  // changes as the corpus grows.
  private def p3MixtureSample(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.mixtureSample(
      docs(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source",
      Seq("src0" -> 1.0, "src1" -> 0.6, "src2" -> 0.25),
      defaultRate = 0.05, seed = 17, granularity = 1000)
      .orderBy("doc_id")

  // p4: Efraimidis-Spirakis weighted sampling without replacement —
  // 100 docs drawn with probability proportional to character length
  // (the quality-weighted subcorpus carve). Key is map-only over the
  // md5 hash family; selection is TakeOrdered, never a global sort.
  private def p4WeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.weightedSample(docs(s, dir), "doc_id",
        length(col("text")), k = 100, seed = 29)
      .select(col("id").as("doc_id"), col("w"), col("skey"))
      .orderBy(col("skey").desc, col("doc_id").asc)

  // p5: event-time corpus admission — quality filter, whitespace-
  // normalized md5 fingerprint, simhash, and the smallest
  // (event time, doc_id) copy per distinct content. The DuckDB oracle
  // pins the rows; CorpusBuildSpec pins the tie-breaks on a hand-built
  // corpus. Event time is synthesized deterministically from doc_id
  // (minute-grained over a day) since documents carries no timestamp.
  private def p5EventIngest(s: SparkSession, dir: String): DataFrame =
    graft.text.CorpusBuild.earliestAdmissions(
      docs(s, dir).withColumn("ts",
        timestamp_millis(lit(1700000000000L) + (col("doc_id") % 1440) * 60000L)),
      "doc_id", "text", "ts", requireTerminal = false)
      .orderBy("doc_id")

  // p6: CCNet-style perplexity carve — keep each language's lowest
  // 2/3 by (mean surprisal, doc_id). The selection is EXACT rank
  // selection computed sort-free: per-stratum k-th-pair thresholds via
  // the simultaneous bit-image histogram drill (8 count passes however
  // many strata), then a broadcast threshold filter — no window over
  // the corpus.
  private def p6CcnetCarve(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sur = graft.text.UnigramLm.surprisal(d, "doc_id", "text")
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
    graft.functions.Selection
      .carveLowest(sur, "lang", "mean_surprisal", "doc_id", 2.0 / 3.0)
      .select(col("doc_id"), col("lang"), col("nt"), col("mean_surprisal"))
      .orderBy("doc_id")
  }

  // t12: deterministic k-per-stratum sample — the 5 smallest
  // (hash, id) per language; salted two-phase top-k so no stratum is
  // ever sorted on one task (plan pinned in SamplingSpec).
  private def t12StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.stratifiedSample(
      docs(s, dir), "doc_id", "lang", k = 5, seed = 3, salts = 8)
      .withColumn("rk", col("rk").cast("long"))
      .orderBy("strata", "rk")

  // t13: corpus-trained unigram-LM mean surprisal per doc — the
  // global-dictionary pattern again (tf + 1-row total joined back),
  // with the per-doc float reduction as a sorted-order array fold so
  // the double is a deterministic function of the data on both
  // engines (NativeLn for libm parity).
  private def t13UnigramSurprisal(s: SparkSession, dir: String): DataFrame =
    graft.text.UnigramLm.surprisal(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  // d11: incremental admission — the corpus is the even-id half of
  // documents, the increment the odd half; the operator touches only
  // the increment and the two maintained index tables (exact fp index
  // + band-rep index), never the corpus text.
  private def d11IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = d.filter(col("doc_id") % 2 === 0)
    val inc = d.filter(col("doc_id") % 2 === 1)
    Dedup.incrementalDedup(inc, "doc_id", "text",
        Dedup.exactIndex(base, "doc_id", "text"),
        Dedup.bandIndex(base, "doc_id", "text", maxHamming = 4),
        maxHamming = 4)
      .orderBy("doc_id")
  }

  // t17: KMV distinct-token sketch per language — the native
  // TypedImperativeAggregate over the cross-engine hash family, so
  // the ESTIMATE itself is hash-compare verifiable (HLL variants
  // disagree across engines by construction). The exact distinct
  // count rides along so the sketch error is visible in the output.
  private def t17KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val toks = sdocs(s, dir).select(col("lang"),
      explode(org.apache.spark.sql.graft.TokenizeSpace
        .pinned(coalesce(col("text"), lit("")))).as("tok"))
    toks
      .withColumn("hv", graft.functions.Hashing.hash60(col("tok"), 21))
      .groupBy("lang")
      .agg(
        org.apache.spark.sql.graft.KmvDistinct(col("hv"), 16)
          .as("est_distinct"),
        countDistinct(col("tok")).as("n_distinct"))
      .orderBy("lang")
  }

  // t18: KMV set algebra — estimated vocabulary Jaccard between every
  // language pair from the per-language k-minima sketches alone
  // (union = merge+truncate, intersection counted under the union's
  // theta: m / |u|), with the exact pairwise Jaccard alongside. The
  // sketch path touches each corpus ONCE however many pairs are
  // compared — the point of sketch composition at 100 TB.
  private def t18VocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val toks = sdocs(s, dir).select(col("lang"),
      explode(org.apache.spark.sql.graft.TokenizeSpace
        .pinned(coalesce(col("text"), lit("")))).as("tok"))
    val sk = toks
      .withColumn("hv", graft.functions.Hashing.hash60(col("tok"), 21))
      .groupBy("lang")
      .agg(org.apache.spark.sql.graft.KmvMinima(col("hv"), 16).as("mins"))
    val est = sk.as("a").join(sk.as("b"), col("a.lang") < col("b.lang"))
      .select(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"),
        slice(array_sort(array_union(col("a.mins"), col("b.mins"))), 1, 16)
          .as("u"),
        col("a.mins").as("ma"), col("b.mins").as("mb"))
      .select(col("lang_a"), col("lang_b"),
        (size(array_intersect(array_intersect(col("u"), col("ma")),
          col("mb"))).cast("double") / size(col("u"))).as("jaccard_est"))
    val vocab = toks.select("lang", "tok").distinct()
    val sizes = vocab.groupBy("lang").agg(count(lit(1)).as("nv"))
    val inter = vocab.as("x").join(vocab.as("y"),
        col("x.tok") === col("y.tok") && col("x.lang") < col("y.lang"))
      .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
      .agg(count(lit(1)).as("ninter"))
    est
      .join(inter, Seq("lang_a", "lang_b"), "left")
      .join(sizes.withColumnRenamed("lang", "lang_a")
        .withColumnRenamed("nv", "na"), "lang_a")
      .join(sizes.withColumnRenamed("lang", "lang_b")
        .withColumnRenamed("nv", "nb"), "lang_b")
      .select(col("lang_a"), col("lang_b"), col("jaccard_est"),
        (coalesce(col("ninter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("ninter"), lit(0L))))
          .as("jaccard_exact"))
      .orderBy("lang_a", "lang_b")
  }

  // t19: count-min heavy hitters — the mergeable frequency-sketch
  // counterpart to t17's cardinality sketch. Grid counters are pure
  // SUMS (order-independent under Spark's partial aggregation, unlike
  // Misra-Gries summaries), so DuckDB rebuilds the identical grid from
  // per-cell sums and the estimate itself hash-verifies. Exact counts
  // ride along per the t17 convention; the mass threshold is the
  // integer comparison est*64 >= total (no float divide).
  private def t19CmsHeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.text.HeavyHitters.heavyHitters(
        docs(s, dir), "text", depth = 4, width = 256, ratio = 64)
      .orderBy("tok")

  // t16: bigram stupid-backoff surprisal — counts trained on the
  // even-id half (the "curated split"), every document scored, so the
  // backoff and OOV paths are LIVE for odd documents (a
  // same-corpus-trained bigram LM never backs off).
  private def t16BigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.text.BigramLm.surprisal(
        d, d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .orderBy("doc_id")
  }

  // t14: normalization pass — each engine builds the SAME messy string
  // (case noise, tab, decomposed e+U+0301, BEL control, ragged spaces)
  // around the row's text, then normalizes: NFC compose -> controls to
  // space -> whitespace collapse -> trim -> lower. The case noise is a
  // FIXED ASCII literal, not upper(text): Java's full case mapping
  // (ligature fi -> FI, etc.) diverges from utf8proc's simple mapping
  // on a handful of codepoints, and the operator under test is
  // normalizeText, not locale uppercasing. Byte lengths in/out (t9's
  // byte-denominated convention — Spark character length is UTF-16
  // units vs DuckDB codepoints).
  private def t14NormalizeText(s: SparkSession, dir: String): DataFrame = {
    val messy = concat(
      lit("MiXeD CaSe HeAdEr\t "),
      lit("e\u0301 "), coalesce(col("text"), lit("")),
      lit("  \u0007  tail   "))
    sdocs(s, dir)
      .select(col("doc_id"),
        octet_length(messy).cast("long").as("n_bytes_in"),
        graft.text.Normalize.normalizeText(messy).as("norm"))
      .withColumn("n_bytes_out", octet_length(col("norm")).cast("long"))
      .select(col("doc_id"), col("norm"), col("n_bytes_in"), col("n_bytes_out"))
      .orderBy("doc_id")
  }

  // t15: PII redaction — deterministic synthetic PII (an email, a URL,
  // a dotted-quad, all derived from doc_id) appended to the text on
  // BOTH engines, then the URL -> email -> IPv4 redaction cascade with
  // per-pattern counts staged the same way.
  private def t15PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val messy = concat(
      coalesce(col("text"), lit("")),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
      lit(" via https://data.example.org/d/"), col("doc_id").cast("string"),
      lit(" from 10.2."), (col("doc_id") % 200).cast("string"), lit(".7 end"))
    val counts = graft.text.Redact.piiCounts(messy)
      .map { case (n, c) => c.as(n) }
    sdocs(s, dir)
      .select(Seq(col("doc_id"),
        graft.text.Redact.redactText(messy).as("redacted")) ++ counts: _*)
      .orderBy("doc_id")
  }

  // ---- multimodal ----

  // m4: 60-bit byte-block average hash per media item (packed docs are
  // octet-stream, so the codec-free byteAHash path runs; real images
  // take the pixel-domain imageAHash — fixture-spec'd). The `simhash`
  // output drops straight into the d5/d8 Hamming-LSH machinery.
  private def m4PerceptualHash(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualHash(s, Multimodal.packDocuments(sdocs(s, dir)))
      .orderBy("id")

  private def m1MediaMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.packDocuments(sdocs(s, dir))
      .select(col("id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        col("width"), col("height"), md5(col("payload")).as("fp"))
      .orderBy("id")

  private def m2MediaFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(s, Multimodal.packDocuments(sdocs(s, dir)))
      .toDF().orderBy("id")

  // m3: uniform frame sampling over byte-block "frames" (the video
  // pipeline's sample-n-frames step, codec-free so the oracle can
  // mirror it byte-for-byte): 64-byte frames, keep 4 uniformly with
  // first/last always included. The array outputs are emitted as
  // hashable scalars (CSV indices; means as fixed-point micro-units,
  // floor(m*1e6+0.5) — identical doubles on both engines make the
  // rounding engine-independent) so the driver's row-hash comparison
  // can factorize them; empty payloads yield n_sampled=0 with empty
  // CSVs, mirrored by the oracle's LEFT JOIN.
  private def m3FrameSample(s: SparkSession, dir: String): DataFrame = {
    val k = udf((payload: Array[Byte]) =>
      graft.multimodal.MediaKernel.frameSample(payload, 64, 4))
    Multimodal.packDocuments(sdocs(s, dir))
      .select(col("id"), k(col("payload")).as("fs"))
      .select(col("id"),
        size(col("fs._1")).cast("long").as("n_sampled"),
        array_join(col("fs._1"), ",").as("sampled_idx_csv"),
        array_join(
          transform(col("fs._2"),
            m => floor(m * lit(1e6) + lit(0.5)).cast("long")),
          ",").as("frame_means_csv"))
      .orderBy("id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_dedup_exact" -> (d1Exact _),
    "d2_dedup_ngram_jaccard" -> (d2NgramJaccard _),
    "d3_dedup_minhash_lsh" -> (d3MinhashLsh _),
    "d4_simhash" -> (d4Simhash _),
    "d5_simhash_forest" -> (d5SimhashForest _),
    "d6_dedup_embedding" -> (d6EmbeddingDup _),
    "d7_decontaminate" -> (d7Decontaminate _),
    "d8_simhash_assign" -> (d8SimhashAssign _),
    "d9_simhash_clusters" -> (d9SimhashClusters _),
    "d10_dedup_pipeline" -> (d10DedupPipeline _),
    "d11_incremental_dedup" -> (d11IncrementalDedup _),
    "d12_bloom_decontaminate" -> (d12BloomDecontaminate _),
    "d13_semantic_dedup" -> (d13SemanticDedup _),
    "d14_containment" -> (d14Containment _),
    "d15_lsh_cluster_summary" -> (d15LshClusterSummary _),
    "d16_containment_degree" -> (d16ContainmentDegree _),
    "d17_jaccard_degree" -> (d17JaccardDegree _),
    "d18_winnow_overlap" -> (d18WinnowOverlap _),
    "d19_lsh_topk" -> (d19LshTopK _),
    "d20_overlap_topk" -> (d20OverlapTopK _),
    "d21_sampled_degree" -> (d21SampledDegree _),
    "d22_sampled_containment" -> (d22SampledContainment _),
    "d23_sampled_embedding" -> (d23SampledEmbedding _),
    "d24_sampled_overlap" -> (d24SampledOverlap _),
    "s1_knn_bruteforce" -> (s1Knn _),
    "s2_knn_ivf" -> (s2Ivf _),
    "s3_knn_srp" -> (s3Srp _),
    "s4_quantize" -> (s4Quantize _),
    "s5_knn_batch" -> (s5KnnBatch _),
    "s6_knn_srp_batch" -> (s6SrpBatch _),
    "s7_kmeans_cells" -> (s7Kmeans _),
    "s8_pq_adc" -> (s8PqAdc _),
    "s9_pq_rerank" -> (s9PqRerank _),
    "s10_ivfpq_batch" -> (s10IvfPqBatch _),
    "s11_twolevel_cells" -> (s11TwoLevelCells _),
    "t1_lang_id" -> (t1LangId _),
    "t2_quality_score" -> (t2Quality _),
    "t3_token_stats" -> (t3TokenStats _),
    "t4_fingerprint" -> (t4Fingerprint _),
    "t5_winnow_fingerprint" -> (t5Winnow _),
    "t6_regex_tokens" -> (t6RegexTokens _),
    "t7_repetition" -> (t7Repetition _),
    "t8_tfidf" -> (t8Tfidf _),
    "t9_filter_cascade" -> (t9FilterCascade _),
    "t10_shard_pack" -> (t10ShardPack _),
    "t11_shard_pack_bucketed" -> (t11ShardPackBucketed _),
    "p1_corpus_build" -> (p1CorpusBuild _),
    "p2_split_assign" -> (p2SplitAssign _),
    "p3_mixture_sample" -> (p3MixtureSample _),
    "p4_weighted_sample" -> (p4WeightedSample _),
    "p5_event_ingest" -> (p5EventIngest _),
    "p6_ccnet_carve" -> (p6CcnetCarve _),
    "t12_stratified_sample" -> (t12StratifiedSample _),
    "t13_unigram_surprisal" -> (t13UnigramSurprisal _),
    "t14_normalize" -> (t14NormalizeText _),
    "t16_bigram_surprisal" -> (t16BigramSurprisal _),
    "t17_kmv_distinct" -> (t17KmvDistinct _),
    "t18_vocab_overlap" -> (t18VocabOverlap _),
    "t19_cms_heavy_hitters" -> (t19CmsHeavyHitters _),
    "t15_pii_redact" -> (t15PiiRedact _),
    "m1_media_meta" -> (m1MediaMeta _),
    "m2_media_features" -> (m2MediaFeatures _),
    "m3_frame_sample" -> (m3FrameSample _),
    "m4_perceptual_hash" -> (m4PerceptualHash _))

  // DuckDB mirrors. Shared CTE fragments:
  private def shCteFrom(src: String) =
    s"""toks AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM $src),
       |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts)-1)) AS i)
       |  WHERE len(ts) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY 1)""".stripMargin

  private val SH_CTE = shCteFrom("documents")

  // The d3 verified-pair chain (shingles -> MD5 minhash signatures ->
  // band buckets -> exact-Jaccard verification), ending in
  // lshv(d1, d2, jac) — shared by d3 and its bounded top-k sibling d19.
  private val LSH_PAIR_CTES =
    s"""$SH_CTE,
       |mh AS (
       |  SELECT doc_id, sd.seed,
       |         MIN(CAST(concat('0x', substr(md5(concat(sd.seed // 2, ':', g)),
       |             1 + 16 * (sd.seed % 2), 15)) AS BIGINT)) AS v
       |  FROM sh CROSS JOIN (SELECT unnest(range(12)) AS seed) sd
       |  GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, list(v ORDER BY seed) AS sig FROM mh GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, bb.b,
       |         md5(concat(sig[3*bb.b+1], ',', sig[3*bb.b+2], ',', sig[3*bb.b+3], ',', bb.b)) AS key
       |  FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS b) bb),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS i
       |  FROM cand c JOIN sh x ON x.doc_id = c.d1 JOIN sh y ON y.doc_id = c.d2 AND x.g = y.g
       |  GROUP BY 1, 2),
       |lshv AS (
       |  SELECT d1, d2, CAST(i AS DOUBLE)/(s1.nsh + s2.nsh - i) AS jac
       |  FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
       |  WHERE CAST(i AS DOUBLE)/(s1.nsh + s2.nsh - i) >= 0.7)""".stripMargin

  // The d18 winnow-overlap pair chain (t5's fingerprint reconstruction
  // — 61-bit Mersenne rolling hash in HUGEINT, rightmost-min winnow —
  // per-doc DISTINCT fingerprint sets, the maxDf=32 boilerplate prune,
  // the minShared=6 pair join), ending in wv(d1, d2, n_shared, overlap)
  // — shared by d18 and its bounded top-k sibling d20.
  private val WINNOW_PAIR_CTES =
    """g AS (
      |  SELECT doc_id, CAST(i.i AS BIGINT) AS i,
      |    CAST((((CAST(ord(substr(text, CAST(i.i AS INT), 1)) AS HUGEINT) * 257
      |      + ord(substr(text, CAST(i.i + 1 AS INT), 1))) * 257
      |      + ord(substr(text, CAST(i.i + 2 AS INT), 1))) * 257
      |      + ord(substr(text, CAST(i.i + 3 AS INT), 1))) * 257
      |      + ord(substr(text, CAST(i.i + 4 AS INT), 1)) AS BIGINT)
      |      % 2305843009213693951 AS hash
      |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 3)) AS i) i
      |  WHERE length(text) >= 5),
      |n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
      |p AS (
      |  SELECT a.doc_id, a.i AS win, b.hash, b.i AS j
      |  FROM g a JOIN g b ON a.doc_id = b.doc_id AND b.i BETWEEN a.i AND a.i + 3
      |  JOIN n ON n.doc_id = a.doc_id
      |  WHERE a.i <= n.ng - 3
      |  QUALIFY row_number() OVER (PARTITION BY a.doc_id, a.i
      |                             ORDER BY b.hash ASC, b.i DESC) = 1),
      |small AS (
      |  SELECT g.doc_id, min(hash) AS min_fp
      |  FROM g JOIN n ON n.doc_id = g.doc_id WHERE n.ng BETWEEN 1 AND 3 GROUP BY 1),
      |fps AS (SELECT DISTINCT doc_id, hash FROM (
      |  SELECT doc_id, hash FROM p
      |  UNION ALL SELECT doc_id, min_fp AS hash FROM small) u),
      |keep AS (SELECT hash FROM fps GROUP BY 1 HAVING count(*) <= 32),
      |pf AS (SELECT f.doc_id, f.hash FROM fps f JOIN keep USING (hash)),
      |sz AS (SELECT doc_id, count(*) AS n FROM pf GROUP BY 1),
      |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
      |       FROM pf a JOIN pf b ON a.hash = b.hash AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2 HAVING count(*) >= 6),
      |wv AS (
      |  SELECT pr.d1, pr.d2, CAST(pr.n_shared AS BIGINT) AS n_shared,
      |         CAST(pr.n_shared AS DOUBLE) / least(s1.n, s2.n) AS overlap
      |  FROM pr JOIN sz s1 ON s1.doc_id = pr.d1
      |  JOIN sz s2 ON s2.doc_id = pr.d2)""".stripMargin

  // Shared by d7 (gate/broadcast path) and d12 (bloom-pruned path):
  // both compute the same exact contamination report, so one oracle
  // pins that the pruning strategy never changes the answer.
  private val decontaminateOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, doc_id % 97 = 0 AS is_bench,
      |         string_split(lower(text),' ') AS ts
      |  FROM documents),
      |g AS (SELECT DISTINCT doc_id, is_bench,
      |        ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3] AS g
      |      FROM toks, LATERAL (SELECT unnest(range(1, len(ts)-2)) AS i)
      |      WHERE len(ts) >= 4),
      |bench AS (SELECT DISTINCT g, doc_id AS bench_id FROM g WHERE is_bench),
      |m AS (SELECT c.doc_id, count(DISTINCT c.g) AS n_matched_grams,
      |             count(DISTINCT b.bench_id) AS n_bench_docs
      |      FROM g c JOIN bench b ON c.g = b.g
      |      WHERE NOT c.is_bench GROUP BY 1)
      |SELECT t.doc_id,
      |       CAST(coalesce(m.n_matched_grams,0) AS BIGINT) AS n_matched_grams,
      |       CAST(coalesce(m.n_bench_docs,0) AS BIGINT) AS n_bench_docs,
      |       coalesce(m.n_matched_grams,0) > 0 AS contaminated
      |FROM toks t LEFT JOIN m ON m.doc_id = t.doc_id
      |WHERE NOT t.is_bench ORDER BY t.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "d1_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "d2_dedup_ngram_jaccard" ->
      s"""WITH $SH_CTE,
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, CAST(inter AS DOUBLE)/(s1.nsh + s2.nsh - inter) AS jac
         |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         |WHERE CAST(inter AS DOUBLE)/(s1.nsh + s2.nsh - inter) >= 0.5
         |ORDER BY d1, d2""".stripMargin,
    // d14: exact logical statement — all shared-gram ordered pairs,
    // containment = inter / |contained|; the Spark side owns the
    // one-sided prefix-filter scale shape.
    "d14_containment" ->
      s"""WITH $SH_CTE,
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, CAST(inter AS DOUBLE)/s1.nsh AS containment
         |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id
         |WHERE CAST(inter AS DOUBLE)/s1.nsh >= 0.7
         |ORDER BY d1, d2""".stripMargin,
    "d3_dedup_minhash_lsh" ->
      s"""WITH $LSH_PAIR_CTES
         |SELECT d1, d2, jac FROM lshv
         |ORDER BY d1, d2""".stripMargin,
    // d19: the d3 verified pair set symmetrized, top-3 per doc by
    // (jac DESC, partner ASC) — the bounded sibling's oracle.
    "d19_lsh_topk" ->
      s"""WITH $LSH_PAIR_CTES,
         |sym AS (SELECT d1 AS doc_id, d2 AS partner, jac FROM lshv
         |        UNION ALL SELECT d2, d1, jac FROM lshv)
         |SELECT doc_id, partner, jac FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY jac DESC, partner ASC) AS rk FROM sym)
         |WHERE rk <= 3
         |ORDER BY doc_id, partner""".stripMargin,
    // d15: the closure of d3's verified pair set (recursive CTE, the
    // d9 pattern), then one summary row per component — the logical
    // statement of the bucket-forest engine (connectivity equivalence
    // argued at Dedup.minhashLshClusterSummary).
    "d15_lsh_cluster_summary" ->
      s"""WITH RECURSIVE $SH_CTE,
         |mh AS (
         |  SELECT doc_id, sd.seed,
         |         MIN(CAST(concat('0x', substr(md5(concat(sd.seed // 2, ':', g)),
         |             1 + 16 * (sd.seed % 2), 15)) AS BIGINT)) AS v
         |  FROM sh CROSS JOIN (SELECT unnest(range(12)) AS seed) sd
         |  GROUP BY 1, 2),
         |sigs AS (SELECT doc_id, list(v ORDER BY seed) AS sig FROM mh GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, bb.b,
         |         md5(concat(sig[3*bb.b+1], ',', sig[3*bb.b+2], ',', sig[3*bb.b+3], ',', bb.b)) AS key
         |  FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS b) bb),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
         |inter AS (
         |  SELECT c.d1, c.d2, count(*) AS i
         |  FROM cand c JOIN sh x ON x.doc_id = c.d1 JOIN sh y ON y.doc_id = c.d2 AND x.g = y.g
         |  GROUP BY 1, 2),
         |v AS (
         |  SELECT d1, d2
         |  FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         |  WHERE CAST(i AS DOUBLE)/(s1.nsh + s2.nsh - i) >= 0.7),
         |e AS (SELECT d1 AS s, d2 AS t FROM v UNION ALL SELECT d2, d1 FROM v),
         |r(a, b) AS (SELECT s, t FROM e
         |            UNION SELECT r.a, e.t FROM r JOIN e ON r.b = e.s),
         |m AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster FROM r GROUP BY a)
         |SELECT CAST(cluster AS BIGINT) AS cluster_id,
         |       count(*) AS n_docs,
         |       (count(*) * (count(*) - 1)) // 2 AS n_pairs
         |FROM m GROUP BY cluster ORDER BY cluster_id""".stripMargin,
    // d16: d14's pair statement aggregated per contained doc.
    "d16_containment_degree" ->
      s"""WITH $SH_CTE,
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |c AS (
         |  SELECT d1, CAST(inter AS DOUBLE)/s1.nsh AS containment
         |  FROM pairs JOIN sizes s1 ON d1 = s1.doc_id
         |  WHERE CAST(inter AS DOUBLE)/s1.nsh >= 0.7)
         |SELECT d1 AS doc_id, count(*) AS n_containers,
         |       max(containment) AS max_containment
         |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // d17: d2's pair statement symmetrized and aggregated per doc.
    "d17_jaccard_degree" ->
      s"""WITH $SH_CTE,
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |v AS (
         |  SELECT d1, d2, CAST(inter AS DOUBLE)/(s1.nsh + s2.nsh - inter) AS jac
         |  FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         |  WHERE CAST(inter AS DOUBLE)/(s1.nsh + s2.nsh - inter) >= 0.5),
         |sym AS (SELECT d1 AS doc_id, jac FROM v
         |        UNION ALL SELECT d2, jac FROM v)
         |SELECT doc_id, count(*) AS n_neighbors, max(jac) AS max_jac
         |FROM sym GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // d21: d17's degree statement over the deterministic uniform 1/2
    // doc sample — the sampling residue mirrors Hashing.hash60's
    // seed-97 lane (md5 of '97:' || id, first 15 hex chars as a
    // 60-bit integer) so both engines keep exactly the same docs.
    "d21_sampled_degree" ->
      s"""WITH sdocs AS (
         |  SELECT * FROM documents
         |  WHERE CAST(concat('0x', substr(md5(concat('97:',
         |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 0),
         |${shCteFrom("sdocs")},
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |v AS (
         |  SELECT d1, d2, CAST(inter AS DOUBLE)/(s1.nsh + s2.nsh - inter) AS jac
         |  FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         |  WHERE CAST(inter AS DOUBLE)/(s1.nsh + s2.nsh - inter) >= 0.5),
         |sym AS (SELECT d1 AS doc_id, jac FROM v
         |        UNION ALL SELECT d2, jac FROM v)
         |SELECT doc_id, count(*) AS n_neighbors, max(jac) AS max_jac,
         |       count(*) * 2 AS est_n_neighbors
         |FROM sym GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // d22: d16's containment-degree statement over the same 1/2
    // sample residue class as d21.
    "d22_sampled_containment" ->
      s"""WITH sdocs AS (
         |  SELECT * FROM documents
         |  WHERE CAST(concat('0x', substr(md5(concat('97:',
         |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 0),
         |${shCteFrom("sdocs")},
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |c AS (
         |  SELECT d1, CAST(inter AS DOUBLE)/s1.nsh AS containment
         |  FROM pairs JOIN sizes s1 ON d1 = s1.doc_id
         |  WHERE CAST(inter AS DOUBLE)/s1.nsh >= 0.7)
         |SELECT d1 AS doc_id, count(*) AS n_containers,
         |       max(containment) AS max_containment,
         |       count(*) * 2 AS est_n_containers
         |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // d18: the MOSS overlap report over winnowed fingerprints — the
    // g/n/p/small CTEs are t5's fingerprint reconstruction verbatim
    // (61-bit Mersenne rolling hash in HUGEINT, rightmost-min winnow),
    // extended to the per-doc DISTINCT fingerprint set, the maxDf=32
    // boilerplate prune, and the shared-count pair join.
    "d18_winnow_overlap" ->
      s"""WITH $WINNOW_PAIR_CTES
         |SELECT d1, d2, n_shared, overlap FROM wv
         |ORDER BY d1, d2""".stripMargin,
    // d20: the d18 overlap pair set symmetrized, top-3 per doc by
    // (overlap DESC, n_shared DESC, partner ASC) — the bounded
    // sibling's oracle.
    "d20_overlap_topk" ->
      s"""WITH $WINNOW_PAIR_CTES,
         |sym AS (SELECT d1 AS doc_id, d2 AS partner, n_shared, overlap FROM wv
         |        UNION ALL SELECT d2, d1, n_shared, overlap FROM wv)
         |SELECT doc_id, partner, n_shared, overlap FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY overlap DESC, n_shared DESC, partner ASC) AS rk FROM sym)
         |WHERE rk <= 3
         |ORDER BY doc_id, partner""".stripMargin,
    // d24: d18's statement restricted to the 1/2 sample residue class
    // — ONE shared CTE body (WINNOW_PAIR_CTES up to pf), so the
    // full-corpus df-prune and the pair statement cannot diverge
    // between the exact and sampled oracles; the restriction filters
    // pf AFTER the prune, exactly as the engine does.
    "d24_sampled_overlap" ->
      s"""WITH $WINNOW_PAIR_CTES,
         |pfs AS (SELECT * FROM pf
         |  WHERE CAST(concat('0x', substr(md5(concat('97:',
         |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 0),
         |szs AS (SELECT doc_id, count(*) AS n FROM pfs GROUP BY 1),
         |prs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |          count(*) AS n_shared
         |        FROM pfs a JOIN pfs b
         |          ON a.hash = b.hash AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2 HAVING count(*) >= 6)
         |SELECT prs.d1, prs.d2, CAST(prs.n_shared AS BIGINT) AS n_shared,
         |       CAST(prs.n_shared AS DOUBLE) / least(s1.n, s2.n) AS overlap
         |FROM prs JOIN szs s1 ON s1.doc_id = prs.d1
         |JOIN szs s2 ON s2.doc_id = prs.d2
         |ORDER BY d1, d2""".stripMargin,
    "d4_simhash" -> simhashSql(),
    // d5: bucket-local verified components as star edges. Mirrors the
    // engine's forest exactly: 5 bands x 12 bits (maxHamming=4), the
    // verified-pair graph WITHIN each (band, bits) bucket resolved by
    // recursive reachability scoped per bucket, each component emitting
    // (component min id, member) — distinct across buckets. Star edges
    // are connectivity witnesses (the pair (d1, d2) need not verify).
    "d5_simhash_forest" ->
      s"""WITH RECURSIVE sim AS (${simhashSql()}),
         |bands AS (
         |  SELECT doc_id, simhash, CAST(b.b AS INT) AS band,
         |         (simhash >> CAST(12 * b.b AS INT)) & 4095 AS bits
         |  FROM sim, LATERAL (SELECT unnest(range(0, 5)) AS b) b),
         |p AS (
         |  SELECT a.band, a.bits, a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 4),
         |e AS (SELECT band, bits, d1 AS s, d2 AS t FROM p
         |      UNION ALL SELECT band, bits, d2, d1 FROM p),
         |r(band, bits, a, b) AS (
         |  SELECT band, bits, s, t FROM e
         |  UNION SELECT r.band, r.bits, r.a, e.t
         |        FROM r JOIN e ON r.band = e.band AND r.bits = e.bits
         |                     AND r.b = e.s),
         |m AS (SELECT band, bits, a AS id, least(a, MIN(b)) AS root
         |      FROM r GROUP BY band, bits, a)
         |SELECT DISTINCT CAST(root AS BIGINT) AS d1, CAST(id AS BIGINT) AS d2
         |FROM m WHERE id <> root
         |ORDER BY d1, d2""".stripMargin,
    "d6_dedup_embedding" -> embeddingPairSql(
      "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"),
    // d23: d6's chain over the 1/2-sampled source — ONE shared body
    // (embeddingPairSql), so the pair statement cannot diverge between
    // the exact and sampled oracles. The SEED CTE is the FULL table
    // (r16 thinned-view contract): cell count and centroids are the
    // exact statement's, so d23's rows are exactly d6's with both
    // endpoints in the residue class.
    "d23_sampled_embedding" -> embeddingPairSql(
      """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE CAST(concat('0x', substr(md5(concat('97:',
        |    CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 0""".stripMargin,
      seedCte = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"),
    // d13: d6's pair CTEs + the d9-style reachability closure (min
    // reachable id per node); the left join restores unpaired and
    // zero-norm vectors as their own cluster.
    "d13_semantic_dedup" ->
      s"""WITH RECURSIVE
         |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${cellAssignCtes("e0")},
         |n AS (SELECT vec_id, cell, v, sqrt(list_dot_product(v, v)) AS nrm
         |      FROM asg WHERE sqrt(list_dot_product(v, v)) > 0),
        |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2
        |      FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |      WHERE list_dot_product(a.v, b.v)/(a.nrm * b.nrm) >= 0.4),
        |e AS (SELECT d1 AS s, d2 AS t FROM p UNION ALL SELECT d2, d1 FROM p),
        |r(a, b) AS (SELECT s, t FROM e
        |            UNION SELECT r.a, e.t FROM r JOIN e ON r.b = e.s),
        |m AS (SELECT a AS id, MIN(b) AS mb FROM r GROUP BY 1)
        |SELECT e0.vec_id,
        |       CAST(coalesce(least(m.id, m.mb), e0.vec_id) AS BIGINT) AS cluster
        |FROM e0 LEFT JOIN m ON m.id = e0.vec_id
        |ORDER BY e0.vec_id""".stripMargin,
    // Byte-based (hex over encode(text)) so the mirror matches the
    // kernel's UTF-8 payload bytes on non-ASCII text; LEFT JOIN keeps
    // empty payloads as (0, 0.0, 0.0, frames) rows like the kernel.
    "m2_media_features" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS nb
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(h, CAST(2*i.i - 1 AS INT), 2)) AS INT) AS byte
        |  FROM b,
        |       LATERAL (SELECT unnest(range(1, nb + 1)) AS i) i),
        |h2 AS (SELECT doc_id, byte, CAST(count(*) AS DOUBLE) AS n FROM c GROUP BY 1, 2),
        |t AS (SELECT doc_id, sum(n) AS tot, list(n ORDER BY byte) AS ns FROM h2 GROUP BY 1),
        |e AS (
        |  SELECT doc_id, tot,
        |    -list_reduce(list_transform(ns, x -> ((x/tot) * ln(x/tot)) / ln(2)),
        |                 (a, b) -> a + b) AS ent
        |  FROM t),
        |s AS (SELECT doc_id, CAST(sum(byte) AS DOUBLE) AS sb, count(*) AS nb2 FROM c GROUP BY 1)
        |SELECT d.doc_id AS id, CAST(b.nb AS BIGINT) AS n_bytes,
        |       coalesce(s.sb / s.nb2, 0.0) AS mean_byte,
        |       coalesce(e.ent, 0.0) AS byte_entropy,
        |       CAST(1 + d.doc_id % 3 AS INT) AS frames
        |FROM documents d JOIN b ON b.doc_id = d.doc_id
        |LEFT JOIN s ON s.doc_id = d.doc_id LEFT JOIN e ON e.doc_id = d.doc_id
        |ORDER BY id""".stripMargin,
    // Byte-based framing (hex over encode(text)) so the mirror agrees
    // with the Spark kernel's UTF-8 payload bytes on non-ASCII text,
    // and a LEFT JOIN from documents so empty payloads produce an
    // n_sampled=0 row exactly like the Spark side.
    "m3_frame_sample" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS nb
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST((i.i - 1) // 64 AS INT) AS f,
        |         CAST(concat('0x', substr(h, CAST(2*i.i - 1 AS INT), 2)) AS INT) AS byte
        |  FROM b,
        |       LATERAL (SELECT unnest(range(1, nb + 1)) AS i) i),
        |fm AS (
        |  SELECT doc_id, f, CAST(sum(byte) AS DOUBLE) / count(*) AS mb
        |  FROM c GROUP BY 1, 2),
        |nf AS (SELECT doc_id, count(*) AS n FROM fm GROUP BY 1),
        |sel AS (
        |  SELECT doc_id, jj.j,
        |         CASE WHEN n <= 4 THEN CAST(jj.j AS INT)
        |              ELSE CAST(floor(jj.j * (n - 1) / 3.0) AS INT) END AS f
        |  FROM nf,
        |       LATERAL (SELECT unnest(range(CASE WHEN n <= 4 THEN n ELSE 4 END)) AS j) jj),
        |agg AS (
        |  SELECT s.doc_id,
        |         count(*) AS n_sampled,
        |         string_agg(CAST(s.f AS VARCHAR), ',' ORDER BY s.j) AS sampled_idx_csv,
        |         string_agg(CAST(CAST(floor(fm.mb * 1000000 + 0.5) AS BIGINT) AS VARCHAR),
        |                    ',' ORDER BY s.j) AS frame_means_csv
        |  FROM sel s JOIN fm ON fm.doc_id = s.doc_id AND fm.f = s.f
        |  GROUP BY 1)
        |SELECT d.doc_id AS id,
        |       CAST(coalesce(a.n_sampled, 0) AS BIGINT) AS n_sampled,
        |       coalesce(a.sampled_idx_csv, '') AS sampled_idx_csv,
        |       coalesce(a.frame_means_csv, '') AS frame_means_csv
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY id""".stripMargin,
    // m4: byte j (0-based, m2's hex idiom) -> block j*60//nb; block
    // mean as DOUBLE; threshold = ordered fold of the 60 block means
    // (empty trailing blocks 0.0) / 60; bit set on strict >. Empty
    // payload hashes to 0 on both sides.
    "m4_perceptual_hash" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS nb
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST((j.j * 60) // nb AS INT) AS blk,
        |         CAST(concat('0x', substr(h, CAST(2*j.j + 1 AS INT), 2)) AS INT) AS byte
        |  FROM b,
        |       LATERAL (SELECT unnest(range(0, nb)) AS j) j),
        |g AS (
        |  SELECT doc_id, blk, CAST(sum(byte) AS DOUBLE) / count(*) AS mean
        |  FROM c GROUP BY 1, 2),
        |blks AS (
        |  SELECT doc_id, CAST(i.i AS INT) AS blk
        |  FROM b, LATERAL (SELECT unnest(range(0, 60)) AS i) i),
        |gm AS (
        |  SELECT blks.doc_id, blks.blk, coalesce(g.mean, 0.0) AS mean
        |  FROM blks LEFT JOIN g ON g.doc_id = blks.doc_id AND g.blk = blks.blk),
        |t AS (SELECT doc_id, list(mean ORDER BY blk) AS ms FROM gm GROUP BY 1),
        |thr AS (SELECT doc_id, list_reduce(ms, (a, b) -> a + b) / 60 AS thr FROM t),
        |hsh AS (
        |  SELECT gm.doc_id,
        |         CAST(sum(CASE WHEN gm.mean > thr.thr
        |             THEN CAST(1 AS BIGINT) << gm.blk ELSE CAST(0 AS BIGINT) END)
        |              AS BIGINT) AS simhash
        |  FROM gm JOIN thr ON thr.doc_id = gm.doc_id GROUP BY 1)
        |SELECT d.doc_id AS id,
        |       coalesce(hsh.simhash, CAST(0 AS BIGINT)) AS simhash
        |FROM documents d LEFT JOIN hsh ON hsh.doc_id = d.doc_id
        |ORDER BY id""".stripMargin,
    "s1_knn_bruteforce" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT * FROM e0 WHERE list_dot_product(v, v) > 0),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id,
        |       list_dot_product(v, qv)/(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos
        |FROM e, q WHERE vec_id <> 0
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "s2_knn_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
        |q AS (SELECT v AS qv FROM e
        |      WHERE vec_id = 0 AND list_dot_product(v, v) > 0),
        |asg AS (
        |  SELECT vec_id, cell, v FROM (
        |    SELECT e.vec_id, c.cell, e.v,
        |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |             (list_dot_product(e.v, e.v) + list_dot_product(c.cv, c.cv)
        |              - 2.0 * list_dot_product(e.v, c.cv)) ASC, c.cell ASC) AS rn
        |    FROM e CROSS JOIN cent c)
        |  WHERE rn = 1 AND list_dot_product(v, v) > 0),
        |probe AS (
        |  SELECT cell FROM cent, q
        |  ORDER BY (list_dot_product(cv, cv) + list_dot_product(qv, qv)
        |            - 2.0 * list_dot_product(cv, qv)) ASC, cell ASC LIMIT 2)
        |SELECT a.vec_id, a.cell,
        |       list_dot_product(a.v, qv)/(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qv, qv))) AS cos
        |FROM asg a JOIN probe USING (cell), q
        |WHERE a.vec_id <> 0
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    // s5: batched IVF mirror — assignment and probe-cell selection via
    // the same dot-product identities and (distance, cell) tie-break;
    // per-query top-k as row_number over (cos DESC, vec_id ASC).
    "s5_knn_batch" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${cellAssignCtes("e")},
         |q AS (SELECT vec_id AS qid, v AS qv FROM e
         |      WHERE vec_id % 50 = 0 AND list_dot_product(v, v) > 0),
         |asgn AS (SELECT vec_id, cell, v FROM asg
         |         WHERE list_dot_product(v, v) > 0),
         |qc AS (
         |  SELECT qid, qv, cell FROM (
         |    SELECT q.qid, q.qv, c.cell,
         |           row_number() OVER (PARTITION BY q.qid ORDER BY
         |             (list_dot_product(c.cv, c.cv) + list_dot_product(q.qv, q.qv)
         |              - 2.0 * list_dot_product(c.cv, q.qv)) ASC, c.cell ASC) AS rn
         |    FROM q CROSS JOIN cent c) WHERE rn <= 2),
         |cand AS (
         |  SELECT qc.qid AS query_id, a.vec_id, a.cell,
         |         list_dot_product(a.v, qc.qv) /
         |           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qc.qv, qc.qv))) AS cos
         |  FROM asgn a JOIN qc ON a.cell = qc.cell AND a.vec_id <> qc.qid)
         |SELECT query_id, vec_id, cell, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) AS rk FROM cand) WHERE rk <= 5
         |ORDER BY query_id, cos DESC, vec_id""".stripMargin,
    // s6: batched SRP mirror — the engine's Hamming-ball bucket
    // expansion is set-equivalent to the direct bit_count(xor) <= r
    // predicate (each corpus bucket matches exactly one mask), so the
    // oracle states the predicate directly.
    "s6_knn_srp_batch" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT max(len(v)) AS dim FROM e),
        |pw AS (SELECT p.p,
        |         list(CASE WHEN CAST(concat('0x', substr(md5(p.p || ':' || i.i),1,15)) AS BIGINT) & 1 = 1
        |              THEN 1.0 ELSE -1.0 END ORDER BY i.i) AS w
        |       FROM (SELECT unnest(range(8)) AS p) p, d,
        |            LATERAL (SELECT unnest(range(d.dim)) AS i) i
        |       GROUP BY 1),
        |b AS (SELECT e.vec_id, e.v,
        |        CAST(sum(CASE WHEN list_dot_product(e.v, pw.w) > 0
        |             THEN (1::BIGINT << pw.p) ELSE 0 END) AS BIGINT) AS bucket
        |      FROM e CROSS JOIN pw GROUP BY 1, 2
        |      HAVING list_dot_product(e.v, e.v) > 0),
        |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM b WHERE vec_id % 50 = 0),
        |cand AS (
        |  SELECT q.qid AS query_id, b.vec_id, b.bucket,
        |    list_dot_product(b.v, q.qv) /
        |      (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
        |  FROM b CROSS JOIN q
        |  WHERE b.vec_id <> q.qid AND bit_count(xor(b.bucket, q.qb)) <= 1)
        |SELECT query_id, vec_id, bucket, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, vec_id ASC) AS rk FROM cand) WHERE rk <= 5
        |ORDER BY query_id, cos DESC, vec_id""".stripMargin,
    // s4: list_transform mirrors the quantize/dequantize arithmetic
    // element-for-element; mse/cos come from the same dot identities in
    // the same association as the Spark side.
    "s4_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS scale
        |      FROM e),
        |d AS (SELECT vec_id, v, scale,
        |        CASE WHEN scale = 0
        |          THEN list_transform(v, x -> 0.0)
        |          ELSE list_transform(v, x ->
        |            greatest(-127.0, least(127.0, floor(x / scale + 0.5))) * scale)
        |        END AS dq
        |      FROM s)
        |SELECT vec_id, scale,
        |  ((list_dot_product(v, v) - 2.0 * list_dot_product(v, dq))
        |    + list_dot_product(dq, dq)) / len(v) AS mse,
        |  CASE WHEN list_dot_product(v, v) = 0 OR list_dot_product(dq, dq) = 0
        |    THEN 0.0
        |    ELSE list_dot_product(v, dq)
        |         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(dq, dq)))
        |  END AS cos
        |FROM d ORDER BY vec_id""".stripMargin,
    "s7_kmeans_cells" -> s7KmeansSql(8, 3),
    "s8_pq_adc" -> s8PqSql(4, 8, 2, 10),
    "s9_pq_rerank" -> s9PqRerankSql(4, 8, 2, 10, 30),
    "s10_ivfpq_batch" -> s10IvfPqSql(4, 8, 2, 5, 2),
    // s11: the two-level chain with k FIXED at 125 (> gate), so the
    // super-route is exercised unforced at the oracle scales
    "s11_twolevel_cells" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${cellAssignCtes("e", fixedK = "125")}
         |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n_vecs,
         |       MIN(vec_id) AS min_vec
         |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin,
    "t1_lang_id" -> langIdSql(),
    "t2_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents)
        |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |  least(1.0, CAST(len(ts) AS BIGINT)/100.0) * 0.4
        |  + (CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)/CAST(len(ts) AS DOUBLE)) * 0.3
        |  + (CAST(len(list_distinct(ts)) AS BIGINT)/CAST(len(ts) AS DOUBLE)) * 0.3 AS quality
        |FROM f ORDER BY doc_id""".stripMargin,
    "t3_token_stats" ->
      """SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS total_tokens,
        |COUNT(DISTINCT tok) AS n_distinct
        |FROM (SELECT source, doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
        "t5_winnow_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(i.i AS BIGINT) AS i,
        |    CAST((((CAST(ord(substr(text, CAST(i.i AS INT), 1)) AS HUGEINT) * 257
        |      + ord(substr(text, CAST(i.i + 1 AS INT), 1))) * 257
        |      + ord(substr(text, CAST(i.i + 2 AS INT), 1))) * 257
        |      + ord(substr(text, CAST(i.i + 3 AS INT), 1))) * 257
        |      + ord(substr(text, CAST(i.i + 4 AS INT), 1)) AS BIGINT)
        |      % 2305843009213693951 AS hash
        |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 3)) AS i) i
        |  WHERE length(text) >= 5),
        |n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id, a.i AS win, b.hash, b.i AS j
        |  FROM g a JOIN g b ON a.doc_id = b.doc_id AND b.i BETWEEN a.i AND a.i + 3
        |  JOIN n ON n.doc_id = a.doc_id
        |  WHERE a.i <= n.ng - 3
        |  QUALIFY row_number() OVER (PARTITION BY a.doc_id, a.i
        |                             ORDER BY b.hash ASC, b.i DESC) = 1),
        |small AS (
        |  SELECT g.doc_id, min(hash) AS min_fp, CAST(1 AS BIGINT) AS n_fp
        |  FROM g JOIN n ON n.doc_id = g.doc_id WHERE n.ng BETWEEN 1 AND 3 GROUP BY 1),
        |sel AS (SELECT doc_id, count(DISTINCT hash) AS n_fp, min(hash) AS min_fp
        |        FROM p GROUP BY 1),
        |x AS (SELECT doc_id, n_fp, min_fp FROM sel
        |      UNION ALL SELECT doc_id, n_fp, min_fp FROM small)
        |SELECT d.doc_id, CAST(coalesce(x.n_fp, 0) AS BIGINT) AS n_fingerprints,
        |       x.min_fp
        |FROM documents d LEFT JOIN x ON x.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // t7: the lateral unnest(range(1, len)) enumerates gram start
    // positions (1-based); QUALIFY row_number mirrors the Spark side's
    // min_by tie-break (max count, then lexicographically smallest gram).
    "t7_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, length(text) AS nch, string_split(lower(text),' ') AS ts
        |  FROM documents),
        |g2 AS (SELECT doc_id, ts[i]||' '||ts[i+1] AS g, count(*) AS cnt
        |       FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
        |       WHERE len(ts) >= 2 GROUP BY 1,2),
        |top2 AS (SELECT doc_id, g AS top2_gram, cnt*length(g) AS top2_chars
        |         FROM g2 QUALIFY row_number() OVER (PARTITION BY doc_id
        |           ORDER BY cnt DESC, g ASC) = 1),
        |g3 AS (SELECT doc_id, ts[i]||' '||ts[i+1]||' '||ts[i+2] AS g, count(*) AS cnt
        |       FROM toks, LATERAL (SELECT unnest(range(1, len(ts)-1)) AS i)
        |       WHERE len(ts) >= 3 GROUP BY 1,2),
        |dup3 AS (SELECT doc_id, sum(cnt*length(g)) AS dup3_chars
        |         FROM g3 WHERE cnt > 1 GROUP BY 1)
        |SELECT t.doc_id, top2.top2_gram,
        |  CASE WHEN t.nch > 0 THEN CAST(coalesce(top2.top2_chars,0) AS DOUBLE)/t.nch ELSE 0.0 END AS top2_frac,
        |  CASE WHEN t.nch > 0 THEN CAST(coalesce(dup3.dup3_chars,0) AS DOUBLE)/t.nch ELSE 0.0 END AS dup3_frac
        |FROM toks t LEFT JOIN top2 ON top2.doc_id = t.doc_id
        |LEFT JOIN dup3 ON dup3.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // d8: mirrors the banding arithmetic exactly (5 bands x 12 bits for
    // maxHamming=4 over the 60-bit simhash); rep = per-bucket min id,
    // canonical = smallest verified rep. The simhash CTE drops the lang
    // carry column (the query passes no carryCols).
    "d8_simhash_assign" ->
      s"""WITH sim AS (SELECT doc_id, simhash FROM (${simhashSql()})),
         |b AS (SELECT doc_id, simhash, bb.b AS band,
         |        (simhash >> (12*bb.b)) & 4095 AS bits
         |      FROM sim, (SELECT unnest(range(5)) AS b) bb),
         |reps AS (SELECT band, bits, MIN(doc_id) AS rep FROM b GROUP BY 1,2),
         |repsim AS (SELECT r.band, r.bits, r.rep, s.simhash AS rep_sim
         |           FROM reps r JOIN sim s ON s.doc_id = r.rep),
         |cand AS (SELECT b.doc_id,
         |           r.rep, CAST(bit_count(xor(b.simhash, r.rep_sim)) AS BIGINT) AS ham
         |         FROM b JOIN repsim r USING (band, bits)
         |         WHERE r.rep < b.doc_id
         |           AND bit_count(xor(b.simhash, r.rep_sim)) <= 4)
         |SELECT doc_id, MIN(rep) AS canonical,
         |       arg_min(ham, rep) AS ham
         |FROM cand GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // d11: even ids = corpus, odd = increment. Mirrors the operator
    // stage by stage: fp indexes, base band-rep index (per-bucket min
    // over even docs), exact classification, then the two near-dup
    // joins — base reps match regardless of id order, inc reps use
    // d8's rep < doc guard. arg_min(ham, rep) = ham of the chosen
    // smallest rep, as in d8.
    "d11_incremental_dedup" ->
      s"""WITH sim AS (SELECT doc_id, simhash FROM (${simhashSql()})),
         |fpt AS (SELECT doc_id, md5(coalesce(text, '')) AS fp FROM documents),
         |basefp AS (SELECT fp, MIN(doc_id) AS base_id FROM fpt
         |           WHERE doc_id % 2 = 0 GROUP BY 1),
         |bb AS (SELECT doc_id, simhash, b.b AS band,
         |         (simhash >> (12*b.b)) & 4095 AS bits
         |       FROM sim, (SELECT unnest(range(5)) AS b) b
         |       WHERE doc_id % 2 = 0),
         |breps AS (SELECT band, bits, MIN(doc_id) AS rep FROM bb GROUP BY 1, 2),
         |brepsim AS (SELECT r.band, r.bits, r.rep, s.simhash AS rep_sim
         |            FROM breps r JOIN sim s ON s.doc_id = r.rep),
         |incfp AS (SELECT doc_id, fp FROM fpt WHERE doc_id % 2 = 1),
         |incmin AS (SELECT fp, MIN(doc_id) AS inc_min FROM incfp GROUP BY 1),
         |tag AS (SELECT i.doc_id, b.base_id, m.inc_min
         |        FROM incfp i LEFT JOIN basefp b USING (fp)
         |        JOIN incmin m USING (fp)),
         |sb AS (SELECT t.doc_id, sim.simhash, b.b AS band,
         |         (sim.simhash >> (12*b.b)) & 4095 AS bits
         |       FROM tag t JOIN sim ON sim.doc_id = t.doc_id,
         |            (SELECT unnest(range(5)) AS b) b
         |       WHERE t.base_id IS NULL AND t.doc_id = t.inc_min),
         |nb AS (SELECT sb.doc_id, MIN(r.rep) AS canon,
         |         arg_min(CAST(bit_count(xor(sb.simhash, r.rep_sim)) AS BIGINT), r.rep) AS ham
         |       FROM sb JOIN brepsim r USING (band, bits)
         |       WHERE bit_count(xor(sb.simhash, r.rep_sim)) <= 4
         |       GROUP BY 1),
         |ireps AS (SELECT band, bits, MIN(doc_id) AS rep FROM sb GROUP BY 1, 2),
         |irepsim AS (SELECT r.band, r.bits, r.rep, s.simhash AS rep_sim
         |            FROM ireps r JOIN sim s ON s.doc_id = r.rep),
         |ni AS (SELECT sb.doc_id, MIN(r.rep) AS canon,
         |         arg_min(CAST(bit_count(xor(sb.simhash, r.rep_sim)) AS BIGINT), r.rep) AS ham
         |       FROM sb JOIN irepsim r USING (band, bits)
         |       WHERE r.rep < sb.doc_id
         |         AND bit_count(xor(sb.simhash, r.rep_sim)) <= 4
         |       GROUP BY 1)
         |SELECT t.doc_id,
         |       CASE WHEN t.base_id IS NOT NULL THEN 'exact_base'
         |            WHEN t.doc_id <> t.inc_min THEN 'exact_inc'
         |            WHEN nb.canon IS NOT NULL THEN 'near_base'
         |            WHEN ni.canon IS NOT NULL THEN 'near_inc'
         |            ELSE 'new' END AS status,
         |       CASE WHEN t.base_id IS NOT NULL THEN t.base_id
         |            WHEN t.doc_id <> t.inc_min THEN t.inc_min
         |            WHEN nb.canon IS NOT NULL THEN nb.canon
         |            ELSE ni.canon END AS canonical,
         |       CASE WHEN t.base_id IS NOT NULL OR t.doc_id <> t.inc_min
         |              THEN CAST(0 AS BIGINT)
         |            WHEN nb.canon IS NOT NULL THEN nb.ham
         |            ELSE ni.ham END AS ham
         |FROM tag t LEFT JOIN nb ON nb.doc_id = t.doc_id
         |LEFT JOIN ni ON ni.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    // d9: reachability via recursive CTE, then component min per node —
    // the same fixpoint the Spark loop converges to.
    "d9_simhash_clusters" ->
      s"""WITH RECURSIVE sim AS (${simhashSql()}),
         |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 4),
         |e AS (SELECT d1 AS s, d2 AS t FROM p UNION ALL SELECT d2, d1 FROM p),
         |r(a, b) AS (SELECT s, t FROM e
         |            UNION SELECT r.a, e.t FROM r JOIN e ON r.b = e.s),
         |m AS (SELECT a AS id, MIN(b) AS mb FROM r GROUP BY 1)
         |SELECT id AS doc_id, CAST(least(id, mb) AS BIGINT) AS cluster
         |FROM m ORDER BY doc_id""".stripMargin,
    // t9: byte-denominated metrics (octet_length) because character
    // length() counts UTF-16 units in Spark vs codepoints in DuckDB;
    // last-char test instead of '$'-anchored regex (Java/RE2 newline
    // divergence). Cascade order mirrors the Spark when-chain.
    "t9_filter_cascade" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         len(string_split(lower(t), ' ')) AS nt,
        |         octet_length(encode(t)) - len(regexp_extract_all(t, ' ')) AS word_bytes,
        |         CASE WHEN octet_length(encode(t)) = 0 THEN 1.0
        |              ELSE CAST(len(regexp_extract_all(t, '[0-9]')) AS DOUBLE)
        |                   / octet_length(encode(t)) END AS digit_frac,
        |         right(t, 1) IN ('.', '!', '?', '"') AS terminal
        |  FROM (SELECT doc_id, coalesce(text, '') AS t FROM documents)),
        |r AS (
        |  SELECT doc_id,
        |         CASE WHEN nt < 5 THEN 'too_short'
        |              WHEN CAST(word_bytes AS DOUBLE)/nt < 3.0
        |                   OR CAST(word_bytes AS DOUBLE)/nt > 10.0 THEN 'word_shape'
        |              WHEN digit_frac > 0.2 THEN 'digit_heavy'
        |              WHEN NOT terminal THEN 'no_terminal_punct'
        |              ELSE NULL END AS reason
        |  FROM f)
        |SELECT doc_id, reason IS NULL AS keep, reason
        |FROM r ORDER BY doc_id""".stripMargin,
    // t10: per-source window prefix sum; a doc goes to the shard its
    // preceding token mass fills. Division is explicit double on both
    // sides (Spark's / on longs is true division already).
    "t10_shard_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(lower(coalesce(text, '')), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |       CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 2000.0) AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    // t11: bucketed packing — the sub-bucket is the shared 60-bit md5
    // family (seed 0) mod 4, the local prefix sum runs per
    // (source, bucket), and the global shard id adds the exclusive
    // running count of shards over (source, bucket) order.
    "t11_shard_pack_bucketed" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(lower(coalesce(text, '')), ' ')) AS BIGINT) AS n_tokens,
        |         CAST(concat('0x', substr(md5(concat('0', ':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 4 AS bucket
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, source, bucket, n_tokens,
        |         CAST(floor(CAST(sum(n_tokens) OVER (PARTITION BY source, bucket
        |             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - n_tokens AS DOUBLE) / 500.0) AS BIGINT) AS shard_local
        |  FROM t),
        |g AS (
        |  SELECT source, bucket, max(shard_local) + 1 AS nsh FROM l GROUP BY 1, 2),
        |o AS (
        |  SELECT source, bucket,
        |         coalesce(sum(nsh) OVER (ORDER BY source, bucket
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM g)
        |SELECT l.doc_id, l.source, l.bucket, l.n_tokens, l.shard_local,
        |       CAST(l.shard_local + o.off AS BIGINT) AS shard
        |FROM l JOIN o USING (source, bucket) ORDER BY doc_id""".stripMargin,
    // p2: the split is a pure function of the doc_id hash bucket —
    // same md5 family (seed 7), same rounded cumulative boundaries
    // (0.9/0.05/0.05 @ 1000 -> 900/950/1000).
    "p2_split_assign" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(concat('7', ':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |       CASE WHEN bucket < 900 THEN 'train'
        |            WHEN bucket < 950 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // p3: same hash family (seed 17), per-source cutoffs at
    // granularity 1000; unlisted sources take the 0.05 default.
    "p3_mixture_sample" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |         CAST(concat('0x', substr(md5(concat('17', ':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000 AS bucket
        |  FROM documents)
        |SELECT doc_id, source, bucket
        |FROM b
        |WHERE bucket < CASE source WHEN 'src0' THEN 1000
        |                           WHEN 'src1' THEN 600
        |                           WHEN 'src2' THEN 250
        |                           ELSE 50 END
        |ORDER BY doc_id""".stripMargin,
    // p4: the A-ES key mirrors operation-for-operation — (hash+1)
    // divided by 2^60 as a double, ln (NativeLn parity), then the
    // division by the weight — so the selected set AND the key bits
    // hash-compare exactly.
    "p4_weighted_sample" ->
      """WITH w AS (
        |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS w FROM documents),
        |k AS (
        |  SELECT doc_id, w,
        |         ln((CAST(concat('0x', substr(md5(concat('29', ':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 1)
        |            / 1152921504606846976.0) / w AS skey
        |  FROM w WHERE w > 0)
        |SELECT doc_id, w, skey FROM k
        |ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin,
    // p5: the t9 cascade (minus the terminal-punct rule —
    // requireTerminal=false) gates the corpus, fp = md5 of the
    // whitespace-normalized text (DuckDB regexp_replace needs the 'g'
    // flag Spark applies implicitly), simhash via the shared kernel
    // mirror over KEPT raw text, and the admission winner per fp is
    // ROW_NUMBER over (ts_ms, doc_id) — the struct-min the batch twin
    // aggregates.
    "p5_event_ingest" ->
      s"""WITH k0 AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |         1700000000000 + (doc_id % 1440) * 60000 AS ts_ms
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, t, ts_ms,
        |         len(string_split(lower(t), ' ')) AS nt,
        |         octet_length(encode(t)) - len(regexp_extract_all(t, ' ')) AS wb,
        |         CASE WHEN octet_length(encode(t)) = 0 THEN 1.0
        |              ELSE CAST(len(regexp_extract_all(t, '[0-9]')) AS DOUBLE)
        |                   / octet_length(encode(t)) END AS df
        |  FROM k0),
        |kept AS (
        |  SELECT doc_id, t, ts_ms FROM q
        |  WHERE NOT (nt < 5 OR CAST(wb AS DOUBLE)/nt < 3.0
        |         OR CAST(wb AS DOUBLE)/nt > 10.0 OR df > 0.2)),
        |${simhashCte("kept", "t")},
        |f AS (
        |  SELECT k.doc_id,
        |         md5(regexp_replace(trim(lower(k.t)), ' +', ' ', 'g')) AS fp,
        |         k.ts_ms, s.simhash,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY md5(regexp_replace(trim(lower(k.t)), ' +', ' ', 'g'))
        |           ORDER BY k.ts_ms, k.doc_id) AS rn
        |  FROM kept k JOIN sim s USING (doc_id))
        |SELECT doc_id, fp, CAST(ts_ms AS BIGINT) AS ts_ms, simhash
        |FROM f WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // t12: the salted two-phase plan reduces to the direct
    // per-stratum ROW_NUMBER over (hash, id) — the oracle states the
    // logical result, the Spark side owns the scale shape.
    "t12_stratified_sample" ->
      """WITH h AS (
        |  SELECT lang AS strata, doc_id AS id,
        |         CAST(concat('0x', substr(md5(concat('3', ':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hkey
        |  FROM documents),
        |r AS (
        |  SELECT strata, id,
        |         ROW_NUMBER() OVER (PARTITION BY strata ORDER BY hkey, id) AS rk
        |  FROM h)
        |SELECT strata, id, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5 ORDER BY strata, rk""".stripMargin,
    // t13: same tf/total arithmetic, ln parity via NativeLn's libm
    // contract, and the per-doc sum as list_reduce over the
    // token-ordered list — DuckDB's first-element-seeded left fold
    // equals Spark's 0.0-seeded aggregate() because 0.0 + x == x.
    "t13_unigram_surprisal" ->
      s"""WITH $SurprisalCtes
         |SELECT doc_id, nt, mean_surprisal
         |FROM sur ORDER BY doc_id""".stripMargin,
    // p6: the CCNet-style carve — t13's surprisal CTEs, lang joined
    // back, and the keep set stated as the per-lang rank selection
    // rk <= ceil(2n/3) over (mean_surprisal, doc_id). The engine
    // computes the same selection SORT-FREE (Selection.carveLowest:
    // per-stratum k-th-pair thresholds via the simultaneous bit-image
    // histogram drill, then a broadcast threshold filter); matching
    // hashes pin that the drill changes nothing but the plan.
    "p6_ccnet_carve" ->
      s"""WITH $SurprisalCtes,
         |l AS (SELECT sur.doc_id, sur.nt, sur.mean_surprisal, d.lang
         |      FROM sur JOIN documents d USING (doc_id)),
         |r AS (SELECT l.*,
         |        ROW_NUMBER() OVER (PARTITION BY lang
         |          ORDER BY mean_surprisal, doc_id) AS rk,
         |        COUNT(*) OVER (PARTITION BY lang) AS n
         |      FROM l)
         |SELECT doc_id, lang, nt, mean_surprisal FROM r
         |WHERE rk <= CAST(ceil(CAST(n AS DOUBLE) * (2.0/3.0)) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,
    // t17: the KMV estimate mirrored exactly — distinct hashes per
    // lang, the 16th smallest via row_number, the same
    // 15.0 * 2^60 / h_k double arithmetic; below 16 distinct hashes
    // the exact (hash-)count is returned, as the sketch does.
    "t17_kmv_distinct" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split(lower(coalesce(text, '')), ' ')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT DISTINCT lang,
        |         CAST(concat('0x', substr(md5(concat('21', ':', tok)), 1, 15)) AS BIGINT) AS hv
        |  FROM t),
        |r AS (
        |  SELECT lang, hv,
        |         row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS nd
        |  FROM h),
        |est AS (
        |  SELECT lang,
        |         CASE WHEN MAX(nd) < 16 THEN CAST(MAX(nd) AS DOUBLE)
        |              ELSE 15.0 * 1152921504606846976.0 /
        |                   CAST(MAX(CASE WHEN rn = 16 THEN hv END) AS DOUBLE)
        |         END AS est_distinct
        |  FROM r GROUP BY lang),
        |ex AS (SELECT lang, COUNT(DISTINCT tok) AS n_distinct FROM t GROUP BY lang)
        |SELECT est.lang, est.est_distinct, CAST(ex.n_distinct AS BIGINT) AS n_distinct
        |FROM est JOIN ex ON ex.lang = est.lang
        |ORDER BY est.lang""".stripMargin,
    // t18: the per-lang k-minima rebuilt via row_number, then the same
    // union-truncate / shared-membership arithmetic with list
    // functions; exact Jaccard from the distinct-vocab self-join.
    "t18_vocab_overlap" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split(lower(coalesce(text, '')), ' ')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT DISTINCT lang,
        |         CAST(concat('0x', substr(md5(concat('21', ':', tok)), 1, 15)) AS BIGINT) AS hv
        |  FROM t),
        |r AS (SELECT lang, hv,
        |             row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
        |      FROM h),
        |mins AS (SELECT lang, list(hv ORDER BY hv) AS mins
        |         FROM r WHERE rn <= 16 GROUP BY lang),
        |p AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b, a.mins AS ma, b.mins AS mb,
        |         list_sort(list_distinct(a.mins || b.mins))[:16] AS u
        |  FROM mins a JOIN mins b ON a.lang < b.lang),
        |est AS (
        |  SELECT lang_a, lang_b,
        |         CAST(len(list_filter(u, x -> list_contains(ma, x)
        |                                  AND list_contains(mb, x))) AS DOUBLE)
        |           / len(u) AS jaccard_est
        |  FROM p),
        |v AS (SELECT DISTINCT lang, tok FROM t),
        |sz AS (SELECT lang, count(*) AS nv FROM v GROUP BY 1),
        |iv AS (SELECT x.lang AS lang_a, y.lang AS lang_b, count(*) AS ninter
        |       FROM v x JOIN v y ON x.tok = y.tok AND x.lang < y.lang
        |       GROUP BY 1, 2)
        |SELECT e.lang_a, e.lang_b, e.jaccard_est,
        |       CAST(coalesce(iv.ninter, 0) AS DOUBLE) /
        |         (sa.nv + sb.nv - coalesce(iv.ninter, 0)) AS jaccard_exact
        |FROM est e
        |LEFT JOIN iv ON iv.lang_a = e.lang_a AND iv.lang_b = e.lang_b
        |JOIN sz sa ON sa.lang = e.lang_a
        |JOIN sz sb ON sb.lang = e.lang_b
        |ORDER BY e.lang_a, e.lang_b""".stripMargin,
    // t19: rebuild the CMS grid from per-(row, bucket) sums of exact
    // token counts — bit-identical to the aggregate's counters because
    // every CMS operation is an integer sum — then the same min-of-
    // cells estimate and integer mass threshold.
    "t19_cms_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(string_split(lower(coalesce(text, '')), ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, COUNT(*) AS n_exact FROM t GROUP BY tok),
        |tot AS (SELECT SUM(n_exact) AS total FROM c),
        |b AS (
        |  SELECT c.tok, c.n_exact, r,
        |         CAST(concat('0x', substr(md5(concat(CAST(r AS VARCHAR), ':', c.tok)), 1, 15)) AS BIGINT) % 256 AS bk
        |  FROM c, (SELECT unnest(range(0, 4)) AS r)),
        |cell AS (SELECT r, bk, CAST(SUM(n_exact) AS BIGINT) AS cnt
        |         FROM b GROUP BY 1, 2),
        |est AS (
        |  SELECT b.tok, MIN(cell.cnt) AS est
        |  FROM b JOIN cell ON b.r = cell.r AND b.bk = cell.bk
        |  GROUP BY 1)
        |SELECT est.tok, est.est, c.n_exact
        |FROM est JOIN c USING (tok), tot
        |WHERE est.est * 64 >= tot.total
        |ORDER BY est.tok""".stripMargin,
    // t16: counts from the even half only; same CASE staging, add-one
    // OOV floors, libm ln, and the position-ordered list_reduce fold.
    "t16_bigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS ts
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(len(ts) AS INT) AS nt, CAST(i.i AS INT) AS i,
        |         ts[i.i] AS tok,
        |         CASE WHEN i.i > 1 THEN ts[i.i - 1] END AS prev
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) i),
        |tr AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
        |uni AS (SELECT tok, count(*) AS cu FROM tr GROUP BY 1),
        |tot AS (SELECT count(*) AS tot FROM tr),
        |big AS (SELECT prev, tok, count(*) AS cb FROM tr
        |        WHERE prev IS NOT NULL GROUP BY 1, 2),
        |ctx AS (SELECT prev, sum(cb) AS cp FROM big GROUP BY 1),
        |terms AS (
        |  SELECT p.doc_id, p.nt, p.i,
        |    CASE WHEN p.prev IS NULL
        |           THEN ln(CAST(tot.tot + 1 AS DOUBLE) / CAST(coalesce(u.cu, 0) + 1 AS DOUBLE))
        |         WHEN b.cb IS NOT NULL
        |           THEN ln(CAST(c.cp AS DOUBLE) / CAST(b.cb AS DOUBLE))
        |         ELSE ln(CAST(tot.tot + 1 AS DOUBLE) / (0.4 * CAST(coalesce(u.cu, 0) + 1 AS DOUBLE)))
        |    END AS term
        |  FROM pos p LEFT JOIN uni u ON u.tok = p.tok
        |  LEFT JOIN big b ON b.prev = p.prev AND b.tok = p.tok
        |  LEFT JOIN ctx c ON c.prev = p.prev
        |  CROSS JOIN tot),
        |s AS (SELECT doc_id, nt, list(term ORDER BY i) AS arr
        |      FROM terms GROUP BY 1, 2)
        |SELECT doc_id, nt, list_reduce(arr, (a, b) -> a + b) / nt AS mean_surprisal
        |FROM s ORDER BY doc_id""".stripMargin,
    // t14: same messy construction (chr(9)=TAB, chr(769)=U+0301
    // combining acute, chr(7)=BEL), then the same normalization order:
    // nfc -> controls/format to space -> \s+ collapse -> trim -> lower.
    // Byte lengths via strlen (DuckDB's byte-length form).
    "t14_normalize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         'MiXeD CaSe HeAdEr' || chr(9) || ' ' ||
        |         'e' || chr(769) || ' ' || coalesce(text, '') ||
        |         '  ' || chr(7) || '  tail   ' AS messy
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, messy,
        |         lower(trim(regexp_replace(regexp_replace(
        |           nfc_normalize(messy), '[\p{Cc}\p{Cf}]', ' ', 'g'),
        |           '\s+', ' ', 'g'))) AS norm
        |  FROM m)
        |SELECT doc_id, norm,
        |       CAST(strlen(messy) AS BIGINT) AS n_bytes_in,
        |       CAST(strlen(norm) AS BIGINT) AS n_bytes_out
        |FROM n ORDER BY doc_id""".stripMargin,
    // t15: same synthetic-PII construction and the same URL -> email ->
    // IPv4 staging for both the redaction and the counts.
    "t15_pii_redact" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |         '@example.com' || ' via https://data.example.org/d/' ||
        |         CAST(doc_id AS VARCHAR) || ' from 10.2.' ||
        |         CAST(doc_id % 200 AS VARCHAR) || '.7 end' AS messy
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id, messy,
        |         regexp_replace(messy, 'https?://[^\s]+', '<URL>', 'g') AS no_url
        |  FROM m),
        |s2 AS (
        |  SELECT doc_id, messy, no_url,
        |         regexp_replace(no_url,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |           '<EMAIL>', 'g') AS no_email
        |  FROM s1)
        |SELECT doc_id,
        |       regexp_replace(no_email,
        |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
        |       CAST(len(regexp_extract_all(messy, 'https?://[^\s]+')) AS BIGINT) AS n_url,
        |       CAST(len(regexp_extract_all(no_url,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |       CAST(len(regexp_extract_all(no_email,
        |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip
        |FROM s2 ORDER BY doc_id""".stripMargin,
    // d10: exact-dedup survivors, the simhash kernel over survivors
    // only, then the FULL transitive closure of verified
    // Hamming<=4 pairs (recursive reachability, component = min
    // reachable id), and originals mapped through their survivor. The
    // engine thins the closure's edges to per-bucket star forests
    // (Dedup.simhashForest) — connectivity-invariant, so the oracle
    // states the semantics directly over ALL verified pairs.
    "d10_dedup_pipeline" ->
      s"""WITH RECURSIVE
        |hsh AS (SELECT doc_id, md5(coalesce(text, '')) AS h FROM documents),
        |surv AS (SELECT h, MIN(doc_id) AS survivor FROM hsh GROUP BY 1),
        |d2s AS (SELECT doc_id, survivor FROM hsh JOIN surv USING (h)),
        |sdoc AS (SELECT d.doc_id, d.text FROM documents d
        |         JOIN surv ON d.doc_id = surv.survivor),
        |${simhashCte("sdoc", "coalesce(text, '')")},
        |p AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 4),
        |e AS (SELECT d1 AS s, d2 AS t FROM p UNION ALL SELECT d2, d1 FROM p),
        |r(a, b) AS (SELECT s, t FROM e
        |            UNION SELECT r.a, e.t FROM r JOIN e ON r.b = e.s),
        |root AS (SELECT a AS doc_id, least(a, MIN(b)) AS root
        |         FROM r GROUP BY 1)
        |SELECT d.doc_id AS doc_id,
        |       CAST(coalesce(r.root, d.survivor) AS BIGINT) AS cluster
        |FROM d2s d LEFT JOIN root r ON r.doc_id = d.survivor
        |ORDER BY d.doc_id""".stripMargin,
    // p1: the composed corpus build — t9's cascade gates the corpus
    // (doc_id % 97 <> 0), the d10 chain runs over the kept docs and
    // keeps each cluster's min-id representative, d7's 4-gram veto
    // runs reps-vs-bench, and t10's 2000-token packing shards the
    // final keep set. Every stage's SQL is the already-hash-green
    // oracle of its standalone query, re-rooted on the prior stage.
    "p1_corpus_build" ->
      s"""WITH RECURSIVE
        |corpus AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 97 <> 0),
        |q AS (
        |  SELECT doc_id,
        |         len(string_split(lower(t), ' ')) AS nt,
        |         octet_length(encode(t)) - len(regexp_extract_all(t, ' ')) AS word_bytes,
        |         CASE WHEN octet_length(encode(t)) = 0 THEN 1.0
        |              ELSE CAST(len(regexp_extract_all(t, '[0-9]')) AS DOUBLE)
        |                   / octet_length(encode(t)) END AS digit_frac
        |  FROM (SELECT doc_id, coalesce(text, '') AS t FROM corpus)),
        |kept AS (
        |  SELECT c.doc_id, c.source, c.text
        |  FROM corpus c JOIN q USING (doc_id)
        |  WHERE NOT (q.nt < 5
        |         OR CAST(q.word_bytes AS DOUBLE)/q.nt < 3.0
        |         OR CAST(q.word_bytes AS DOUBLE)/q.nt > 10.0
        |         OR q.digit_frac > 0.2)),
        |hsh AS (SELECT doc_id, md5(coalesce(text, '')) AS h FROM kept),
        |surv AS (SELECT h, MIN(doc_id) AS survivor FROM hsh GROUP BY 1),
        |d2s AS (SELECT doc_id, survivor FROM hsh JOIN surv USING (h)),
        |sdoc AS (SELECT d.doc_id, d.text FROM kept d
        |         JOIN surv ON d.doc_id = surv.survivor),
        |${simhashCte("sdoc", "coalesce(text, '')")},
        |p AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 4),
        |e AS (SELECT d1 AS s, d2 AS t FROM p UNION ALL SELECT d2, d1 FROM p),
        |reach(a, b) AS (SELECT s, t FROM e
        |            UNION SELECT reach.a, e.t FROM reach JOIN e ON reach.b = e.s),
        |root AS (SELECT a AS doc_id, least(a, MIN(b)) AS root
        |         FROM reach GROUP BY 1),
        |repdoc AS (
        |  SELECT s.survivor AS doc_id
        |  FROM (SELECT DISTINCT survivor FROM d2s) s
        |  LEFT JOIN root r ON r.doc_id = s.survivor
        |  WHERE coalesce(r.root, s.survivor) = s.survivor),
        |bgrams AS (
        |  SELECT DISTINCT ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3] AS g
        |  FROM (SELECT string_split(lower(text), ' ') AS ts FROM documents
        |        WHERE doc_id % 97 = 0),
        |       LATERAL (SELECT unnest(range(1, len(ts)-2)) AS i)
        |  WHERE len(ts) >= 4),
        |cgrams AS (
        |  SELECT DISTINCT t.doc_id,
        |         ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3] AS g
        |  FROM (SELECT k.doc_id, string_split(lower(k.text), ' ') AS ts
        |        FROM kept k JOIN repdoc USING (doc_id)) t,
        |       LATERAL (SELECT unnest(range(1, len(ts)-2)) AS i)
        |  WHERE len(ts) >= 4),
        |contam AS (SELECT DISTINCT c.doc_id FROM cgrams c JOIN bgrams b USING (g)),
        |clean AS (
        |  SELECT r.doc_id FROM repdoc r
        |  WHERE r.doc_id NOT IN (SELECT doc_id FROM contam)),
        |pt AS (
        |  SELECT k.doc_id, k.source,
        |         CAST(len(string_split(lower(coalesce(k.text, '')), ' ')) AS BIGINT) AS n_tokens
        |  FROM kept k JOIN clean USING (doc_id)),
        |pc AS (
        |  SELECT doc_id, source, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM pt)
        |SELECT doc_id, source, n_tokens,
        |       CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 2000.0) AS BIGINT) AS shard
        |FROM pc ORDER BY doc_id""".stripMargin,
    // t8: multiplication order mirrors the Spark side exactly —
    // (cnt/nt) * ln(nd/df); QUALIFY row_number mirrors min_by's
    // (max tfidf, then smallest term) tie-break.
    "t8_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text),' ') AS ts FROM documents),
        |n AS (SELECT count(*) AS nd FROM documents),
        |terms AS (SELECT doc_id, tok, count(*) AS cnt
        |          FROM (SELECT doc_id, unnest(ts) AS tok FROM toks) GROUP BY 1,2),
        |lens AS (SELECT doc_id, len(ts) AS nt FROM toks),
        |df AS (SELECT tok, count(*) AS df FROM terms GROUP BY 1),
        |sc AS (SELECT t.doc_id, t.tok,
        |         (CAST(t.cnt AS DOUBLE)/l.nt) * ln(CAST(n.nd AS DOUBLE)/d.df) AS tfidf
        |       FROM terms t JOIN lens l USING (doc_id) JOIN df d USING (tok), n)
        |SELECT doc_id, tok AS top_term, tfidf AS top_tfidf
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY tfidf DESC, tok ASC) = 1
        |ORDER BY doc_id""".stripMargin,
    "d7_decontaminate" -> decontaminateOracle,
    // d12 is d7's report through the bloom-pruned join — the filter is
    // a pruning superset and the exact verify join removes its false
    // positives, so the oracle is IDENTICAL by design: matching hashes
    // here is the test that the bloom path changes nothing.
    "d12_bloom_decontaminate" -> decontaminateOracle,
    // s3: the +/-1 hyperplane signs come from the same md5-substr 60-bit
    // hash family as d3's minhash (bit 0 of md5(plane||':'||dim)), and
    // the per-plane weight list is assembled ORDER BY i so
    // list_dot_product walks dimensions in index order — the identical
    // IEEE operation sequence to the Spark side's DotProduct.
    "s3_knn_srp" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT max(len(v)) AS dim FROM e),
        |pw AS (SELECT p.p,
        |         list(CASE WHEN CAST(concat('0x', substr(md5(p.p || ':' || i.i),1,15)) AS BIGINT) & 1 = 1
        |              THEN 1.0 ELSE -1.0 END ORDER BY i.i) AS w
        |       FROM (SELECT unnest(range(8)) AS p) p, d,
        |            LATERAL (SELECT unnest(range(d.dim)) AS i) i
        |       GROUP BY 1),
        |b AS (SELECT e.vec_id, e.v,
        |        CAST(sum(CASE WHEN list_dot_product(e.v, pw.w) > 0
        |             THEN (1::BIGINT << pw.p) ELSE 0 END) AS BIGINT) AS bucket
        |      FROM e CROSS JOIN pw GROUP BY 1, 2
        |      HAVING list_dot_product(e.v, e.v) > 0),
        |q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
        |SELECT vec_id, bucket,
        |  list_dot_product(v, qv)/(sqrt(list_dot_product(v,v))*sqrt(list_dot_product(qv,qv))) AS cos
        |FROM b, q WHERE vec_id <> 0 AND bit_count(xor(bucket, qb)) <= 1
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "t6_regex_tokens" ->
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha,
        |CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT) AS n_double_vowel,
        |CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_spaces
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m1_media_meta" ->
      """SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CAST(n_chars % 640 AS INT) AS width, CAST(1 AS INT) AS height, md5(text) AS fp
        |FROM documents ORDER BY id""".stripMargin)

  /** t13's surprisal pipeline as CTEs ending in
    * `sur(doc_id, nt, mean_surprisal)` — shared by the t13 oracle and
    * the p6 carve built on it.
    */
  // a def, not a val: the oracle map literal above interpolates this
  // during object init, before later vals would be assigned
  private def SurprisalCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS ts FROM documents),
      |t AS (SELECT doc_id, CAST(len(ts) AS INT) AS nt, unnest(ts) AS tok FROM toks),
      |c AS (SELECT doc_id, nt, tok, count(*) AS cnt FROM t GROUP BY 1, 2, 3),
      |tf AS (SELECT tok, sum(cnt) AS tf FROM c GROUP BY 1),
      |tot AS (SELECT sum(cnt) AS tot FROM c),
      |terms AS (
      |  SELECT c.doc_id, c.nt, c.tok,
      |         CAST(c.cnt AS DOUBLE) * ln(CAST(tot.tot AS DOUBLE) / CAST(tf.tf AS DOUBLE)) AS term
      |  FROM c JOIN tf USING (tok) CROSS JOIN tot),
      |s AS (SELECT doc_id, nt, list(term ORDER BY tok) AS arr
      |      FROM terms GROUP BY 1, 2),
      |sur AS (SELECT doc_id, nt,
      |          list_reduce(arr, (a, b) -> a + b) / nt AS mean_surprisal
      |        FROM s)""".stripMargin

  /** The shared simhash-kernel CTE over a relation exposing
    * (doc_id, `textExpr`) — the d10/p1/p5 oracles all tokenize the
    * SAME way, so the SQL lives once (format need not be byte-stable:
    * the driver compares query RESULTS, not SQL text).
    */
  private def simhashCte(src: String, textExpr: String): String =
    s"""sim AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j)
       |                       ELSE 0::BIGINT END) AS BIGINT) AS simhash
       |  FROM (
       |    SELECT doc_id, j,
       |           SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |    FROM (
       |      SELECT doc_id,
       |             CAST(concat('0x', substr(md5(concat('0', ':', tok)), 1, 15))
       |                  AS BIGINT) AS hv
       |      FROM (SELECT doc_id, unnest(string_split(lower($textExpr), ' ')) AS tok
       |            FROM $src))
       |    CROSS JOIN (SELECT unnest(range(60)) AS j)
       |    GROUP BY 1, 2)
       |  GROUP BY 1)""".stripMargin

  /** The shared IVF cell-assignment WITH-chain fragment — mirrors
    * [[graft.sim.Similarity.assignCells]] with the cell count DERIVED
    * exactly the way `autoCells` derives it (`greatest(8, count //
    * divisor)`, one formula in both engines — ADVICE r12: hardcoded
    * 8-cell oracles deterministically failed once the corpus exceeded
    * 8 x 4096 vectors), including the TWO-LEVEL coarse-quantizer
    * route above the gate. At or below the gate, nsuper = k and the
    * chain reduces exactly to the single-level argmin (the routing
    * argmin is the global argmin under the same (distance, id)
    * tie-break, and the winning super's member set always contains
    * the winner — see assignCells' equivalence note), so the oracle
    * scales stay on the pinned structure.
    *
    * Emits CTEs `nc0/nc/cent/sup/ctag/rt/asg`, with
    * `asg(vec_id, cell, v)` and `cent(cell, cv)`, reading vectors
    * from CTE `src`(vec_id, v).
    */
  // d6/d23 share one pair-statement body parameterized on the source
  // CTE (review r15: a verbatim duplicate would let a one-sided edit
  // silently diverge the sampled oracle from the exact one). `seedCte`
  // (d23's thinned-view contract, r16): the cell count and centroid
  // seed derive from this frame — the FULL corpus — while the pair
  // statement runs over `eCte` (the sample).
  private def embeddingPairSql(eCte: String, seedCte: String = null): String =
    s"""WITH e AS ($eCte),
       |${if (seedCte == null) cellAssignCtes("e")
          else s"eseed AS ($seedCte),\n" + cellAssignCtes("e", seedSrc = "eseed")},
       |n AS (SELECT vec_id, cell, v, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM asg WHERE sqrt(list_dot_product(v, v)) > 0)
       |SELECT a.vec_id AS d1, b.vec_id AS d2,
       |       list_dot_product(a.v, b.v)/(a.nrm * b.nrm) AS cos
       |FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v)/(a.nrm * b.nrm) >= 0.4
       |ORDER BY d1, d2""".stripMargin

  private def cellAssignCtes(src: String, fixedK: String = null,
      seedSrc: String = null): String = {
    val div = graft.sim.Similarity.CellDivisor
    val gate = graft.sim.Similarity.TwoLevelGate
    // the SEED frame decides the cell count and the centroids (r16:
    // d23 passes the full corpus here while assigning the sample —
    // mirroring Similarity.assignCells' seedFrom); default = src.
    // ctag's leading CASE term is the r17 self-tag invariant (a
    // super's own centroid anchors its member group — see
    // CellIndex.build): it must stay in lockstep with the Scala
    // arms' priority field or a degenerate near-identical seed
    // diverges the engines.
    val seed = if (seedSrc == null) src else seedSrc
    val kCte =
      if (fixedK == null) s"SELECT greatest(8, count(*) // $div) AS k FROM $seed"
      else s"SELECT CAST($fixedK AS BIGINT) AS k" // explicit-ncells callers
    s"""nc0 AS ($kCte),
       |nc AS (SELECT k, CASE WHEN k > $gate
       |         THEN CAST(ceil(sqrt(k)) AS BIGINT) ELSE k END AS ns FROM nc0),
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
       |         FROM $seed, nc QUALIFY row_number() OVER (ORDER BY vec_id) <= nc.k),
       |sup AS (SELECT cell AS sup, cv AS scv FROM cent, nc WHERE cell < nc.ns),
       |ctag AS (
       |  SELECT cell, cv, sup FROM (
       |    SELECT c.cell, c.cv, s.sup,
       |           row_number() OVER (PARTITION BY c.cell ORDER BY
       |             (CASE WHEN c.cell = s.sup THEN 0 ELSE 1 END) ASC,
       |             (list_dot_product(c.cv, c.cv) + list_dot_product(s.scv, s.scv)
       |              - 2.0 * list_dot_product(c.cv, s.scv)) ASC, s.sup ASC) AS rn
       |    FROM cent c CROSS JOIN sup s) WHERE rn = 1),
       |rt AS (
       |  SELECT vec_id, v, sup FROM (
       |    SELECT t.vec_id, t.v, s.sup,
       |           row_number() OVER (PARTITION BY t.vec_id ORDER BY
       |             (list_dot_product(t.v, t.v) + list_dot_product(s.scv, s.scv)
       |              - 2.0 * list_dot_product(t.v, s.scv)) ASC, s.sup ASC) AS rn
       |    FROM $src t CROSS JOIN sup s) WHERE rn = 1),
       |asg AS (
       |  SELECT vec_id, cell, v FROM (
       |    SELECT r.vec_id, c.cell, r.v,
       |           row_number() OVER (PARTITION BY r.vec_id ORDER BY
       |             (list_dot_product(r.v, r.v) + list_dot_product(c.cv, c.cv)
       |              - 2.0 * list_dot_product(r.v, c.cv)) ASC, c.cell ASC) AS rn
       |    FROM rt r JOIN ctag c ON c.sup = r.sup) WHERE rn = 1)""".stripMargin
  }

  private def simhashSql(): String =
    """SELECT doc_id, lang,
      |       CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS BIGINT) AS simhash
      |FROM (
      |  SELECT doc_id, lang, j,
      |         SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM (
      |    SELECT doc_id, lang,
      |           CAST(concat('0x', substr(md5(concat('0', ':', tok)), 1, 15)) AS BIGINT) AS hv
      |    FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok FROM documents))
      |  CROSS JOIN (SELECT unnest(range(60)) AS j)
      |  GROUP BY 1, 2, 3)
      |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  /** s7 mirror: the code table from the s4 quantization CTE, then
    * `iters` unrolled Lloyd iterations — assignment by the same
    * dot-identity distance and (distance, cell) tie-break as s2,
    * per-(cell, dim) BIGINT code sums (exact, like the Spark side's
    * long sums), one double division per mean, empty cells inherited
    * via LEFT JOIN — and a final assignment against the last table.
    */
  /** s8 oracle: the s7 int8-quantize prefix, subvector slicing by the
    * same floor-division boundaries, per-subspace Lloyd iterations
    * keyed on (sb, cell), then the ADC distance table and the
    * sub-ordered left-fold distance sum — operation order and
    * association mirrored expression-for-expression.
    */
  private def s8PqSql(nsub: Int, kcent: Int, iters: Int, k: Int): String =
    s"""${pqAdcCtes(nsub, kcent, iters)}
       |SELECT vec_id, ${(1 to nsub).map(i => s"ds[$i]").mkString(" + ")} AS adist
       |FROM sc WHERE vec_id <> 0
       |ORDER BY adist, vec_id LIMIT $k""".stripMargin

  /** s9 oracle: the s8 ADC chain nominates the `rerank` short list,
    * then ONLY those ids are re-scored exactly on the int8-quantize
    * representation (the same dot-product identity as Vec.sqDist) and
    * the short list re-sorts to the final top-k.
    */
  private def s9PqRerankSql(nsub: Int, kcent: Int, iters: Int, k: Int,
      rerank: Int): String =
    s"""${pqAdcCtes(nsub, kcent, iters)},
       |cand AS (
       |  SELECT vec_id,
       |         ${(1 to nsub).map(i => s"ds[$i]").mkString(" + ")} AS adist
       |  FROM sc WHERE vec_id <> 0
       |  ORDER BY adist, vec_id LIMIT $rerank),
       |qv AS (SELECT q AS qv FROM c0 WHERE vec_id = 0)
       |SELECT c.vec_id,
       |       (list_dot_product(x.q, x.q) + list_dot_product(qv.qv, qv.qv)
       |        - 2.0 * list_dot_product(x.q, qv.qv)) AS dist
       |FROM cand c JOIN c0 x ON x.vec_id = c.vec_id, qv
       |ORDER BY dist, c.vec_id LIMIT $k""".stripMargin

  /** The shared ADC WITH-chain for the SINGLE-query (vec_id 0) ops:
    * [[pqTrainCtes]] plus the query's distance table and the
    * per-vector sub-ordered lookup lists (`sc(vec_id, ds)`). */
  private def pqAdcCtes(nsub: Int, kcent: Int, iters: Int): String =
    s"""${pqTrainCtes(nsub, kcent, iters)},
       |qs AS (SELECT sb, sv AS qv FROM sub WHERE vec_id = 0),
       |dt AS (SELECT c.sb, c.cell,
       |         (list_dot_product(q.qv, q.qv) + list_dot_product(c.cv, c.cv)
       |          - 2.0 * list_dot_product(q.qv, c.cv)) AS d
       |       FROM cent$iters c JOIN qs q ON q.sb = c.sb),
       |sc AS (SELECT af.vec_id, list(dt.d ORDER BY af.sb) AS ds
       |       FROM af JOIN dt ON af.sb = dt.sb AND af.cell = dt.cell
       |       GROUP BY 1)""".stripMargin

  /** s10 oracle: [[pqTrainCtes]]'s codebooks/encodings + the raw-vector
    * IVF routing (the shared [[cellAssignCtes]] fragment — derived
    * cell count, two-level above the gate — nprobe-ranked per query)
    * + a per-query ADC distance table; candidates are the probed
    * cells' members, scored by the sub-ordered fold and ranked per
    * query.
    */
  private def s10IvfPqSql(nsub: Int, kcent: Int, iters: Int, k: Int,
      nprobe: Int): String =
    s"""${pqTrainCtes(nsub, kcent, iters)},
       |${cellAssignCtes("e")},
       |icent AS (SELECT cell AS icell, cv AS icv FROM cent),
       |iasg AS (SELECT vec_id, cell AS icell FROM asg),
       |qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0),
       |qprobe AS (
       |  SELECT qid, icell FROM (
       |    SELECT q.qid, c.icell,
       |           row_number() OVER (PARTITION BY q.qid ORDER BY
       |             (list_dot_product(q.qv, q.qv) + list_dot_product(c.icv, c.icv)
       |              - 2.0 * list_dot_product(q.qv, c.icv)) ASC, c.icell ASC) AS rn
       |    FROM qv q CROSS JOIN icent c) WHERE rn <= $nprobe),
       |qsub AS (SELECT vec_id AS qid, sb, sv AS qsv FROM sub WHERE vec_id % 50 = 0),
       |qdt AS (SELECT qs.qid, c.sb, c.cell,
       |          (list_dot_product(qs.qsv, qs.qsv) + list_dot_product(c.cv, c.cv)
       |           - 2.0 * list_dot_product(qs.qsv, c.cv)) AS d
       |        FROM cent$iters c JOIN qsub qs ON qs.sb = c.sb),
       |cand AS (SELECT p.qid, a.vec_id FROM iasg a
       |         JOIN qprobe p ON a.icell = p.icell
       |         WHERE a.vec_id <> p.qid),
       |sc2 AS (SELECT c.qid, af.vec_id, list(q.d ORDER BY af.sb) AS ds
       |        FROM cand c
       |        JOIN af ON af.vec_id = c.vec_id
       |        JOIN qdt q ON q.qid = c.qid AND q.sb = af.sb AND q.cell = af.cell
       |        GROUP BY 1, 2)
       |SELECT qid, vec_id, adist FROM (
       |  SELECT qid, vec_id,
       |         ${(1 to nsub).map(i => s"ds[$i]").mkString(" + ")} AS adist,
       |         row_number() OVER (PARTITION BY qid ORDER BY
       |           ${(1 to nsub).map(i => s"ds[$i]").mkString(" + ")} ASC,
       |           vec_id ASC) AS rk
       |  FROM sc2)
       |WHERE rk <= $k ORDER BY qid, vec_id""".stripMargin

  /** The PQ TRAINING WITH-chain: int8 quantize, subvector slice,
    * per-subspace Lloyd codebooks (`cent<iters>`), and the final
    * corpus encoding (`af(vec_id, sb, cell)`). */
  private def pqTrainCtes(nsub: Int, kcent: Int, iters: Int): String = {
    def assign(name: String, cent: String): String =
      s"""$name AS (
         |  SELECT vec_id, sb, sv, cell FROM (
         |    SELECT su.vec_id, su.sb, su.sv, ct.cell,
         |           row_number() OVER (PARTITION BY su.vec_id, su.sb ORDER BY
         |             (list_dot_product(su.sv, su.sv) + list_dot_product(ct.cv, ct.cv)
         |              - 2.0 * list_dot_product(su.sv, ct.cv)) ASC, ct.cell ASC) AS rn
         |    FROM sub su JOIN $cent ct ON su.sb = ct.sb)
         |  WHERE rn = 1)""".stripMargin
    def update(i: Int): String =
      s"""m$i AS (
         |  SELECT sb, cell, i, CAST(sum(CAST(sv[i] AS BIGINT)) AS DOUBLE) / count(*) AS m
         |  FROM a$i, LATERAL (SELECT unnest(range(1, len(sv)+1)) AS i)
         |  GROUP BY 1, 2, 3),
         |cent$i AS (
         |  SELECT c.sb, c.cell, coalesce(n.nc, c.cv) AS cv
         |  FROM cent${i - 1} c LEFT JOIN
         |       (SELECT sb, cell, list(m ORDER BY i) AS nc FROM m$i GROUP BY 1, 2) n
         |       ON n.sb = c.sb AND n.cell = c.cell)""".stripMargin
    val steps = (1 to iters).map(i => s"${assign(s"a$i", s"cent${i - 1}")},\n${update(i)}")
      .mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT vec_id, v,
       |        list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS scale
       |      FROM e),
       |c0 AS (SELECT vec_id,
       |        CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
       |          ELSE list_transform(v, x ->
       |            greatest(-127.0, least(127.0, floor(x / scale + 0.5))))
       |        END AS q
       |      FROM s),
       |sub AS (
       |  SELECT vec_id, sb,
       |         q[CAST(floor(sb * len(q) / $nsub) AS INT) + 1 :
       |           CAST(floor((sb + 1) * len(q) / $nsub) AS INT)] AS sv
       |  FROM c0, (SELECT unnest(range(0, $nsub)) AS sb)),
       |cent0 AS (SELECT sb, vec_id AS cell, sv AS cv FROM sub WHERE vec_id < $kcent),
       |$steps,
       |${assign("af", s"cent$iters")}""".stripMargin
  }

  private def s7KmeansSql(ncells: Int, iters: Int): String = {
    def assign(k: Int): String =
      s"""a$k AS (
         |  SELECT vec_id, q, cell FROM (
         |    SELECT c0.vec_id, c0.q, ct.cell,
         |           row_number() OVER (PARTITION BY c0.vec_id ORDER BY
         |             (list_dot_product(c0.q, c0.q) + list_dot_product(ct.cv, ct.cv)
         |              - 2.0 * list_dot_product(c0.q, ct.cv)) ASC, ct.cell ASC) AS rn
         |    FROM c0 CROSS JOIN cent${k - 1} ct)
         |  WHERE rn = 1)""".stripMargin
    def update(k: Int): String =
      s"""m$k AS (
         |  SELECT cell, i, CAST(sum(CAST(q[i] AS BIGINT)) AS DOUBLE) / count(*) AS m
         |  FROM a$k, LATERAL (SELECT unnest(range(1, len(q)+1)) AS i)
         |  GROUP BY 1, 2),
         |cent$k AS (
         |  SELECT c.cell, coalesce(n.nc, c.cv) AS cv
         |  FROM cent${k - 1} c LEFT JOIN
         |       (SELECT cell, list(m ORDER BY i) AS nc FROM m$k GROUP BY 1) n
         |       USING (cell))""".stripMargin
    val steps = (1 to iters).map(k => s"${assign(k)},\n${update(k)}")
      .mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT vec_id, v,
       |        list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS scale
       |      FROM e),
       |c0 AS (SELECT vec_id,
       |        CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
       |          ELSE list_transform(v, x ->
       |            greatest(-127.0, least(127.0, floor(x / scale + 0.5))))
       |        END AS q
       |      FROM s),
       |cent0 AS (SELECT vec_id AS cell, q AS cv FROM c0 WHERE vec_id < $ncells),
       |$steps,
       |${assign(iters + 1)}
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell
       |FROM a${iters + 1} ORDER BY vec_id""".stripMargin
  }

  private def langIdSql(): String = {
    val sets = TextOps.stopwords.map { case (l, ws) =>
      l -> ws.map(w => s"'$w'").mkString("(", ",", ")")
    }
    val scoreCols = sets.map { case (l, inList) =>
      s"CAST(len(list_filter(ts, x -> x IN $inList)) AS BIGINT) AS c_$l"
    }.mkString(",\n")
    val m = sets.map { case (l, _) => s"c_$l" }.mkString("greatest(", ", ", ")")
    val cases = sets.map { case (l, _) => s"WHEN c_$l = m THEN '$l'" }.mkString(" ")
    s"""WITH f AS (SELECT lang, string_split(lower(text), ' ') AS ts FROM documents),
       |sc AS (SELECT lang, $scoreCols FROM f),
       |mx AS (SELECT lang, $m AS m, * FROM sc)
       |SELECT lang, CASE WHEN m = 0 THEN 'und' $cases ELSE 'und' END AS lang_guess,
       |       COUNT(*) AS n
       |FROM mx GROUP BY 1, 2 ORDER BY lang, lang_guess""".stripMargin
  }
}
