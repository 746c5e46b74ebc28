package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag corpus documents that share word
  * n-grams with a held-out benchmark set, so evaluation data can be
  * scrubbed from training corpora (the GPT-3/PaLM-style 8-13-gram
  * overlap check).
  *
  * Scale shape: the benchmark side is tiny relative to a 100 TB corpus
  * (a few thousand eval documents), so its distinct gram set is
  * broadcast and the overlap is a broadcast hash join keyed on the
  * gram — the corpus is scanned once, never shuffled on the gram; the
  * per-doc rollup is a partial-aggregatable hash aggregate on the doc
  * id. The final left join restores zero-match docs so the output is a
  * total contamination report, 1:1 with the corpus.
  */
object Decontaminate {

  /** Per-corpus-document contamination report against the benchmark
    * subset selected by `isBench` (a predicate over `docs` columns):
    * distinct matched n-grams, distinct benchmark docs hit, and the
    * contaminated flag. Benchmark rows are excluded from the output.
    *
    * Real decontamination uses n of 8-13; callers pick n relative to
    * their documents' length distribution.
    *
    * The broadcast of the benchmark gram set assumes benchmarks are
    * small — real eval suites are a few thousand documents. `isBench`
    * is an arbitrary caller predicate, though, and a careless one
    * selecting a corpus-scale slice would make the "benchmark" gram set
    * a multi-GB broadcast (driver/executor OOM), so the assumption is
    * ENFORCED, not documented away: one eager map-only pass over the
    * bench rows (shingle + size, no explode, no shuffle) counts docs
    * and grams, and if either bound fails the overlap falls back to a
    * shuffle join on the gram key — same results, no broadcast. The
    * gate makes this operator not fully lazy — the price of refusing
    * to OOM lazily.
    *
    * The broadcast payload is the exploded GRAM table (~doc length in
    * grams x gram bytes per doc — roughly the benchmark's raw text
    * size), so the gate is denominated in BOTH documents and grams
    * (ADVICE r6: a doc-only gate lets a few very long "benchmark"
    * documents through as a multi-GB gram broadcast): the bench pass
    * counts docs AND sums per-doc distinct-gram counts in the same
    * aggregate, and either bound failing takes the shuffle fallback.
    * Defaults: 8k docs / 4M grams ~ tens of MB broadcast.
    *
    * A caller that already knows its benchmark's size (a service with
    * a fixed eval suite) can skip the eager gate pass entirely with
    * `knownBenchDocs`/`knownBenchGrams` — TRUSTED upper bounds; a doc
    * hint without a gram hint (negative) disables the gram bound,
    * the [[flagsFromShingled]] convention.
    */
  def flags(docs: DataFrame, idCol: String, textCol: String,
      isBench: Column, n: Int,
      maxBroadcastBenchDocs: Long = 1L << 13,
      maxBroadcastBenchGrams: Long = 1L << 22,
      knownBenchDocs: Long = -1L,
      knownBenchGrams: Long = -1L): DataFrame = {
    // distinct n-gram shingling reuses the d2/d3 compiled kernel (same
    // lowercase/space-split/first-occurrence semantics, one split per
    // row instead of the interpreted-HOF re-evaluation)
    val base = docs.select(col(idCol).as("doc_id"), isBench.as("is_bench"),
      graft.dedup.Dedup.shingles(col(textCol), n).as("gs"))
    val (nd, ng) =
      if (knownBenchDocs >= 0L) (knownBenchDocs, knownBenchGrams)
      else {
        val stats = base.filter(col("is_bench"))
          .agg(count(lit(1)).as("nd"),
            coalesce(sum(size(col("gs"))), lit(0L)).as("ng")).head()
        (stats.getLong(0), stats.getLong(1))
      }
    flagsFromShingled(base, nd, maxBroadcastBenchDocs,
      ng, maxBroadcastBenchGrams)
  }

  /** The d7 engine over a pre-shingled (doc_id, is_bench, gs) relation
    * — [[graft.text.TextFamily]] feeds this from its shared token
    * table. `nBench`/`nBenchGrams` are the pre-counted benchmark-doc
    * and distinct-gram cardinalities the broadcast gate checks; a
    * negative `nBenchGrams` means unknown and disables the gram bound.
    */
  def flagsFromShingled(base: DataFrame, nBench: Long,
      maxBroadcastBenchDocs: Long = 1L << 13,
      nBenchGrams: Long = -1L,
      maxBroadcastBenchGrams: Long = 1L << 22): DataFrame = {
    val grams = base.select(col("doc_id"), col("is_bench"),
      explode(col("gs")).as("g"))
    val bench = grams.filter(col("is_bench"))
      .select(col("g"), col("doc_id").as("bench_id"))
    // above the gate, PIN sort-merge: without the hint Catalyst's size
    // estimate for the exploded gram table (crude for generators) can
    // still pick an auto-broadcast and OOM exactly as the hint would
    val benchSide =
      if (nBench <= maxBroadcastBenchDocs &&
          (nBenchGrams < 0 || nBenchGrams <= maxBroadcastBenchGrams))
        broadcast(bench)
      else bench.hint("merge")
    val matched = grams.filter(!col("is_bench"))
      .join(benchSide, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_matched_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
    report(base.filter(!col("is_bench")).select(col("doc_id")), matched)
  }

  /** The shared output tail of [[flags]] and [[flagsBloomPruned]]: restore
    * zero-match docs via a left join so the report is total — 1:1 with
    * `corpusIds` (a single-column doc_id relation). */
  private[graft] def report(corpusIds: DataFrame, matched: DataFrame): DataFrame =
    corpusIds
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matched_grams"), lit(0L)).as("n_matched_grams"),
        coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"),
        (coalesce(col("n_matched_grams"), lit(0L)) > 0).as("contaminated"))

  /** Bloom-pruned decontamination: identical output to [[flags]], but
    * the corpus side of the overlap join is pre-filtered MAP-SIDE by a
    * Bloom filter built over the benchmark gram hashes.
    *
    * Scale rationale — this is the path for the case [[flags]]'s
    * broadcast gate rejects (a benchmark too big for an exact broadcast
    * of its gram table). The gate's fallback is a sort-merge join that
    * shuffles the ENTIRE exploded corpus gram table on the gram key —
    * at 100 TB of corpus that shuffle dwarfs everything else in the
    * pipeline. Here the bench grams are instead summarized into a
    * Bloom filter (megabytes at 1% fpp even for tens of millions of
    * grams — [[org.apache.spark.sql.graft.BloomAgg]] builds it
    * distributed with map-side partial ORs), the filter ships to every
    * task as a plan-time literal, and
    * [[org.apache.spark.sql.graft.BloomMightContain]] drops
    * non-candidate corpus grams INSIDE the scan's whole-stage codegen,
    * before any exchange. Only ~(true matches + fpp x corpus grams)
    * rows reach the exact join, which then verifies candidates against
    * the real bench gram table — false positives are eliminated there,
    * so the OUTPUT is exact (the filter only prunes; it never decides).
    * This mirrors what Spark's AQE runtime row-level filtering injects
    * for selective joins, surfaced as a first-class operator with the
    * build size under caller control.
    *
    * Eagerness: building the filter is one distributed aggregate
    * action (plus one sizing count when `knownBenchGrams` is not
    * given) — same not-fully-lazy trade as [[flags]]'s gate, and
    * likewise skippable down to the single build action with the
    * trusted hint.
    *
    * `fpp` is the target false-positive rate; `maxBloomBytes` caps the
    * bit array (when it binds, the fpp degrades rather than the build
    * failing — correctness never depends on the fpp).
    */
  def flagsBloomPruned(docs: DataFrame, idCol: String, textCol: String,
      isBench: Column, n: Int,
      fpp: Double = 0.01,
      maxBloomBytes: Long = 32L << 20,
      knownBenchGrams: Long = -1L): DataFrame = {
    import org.apache.spark.sql.graft.{BloomAgg, BloomMightContain, GraftBloom}
    val base = docs.select(col(idCol).as("doc_id"), isBench.as("is_bench"),
      graft.dedup.Dedup.shingles(col(textCol), n).as("gs"))
    // upper bound on distinct bench grams (sum of per-doc distinct
    // counts) — oversizing the filter only lowers its fpp
    val ng =
      if (knownBenchGrams >= 0L) knownBenchGrams
      else base.filter(col("is_bench"))
        .agg(coalesce(sum(size(col("gs"))), lit(0L))).head().getLong(0)
    val (numBits, numHashes) = GraftBloom.size(math.max(ng, 1L), fpp, maxBloomBytes)
    val grams = base.select(col("doc_id"), col("is_bench"),
      explode(col("gs")).as("g"))
    val bench = grams.filter(col("is_bench"))
      .select(col("g"), col("doc_id").as("bench_id"))
    val bloomBytes = bench
      .select(BloomAgg(xxhash64(col("g")), numBits, numHashes).as("bf"))
      .head().getAs[Array[Byte]](0)
    // map-side prune inside the corpus scan, then the exact verify join
    // on the (now tiny) candidate set; merge hint for the same
    // generator-estimate reason flagsFromShingled pins its fallback
    val pruned = grams.filter(!col("is_bench"))
      .filter(BloomMightContain(lit(bloomBytes), xxhash64(col("g"))))
    val matched = pruned.join(bench.hint("merge"), "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_matched_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
    report(base.filter(!col("is_bench")).select(col("doc_id")), matched)
  }
}
