package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TF-IDF keyword extraction: the highest-scoring term per document,
  * with tf = term count / document tokens and idf = ln(N / df). The
  * interesting part at scale is the GLOBAL document-frequency
  * dictionary: a corpus-wide aggregate joined back into a per-document
  * computation — the pattern behind vocabulary building, stopword
  * induction, and rare-token filtering in corpus pipelines.
  *
  * Scale shape: term counts and document frequencies are both
  * partial-aggregatable hash aggregates (keyed (doc, term) then term);
  * the df dictionary joins back on the term key — Zipf-distributed, so
  * at corpus scale AQE either broadcasts the (small) dictionary or
  * hash-joins with the skew handled by the heavy hitters having
  * idf ~ 0 (droppable upstream); the corpus row count N is a 1-row
  * broadcast agg. The per-doc winner is a min_by aggregate, not a
  * window sort.
  */
object TfIdf {

  /** (doc_id, top_term, top_tfidf): the max-tf-idf term per document,
    * ties to the lexicographically smallest term.
    */
  def topTerm(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    topTermFromTokens(
      // spread an under-split scan before the tokenize + explode
      // (no-op on well-split corpora)
      graft.ScanBytes.spread(docs.select(col(idCol), col(textCol)),
          graft.ScanBytes.KernelFloor)
        .select(col(idCol).as("doc_id"),
          // pinned native tokenizer (r18, VERDICT r17 #4): kills the
          // inferred-filter double-tokenize in the scan stage without
          // the outer-generate codegen break the r17 pairing rejected
          org.apache.spark.sql.graft.TokenizeSpace.pinned(col(textCol))
            .as("toks")),
      docs.agg(count(lit(1)).as("nd")))

  /** The t8 engine over a pre-tokenized (doc_id, toks) relation —
    * [[graft.text.TextFamily]] feeds this from its shared cached token
    * table; the standalone [[topTerm]] builds its own lean projection.
    * `nDocs` is a 1-row (nd) frame so the caller controls which corpus
    * count N means.
    */
  def topTermFromTokens(base: DataFrame, nDocs: DataFrame): DataFrame = {
    // nt (doc token total) rides through the explode as a constant per
    // doc, so no separate length join/scan is needed
    // The term table feeds BOTH the df dictionary and the score join;
    // column pruning specializes the two subtrees (the df side drops
    // cnt), so exchange reuse cannot kick in and the plan tokenizes and
    // aggregates the corpus twice. Measured: that beats .cache() here
    // (1.18 s vs 1.66 s at sf0.1 — materialization costs more than the
    // second pruned scan); at corpus scale the right form is a
    // PERSISTED term table reused across this and other vocabulary
    // consumers (graft.text.TextFamily is that opt-in), not an
    // in-query cache.
    // r17 note (examined, kept as-is): the inner explode's inferred
    // size-filter re-tokenizes the corpus in the scan stage, but the
    // outer-explode alternative breaks whole-stage codegen around the
    // Generate and measured slower paired (see UnigramLm's note and
    // OPTIMIZATION_r17.md).
    val terms = base
      .select(col("doc_id"), size(col("toks")).as("nt"),
        explode(col("toks")).as("tok"))
      .groupBy("doc_id", "nt", "tok").agg(count(lit(1)).as("cnt"))
    val df = terms.groupBy("tok").agg(count(lit(1)).as("df"))
    terms
      .join(df, "tok")
      .join(broadcast(nDocs))
      .withColumn("tfidf",
        (col("cnt").cast("double") / col("nt")) *
          // NativeLn, not functions.log: Catalyst log is StrictMath
          // (FDLIBM) and differs from the oracle's libm by 1 ulp
          org.apache.spark.sql.graft.NativeLn(
            col("nd").cast("double") / col("df")))
      .groupBy("doc_id")
      .agg(min_by(struct(col("tok"), col("tfidf")),
        struct((-col("tfidf")).as("neg"), col("tok"))).as("m"))
      .select(col("doc_id"), col("m.tok").as("top_term"),
        col("m.tfidf").as("top_tfidf"))
  }
}
