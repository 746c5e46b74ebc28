package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram language-model surprisal scoring — the CCNet-style "score
  * each document by a language model trained on the corpus itself"
  * quality signal, reduced to its scalable core: p(tok) = corpus
  * term frequency / corpus token count, and each document scores the
  * MEAN per-token surprisal `-(1/nt) * sum ln p(tok)`. Low scores =
  * made of common words (boilerplate, word salad from frequent
  * tokens); high scores = rare-token-heavy (specialist text — or
  * noise); both tails are what a curation pipeline inspects.
  *
  * Scale shape: term counts, the tf dictionary, and the corpus total
  * are partial-aggregatable hash aggregates; the dictionary joins
  * back on the term key exactly like [[TfIdf]] (Zipf-distributed —
  * AQE broadcasts it when small, skew-handles otherwise) and the
  * 1-row total is a broadcast. The per-document reduction is an
  * ARRAY FOLD, not a float groupBy-sum: per-token contributions are
  * assembled in sorted-token order and folded sequentially, so the
  * result is a deterministic function of the data (a shuffle-order
  * float sum would differ run to run in the last ulp — the driver
  * hash-compare would flap) and mirrors DuckDB's `list_reduce` left
  * fold term for term. ln goes through the libm-parity
  * [[org.apache.spark.sql.graft.NativeLn]] (Catalyst's log is
  * StrictMath, 1 ulp off the oracle).
  */
object UnigramLm {

  /** (doc_id, nt, mean_surprisal) per document. */
  def surprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    surprisalFromTokens(
      // spread an under-split scan before the tokenize + explode
      // (no-op on well-split corpora)
      graft.ScanBytes.spread(docs.select(col(idCol), col(textCol)),
          graft.ScanBytes.KernelFloor)
        .select(col(idCol).as("doc_id"),
          // pinned native tokenizer (r18) — see the r17 note below: the
          // outer-generate cure was worse; this one keeps the Generate
          // codegen'd AND the scan filter tokenize-free
          org.apache.spark.sql.graft.TokenizeSpace.pinned(col(textCol))
            .as("toks")))

  /** The engine over a pre-tokenized (doc_id, toks) relation, the
    * [[TextFamily]]-compatible entry point.
    */
  def surprisalFromTokens(base: DataFrame): DataFrame = {
    // r17 note (examined, kept as-is): the inner explode gets an
    // InferFiltersFromGenerate `size(toks) > 0` filter that predicate
    // pushdown turns into a SECOND per-row tokenize in the scan stage.
    // The outer-explode alternative avoids that but drops the Generate
    // out of whole-stage codegen (GenerateExec only codegens inner
    // generates) and measured SLOWER paired at sf0.1 (refbench
    // t13 −0.34 s / t8 −0.27 s medians, 4/5 pairs) — the codegen break
    // costs more than the duplicate split. OPTIMIZATION_r17.md §"not
    // taken" has the numbers.
    val terms = base
      .select(col("doc_id"), size(col("toks")).as("nt"),
        explode(col("toks")).as("tok"))
      .groupBy("doc_id", "nt", "tok").agg(count(lit(1)).as("cnt"))
    val tf = terms.groupBy("tok").agg(sum(col("cnt")).as("tf"))
    val tot = terms.agg(sum(col("cnt")).as("tot"))
    val term: Column = col("cnt").cast("double") *
      org.apache.spark.sql.graft.NativeLn(
        col("tot").cast("double") / col("tf").cast("double"))
    terms
      .join(tf, "tok")
      .join(broadcast(tot))
      .withColumn("term", term)
      .groupBy(col("doc_id"), col("nt"))
      // struct sort key = (tok, term); tok is unique within a doc, so
      // the fold order is exactly the oracle's ORDER BY tok
      .agg(sort_array(collect_list(struct(col("tok"), col("term"))))
        .as("arr"))
      .select(col("doc_id"), col("nt"),
        (aggregate(col("arr"), lit(0.0),
          (acc, x) => acc + x.getField("term")) / col("nt"))
          .as("mean_surprisal"))
  }
}
