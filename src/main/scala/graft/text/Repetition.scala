package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher-style repetition quality signals (Rae et al. 2021,
  * "Scaling Language Models: Methods, Analysis & Insights from Training
  * Gopher", Table A1): the fraction of a document's characters covered
  * by its most frequent word 2-gram, and by all duplicated word
  * 3-grams. Corpus-quality pipelines drop documents above thresholds on
  * these signals (boilerplate, keyword stuffing, template spam). On a
  * newline-free corpus the line/paragraph members of the Gopher family
  * degenerate to the whole document, so the n-gram members are the
  * informative ones; the mechanism — explode, two-level partial
  * aggregation, 1:1 join back — is identical for any n and for
  * line-grams.
  *
  * Scale shape: both aggregations are hash aggregates keyed by
  * (doc, gram) then doc — partial-aggregatable map-side, the only wide
  * exchanges are keyed on the doc id, no window sorts over the corpus
  * (the per-doc argmax is a min_by aggregate); the joins back to the
  * corpus are 1:1 on the doc id. Nothing is driver-side or quadratic.
  */
object Repetition {

  /** Word n-grams (space-joined) of a token-array column; empty when
    * the document has fewer than n tokens.
    */
  private[text] def grams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (1 to n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Per-document repetition signals:
    *   - `top2_gram`: the most frequent word 2-gram (ties break to the
    *     lexicographically smallest; NULL when the doc has < 2 tokens);
    *   - `top2_frac`: characters covered by all occurrences of that
    *     2-gram (count x gram length) over the document's char length —
    *     overlapping occurrences each count, as in the paper;
    *   - `dup3_frac`: characters covered by every word 3-gram occurring
    *     more than once, over the document's char length.
    */
  def signals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // spread an under-split scan before the per-doc tokenize + gram
    // explode (a single-row-group file otherwise pins this whole map
    // side to one task)
    val base = graft.ScanBytes.spread(docs.select(col(idCol), col(textCol)),
        graft.ScanBytes.KernelFloor)
      .select(
        col(idCol).as("doc_id"),
        length(col(textCol)).cast("long").as("n_chars_t"),
        // pinned native tokenizer (r18): the two gram explodes each
        // inferred a size filter that re-tokenized in the scan stage
        org.apache.spark.sql.graft.TokenizeSpace.pinned(col(textCol))
          .as("toks"))

    val g2 = base
      .select(col("doc_id"), explode(grams(col("toks"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
    val top2 = g2.groupBy("doc_id")
      .agg(min_by(struct(col("g"), col("cnt")),
        struct((-col("cnt")).as("nc"), col("g"))).as("m"))
      .select(col("doc_id"), col("m.g").as("top2_gram"),
        (col("m.cnt") * length(col("m.g"))).as("top2_chars"))

    val g3 = base
      .select(col("doc_id"), explode(grams(col("toks"), 3)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
    val dup3 = g3.filter(col("cnt") > 1)
      .groupBy("doc_id")
      .agg(sum(col("cnt") * length(col("g"))).as("dup3_chars"))

    def frac(chars: Column): Column =
      when(col("n_chars_t") > 0,
        coalesce(chars, lit(0L)).cast("double") / col("n_chars_t"))
        .otherwise(lit(0.0))

    base.select(col("doc_id"), col("n_chars_t"))
      .join(top2, Seq("doc_id"), "left")
      .join(dup3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("top2_gram"),
        frac(col("top2_chars")).as("top2_frac"),
        frac(col("dup3_chars")).as("dup3_frac"))
  }
}
