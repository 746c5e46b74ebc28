package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.NativeLn

/** Bigram language-model surprisal with STUPID BACKOFF (Brants et al.,
  * EMNLP'07 — the web-scale LM scoring scheme: no normalization, no
  * discount estimation, just count ratios with a fixed backoff
  * penalty) — the next rung above [[UnigramLm]] on the CCNet-style
  * quality ladder, and unlike t13 it separates train and score
  * corpora: counts come from `train` (the curated split), every
  * document of `score` gets a score — exactly how a curation pipeline
  * scores a crawl against a trusted-corpus LM.
  *
  * Per position i (0-based) with token w and predecessor v:
  *  - i = 0 (no context): surprisal = ln(tot' / c'(w))
  *  - bigram vw seen in train: ln(ctx(v) / c(vw)) — ctx(v) = count of
  *    v as a bigram context, so the ratio is the conditional MLE
  *  - else (backoff, including unseen v): ln(tot' / (alpha * c'(w)))
  * with add-one OOV floors c'(w) = c(w)+1, tot' = tot+1 so unseen
  * score-side tokens stay finite. A scoring signal, not a normalized
  * LM (stupid backoff's explicit trade).
  *
  * Scale shape: the three count dictionaries are partial-aggregatable
  * hash aggregates over the TRAIN corpus only; scoring joins them
  * back on token keys (Zipf — AQE broadcasts small dictionaries,
  * skew-handles hot tokens). Bigram instances are derived by an
  * in-row `transform(sequence(...))` — no self-join, no window — so
  * position expansion is map-only. The per-document reduction is the
  * t13 ordered array fold (position-keyed), deterministic and
  * mirrored by DuckDB's list_reduce; ln through the libm-parity
  * [[NativeLn]].
  */
object BigramLm {

  private def positions(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // spread an under-split scan before the tokenize + position
    // explode (no-op on well-split corpora)
    graft.ScanBytes.spread(docs.select(col(idCol), col(textCol)),
        graft.ScanBytes.KernelFloor)
      .select(col(idCol).as("doc_id"),
        // pinned native tokenizer (r18): no regex per row, and the
        // position explode's inferred filter can no longer re-tokenize
        // in the scan stage
        org.apache.spark.sql.graft.TokenizeSpace
          .pinned(coalesce(col(textCol), lit(""))).as("ts"))
      .select(col("doc_id"), size(col("ts")).as("nt"),
        explode(expr(
          "transform(sequence(0, size(ts) - 1), " +
            "i -> struct(i as i, ts[i] as tok, " +
            "if(i > 0, ts[i - 1], null) as prev))")).as("p"))
      .select(col("doc_id"), col("nt"),
        col("p.i").as("i"), col("p.tok").as("tok"), col("p.prev").as("prev"))

  /** (doc_id, nt, mean_surprisal) for every `score` document, counts
    * from `train` only. */
  def surprisal(score: DataFrame, train: DataFrame, idCol: String,
      textCol: String, alpha: Double = 0.4): DataFrame = {
    val trainPos = positions(train, idCol, textCol)
    val uni = trainPos.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val tot = trainPos.agg(count(lit(1)).as("tot"))
    val big = trainPos.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy(col("prev")).agg(sum(col("cb")).as("cp"))
    val cup: Column = (coalesce(col("cu"), lit(0L)) + lit(1L)).cast("double")
    val totp: Column = (col("tot") + lit(1L)).cast("double")
    val term: Column =
      when(col("prev").isNull, NativeLn(totp / cup))
        .when(col("cb").isNotNull,
          NativeLn(col("cp").cast("double") / col("cb").cast("double")))
        .otherwise(NativeLn(totp / (lit(alpha) * cup)))
    positions(score, idCol, textCol)
      .join(uni, Seq("tok"), "left")
      .join(big, Seq("prev", "tok"), "left")
      .join(ctx, Seq("prev"), "left")
      .join(broadcast(tot))
      .withColumn("term", term)
      .groupBy(col("doc_id"), col("nt"))
      // i is unique within a doc: the fold order is the position order
      .agg(sort_array(collect_list(struct(col("i"), col("term")))).as("arr"))
      .select(col("doc_id"), col("nt"),
        (aggregate(col("arr"), lit(0.0),
          (acc, x) => acc + x.getField("term")) / col("nt"))
          .as("mean_surprisal"))
  }
}
