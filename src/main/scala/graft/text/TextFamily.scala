package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ONE tokenization materialization feeding the whole text family —
  * the term-table counterpart of [[graft.dedup.Dedup.signedSets]]
  * (which plays the same role for the d2/d3 near-dup family): a corpus
  * pipeline that computes TF-IDF vocabulary, per-source token stats
  * and benchmark decontamination in one run should lowercase and split
  * every document exactly once, not once per operator.
  *
  * The cached table is (doc_id, <carry...>, toks, nt) — compact
  * (pre-explode: one array row per doc, not one row per token), so it
  * is the cheapest shape that still removes the repeated text scan +
  * split. At corpus scale it is the PERSISTED token/term table other
  * vocabulary consumers read; here `cache()` stands in for that write.
  *
  * Cache ownership: [[run]] hands the token table back to the caller
  * (`TextFamilyResult.tokens`) — unpersist it once the results are
  * materialized; the operators themselves stay lazy and cannot know
  * when that is (the r5 cache-leak lesson).
  */
object TextFamily {

  final case class TextFamilyResult(tokens: DataFrame, topTerm: DataFrame,
      tokenStats: DataFrame, decontamination: DataFrame,
      surprisal: DataFrame) {
    def unpersist(): Unit = { tokens.unpersist(); () }
  }

  /** (doc_id, <carry...>, toks, nt), cached. `carryCols` must include
    * every column the family's predicates/groupings read.
    */
  def tokenTable(docs: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame =
    docs.select((col(idCol).as("doc_id") +: carryCols.map(col)) :+
        TextOps.tokens(col(textCol)).as("toks"): _*)
      .withColumn("nt", size(col("toks")))
      .cache()

  /** Token n-grams from a pre-split token array — first-occurrence
    * distinct, identical semantics to [[graft.dedup.Dedup.shingles]]
    * over the raw text (same lowercase/space-split convention as
    * [[TextOps.tokens]]); the equivalence is property-tested
    * (KernelPropertiesSpec) because the family≡standalone d7 equality
    * rests on it.
    */
  def gramsKernel(ts: Seq[String], n: Int): Array[String] = {
    if (ts == null || ts.length < n) Array.empty[String]
    else {
      val seen = new java.util.LinkedHashSet[String]()
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= ts.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(ts(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      seen.toArray(new Array[String](seen.size))
    }
  }

  def gramsFromTokens(toks: Column, n: Int): Column = {
    val k = udf((ts: Seq[String], nn: Int) => gramsKernel(ts, nn))
    k(toks, lit(n))
  }

  /** t3's per-group token statistics off a token table. */
  def tokenStatsFromTokens(tokens: DataFrame, groupCol: String): DataFrame =
    tokens.select(col(groupCol), col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col(groupCol))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("total_tokens"),
        countDistinct(col("tok")).as("n_distinct"))

  /** All four consumers (t8 vocabulary, t3 stats, d7 decontamination,
    * t13 LM surprisal) off one [[tokenTable]] materialization. The
    * standalone entry points ([[TfIdf.topTerm]],
    * [[Decontaminate.flags]], [[UnigramLm.surprisal]], the inline t3
    * query) keep their own leaner plans; this is the explicit opt-in
    * for pipelines running the whole family.
    *
    * `isBench` is evaluated against the TOKEN table, so it may only
    * reference `doc_id`, `groupCol`, or a column listed in
    * `carryCols` — any other input column must be carried explicitly
    * (ADVICE r6: the previous hard-coded carry made a predicate on,
    * say, a url column an AnalysisException).
    */
  def run(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, isBench: Column, gramN: Int,
      maxBroadcastBenchDocs: Long = 1L << 13,
      carryCols: Seq[String] = Nil,
      knownBenchDocs: Long = -1L,
      knownBenchGrams: Long = -1L): TextFamilyResult = {
    val tokens = tokenTable(docs, idCol, textCol,
      (groupCol +: carryCols).distinct)
    val nDocs = tokens.agg(count(lit(1)).as("nd"))
    val t8 = TfIdf.topTermFromTokens(
      tokens.select(col("doc_id"), col("toks")), nDocs)
    val t3 = tokenStatsFromTokens(tokens, groupCol)
    val t13 = UnigramLm.surprisalFromTokens(
      tokens.select(col("doc_id"), col("toks")))
    val shingled = tokens.select(col("doc_id"), isBench.as("is_bench"),
      gramsFromTokens(col("toks"), gramN).as("gs"))
    // the broadcast-gate cardinalities: hinted by callers that know
    // their benchmark's size (trusted, the Decontaminate.flags
    // convention), otherwise one eager pass over the bench shingles
    val (nd, ng) =
      if (knownBenchDocs >= 0L) (knownBenchDocs, knownBenchGrams)
      else {
        val stats = shingled.filter(col("is_bench"))
          .agg(count(lit(1)).as("nd"),
            coalesce(sum(size(col("gs"))), lit(0L)).as("ng")).head()
        (stats.getLong(0), stats.getLong(1))
      }
    val d7 = Decontaminate.flagsFromShingled(shingled, nd,
      maxBroadcastBenchDocs, ng)
    TextFamilyResult(tokens, t8, t3, d7, t13)
  }
}
