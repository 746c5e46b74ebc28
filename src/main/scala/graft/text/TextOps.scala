package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus pipelines:
  * tokenization, token statistics, language identification (stopword
  * heuristic), quality scoring, and document fingerprinting.
  *
  * All are pure Catalyst column expressions (whole-stage codegen'd, no
  * UDFs), so they vectorize over a 100 TB corpus with zero serialization
  * overhead and push down through the optimizer.
  */
object TextOps {

  /** Whitespace tokenizer (single-space; the corpus normal form).
    * Since r18 the native single-pass kernel ([[org.apache.spark.sql
    * .graft.TokenizeSpace]], bit-identical to `split(lower(text), " ")`
    * — TokenizeSpaceSpec); the DETERMINISTIC form, so scalar consumers
    * (tokenCount-style column kernels, when-cascades) keep
    * common-subexpression elimination. Projections feeding an explode
    * use `TokenizeSpace.pinned` instead (see its scaladoc).
    */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.TokenizeSpace(text)

  /** C4-style keep/drop cascade (Raffel et al. 2020 §2.2 shape): each
    * document gets a keep flag and the FIRST failing rule as `reason`
    * (null when kept) — the cleaning pass a training corpus runs before
    * dedup, as a when-cascade so the whole battery is one codegen'd
    * map over the text. Thresholds are operator parameters; the rules
    * here are the deterministic core (length, word shape, terminal
    * punctuation, digit density) — the full C4 also drops boilerplate
    * by phrase lists, which is [[tokensInSet]] composition.
    */
  def qualityFilter(text0: Column, minTokens: Int = 5,
      minAvgWordLen: Double = 3.0, maxAvgWordLen: Double = 10.0,
      maxDigitFrac: Double = 0.2,
      requireTerminal: Boolean = true): (Column, Column) = {
    // null text = empty text: every rule below would evaluate NULL and
    // fall through the when-chain, silently KEEPING a contentless row
    // as clean training data
    val text = coalesce(text0, lit(""))
    val nt = tokenCount(text)
    // BYTE-denominated word length and digit density: `length()` is
    // UTF-16 units in Spark but codepoints in DuckDB (astral chars
    // count 2 vs 1), while UTF-8 byte counts agree everywhere (the
    // m1/m2 oracle convention) — and bytes-per-word is just as good a
    // word-shape heuristic
    val spaces = regexp_count(text, lit(" "))
    val wordBytes = octet_length(text) - spaces
    val avgWord = wordBytes.cast("double") / nt
    val digitFrac = when(octet_length(text) === 0, lit(1.0))
      .otherwise(regexp_count(text, lit("[0-9]")).cast("double") /
        octet_length(text))
    // last-character test instead of a '$'-anchored regex: Java and
    // RE2 disagree about '$' before a trailing newline
    val terminal = substring(text, -1, 1).isin(".", "!", "?", "\"")
    // the terminal-punctuation rule is a C4-specific option — corpora
    // of non-prose documents (code, tables, logs) turn it off
    val base =
      when(nt < minTokens, "too_short")
        .when(avgWord < minAvgWordLen || avgWord > maxAvgWordLen, "word_shape")
        .when(digitFrac > maxDigitFrac, "digit_heavy")
    val reason =
      (if (requireTerminal) base.when(!terminal, "no_terminal_punct") else base)
        .otherwise(lit(null).cast("string"))
    (reason.isNull, reason)
  }

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  /** Count of tokens contained in a (small, broadcast-as-literal) set. */
  def tokensInSet(text: Column, set: Seq[String]): Column = {
    val arr = array(set.map(lit): _*)
    size(filter(tokens(text), t => array_contains(arr, t))).cast("long")
  }

  /** Tiny public stopword lists per language (heuristic language ID).
    * Real deployments would broadcast fuller lists; the mechanism —
    * per-language token-membership scores + argmax — is the same.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"),
    "zh" -> Seq("de", "shi", "le", "zai"))

  /** Heuristic language ID: per-language stopword hit counts, argmax with
    * deterministic tie-break in `stopwords` declaration order.
    */
  def langId(text: Column): Column = {
    val scores = stopwords.map { case (l, ws) => l -> tokensInSet(text, ws) }
    val m = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(m === 0L, lit("und"))) {
      case (acc, (l, sc)) => acc.when(sc === m, lit(l))
    }.otherwise(lit("und"))
  }

  /** English stopword ratio (a quality-filter feature). */
  def stopwordRatio(text: Column): Column =
    tokensInSet(text, stopwords.head._2).cast("double") / tokenCount(text)

  /** Type-token ratio: distinct / total tokens. */
  def uniqueRatio(text: Column): Column =
    distinctTokenCount(text).cast("double") / tokenCount(text)

  /** Composite quality score in [0,1]: length saturation + stopword
    * presence + lexical diversity (the length/punct/stopword-ratio family
    * of corpus-quality heuristics).
    */
  def qualityScore(text: Column): Column =
    least(lit(1.0), tokenCount(text).cast("double") / 100.0) * 0.4 +
      stopwordRatio(text) * 0.3 + uniqueRatio(text) * 0.3

  /** Whitespace-normalized form used for fingerprinting. */
  def normalized(text: Column): Column =
    regexp_replace(trim(lower(text)), " +", " ")

  /** Content-defined document fingerprint (exact-dedup key). */
  def fingerprint(text: Column): Column = md5(normalized(text))
}
