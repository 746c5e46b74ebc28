package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import org.apache.spark.sql.graft.{CmsSketch, CmsSketchWeighted}

/** Heavy-hitter token detection over a corpus via the count-min sketch
  * aggregate ([[org.apache.spark.sql.graft.CmsSketch]]).
  *
  * The production path at corpus scale is sketch-only: one pass builds
  * the fixed-size grid (map-side partial, elementwise-add merge), and
  * any candidate stream — a sample, a dictionary, a second corpus — is
  * scored against the broadcast grid with plain `element_at` math, no
  * shuffle. The [[heavyHitters]] entry point here also carries each
  * candidate's EXACT count so the driver's oracle can verify the sketch
  * estimate cell-for-cell (the t17 KMV convention: ship estimate and
  * exact side by side); production callers drop the exact column and
  * the groupBy that feeds it.
  *
  * Reference analog: the reference's per-batch top-term statistics
  * (fink_science aggregate summaries) are exact small-data groupBys;
  * the sketch is the beyond-reference scale path for vocabularies that
  * do not fit a driver-side top-k.
  */
object HeavyHitters {

  /** Per-row bucket-index array for the sketch's `depth` hash rows —
    * the cross-engine md5 family keyed by the row index, so DuckDB can
    * rebuild the identical grid. Stays in whole-stage codegen; the
    * imperative part of the aggregate is only the counter adds.
    */
  def bucketIndices(tok: Column, depth: Int, width: Int): Column =
    transform(sequence(lit(0), lit(depth - 1)),
      r => pmod(Hashing.hash60(tok, r), lit(width.toLong)))

  /** Point estimate of a token's frequency from an evaluated grid:
    * MIN over the token's `depth` cells. `element_at` is 1-based.
    */
  def estimate(cms: Column, tok: Column, depth: Int, width: Int): Column = {
    val cells = (0 until depth).map { r =>
      element_at(cms,
        (lit(r.toLong * width) + pmod(Hashing.hash60(tok, r), lit(width.toLong))
          + lit(1L)).cast("int"))
    }
    if (cells.length == 1) cells.head else least(cells: _*)
  }

  /** Tokens whose sketch estimate is at least 1/`ratio` of the corpus
    * token mass, with the estimate and the exact count side by side.
    * Integer-only comparison (`est * ratio >= total`) — no float
    * threshold to diverge across engines.
    *
    * Shape: one pass builds (grid, total) in a single global aggregate;
    * the candidate side is a (token -> exact count) hash aggregate;
    * the single-row sketch is broadcast onto the candidates. The
    * filter keeps output O(ratio) by the CMS guarantee (at most
    * `ratio` tokens can each hold >= 1/ratio of the mass, plus
    * collision-inflated near-misses).
    */
  def heavyHitters(docs: DataFrame, textCol: String,
      depth: Int = 4, width: Int = 256, ratio: Int = 64): DataFrame = {
    // null-total tokenization (the t17 convention): null text becomes
    // one empty token on BOTH engines (Spark's explode would silently
    // drop a null array where DuckDB's unnest keeps ['']). The scan is
    // spread first (ScanBytes.spread): the tokenize + explode + partial
    // CMS/count aggregation all run map-side, and an under-split file
    // would pin them to one task. r13 carried a halved floor here
    // because the optimizer-estimate denomination saw a TEXT-ONLY
    // projection shrink below the default floor at sf1 (the t19
    // sf1-slower-than-sf10 inversion); the scan-bytes denomination
    // (VERDICT r13 #2) is projection-independent, so the default
    // floor applies unmodified.
    val toks = graft.ScanBytes.spread(docs.select(col(textCol)),
        graft.ScanBytes.KernelFloor)
      .select(
        // pinned native tokenizer (r18): single-pass byte split, no
        // inferred-filter re-tokenize in the scan stage
        explode(org.apache.spark.sql.graft.TokenizeSpace
          .pinned(coalesce(col(textCol), lit("")))).as("tok"))
    // r17 (guide §2.4): the sketch is built FROM the exact per-token
    // count aggregate the output needs anyway — counter updates are
    // commutative integer sums, so adding n_exact once per DISTINCT
    // token yields the cell-identical grid to adding 1 per occurrence
    // — and the two consumers (grid + candidate side) share the
    // aggregate's exchange (ReusedExchange). The former shape ran the
    // corpus scan + tokenize + explode TWICE (once into the sketch,
    // once into the count aggregate); now the corpus is read once and
    // everything past the exchange is vocabulary-sized. total =
    // sum(n_exact) = the occurrence count, same integer.
    val cnts = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
    val sketch = cnts
      .select(bucketIndices(col("tok"), depth, width).as("bk"),
        col("n_exact"))
      .agg(CmsSketchWeighted(col("bk"), col("n_exact"), depth, width)
          .as("cms"),
        sum(col("n_exact")).as("total"))
    cnts
      .join(broadcast(sketch))
      .withColumn("est", estimate(col("cms"), col("tok"), depth, width))
      .filter(col("est") * ratio >= col("total"))
      .select(col("tok"), col("est"), col("n_exact"))
  }
}
