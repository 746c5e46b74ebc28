package graft.alerts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.WithColumns
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Core alert-table column conventions (SURVEY.md §1).
  *
  * An alert table is a DataFrame of nested alert packets; enrichment
  * appends columns. The load-bearing convention is `concat_col`
  * (SURVEY.md §1.4, after fink-utils' concat_col used throughout the
  * reference, e.g. ztf/random_forest_snia/processor.py:113): for a field
  * X, `cX = history.X ++ [current.X]` — the per-alert time series as an
  * array column, nulls inside meaning upper limits / non-detections.
  *
  * Everything here is a native Catalyst expression: the array projection
  * `prv_candidates.X` and `concat` run inside whole-stage codegen, with
  * nested-schema pruning pushing only the needed struct fields into the
  * parquet scan.
  */
object AlertCols {

  /** A light-curve array as a UDF receives it, decoded to primitive
    * doubles: a null element (an upper limit or non-detection) becomes
    * NaN, and a null array an empty one.
    */
  def doubles(xs: scala.collection.Seq[java.lang.Double]): Array[Double] =
    if (xs == null) Array.emptyDoubleArray
    else xs.map(x => if (x == null) Double.NaN else x.doubleValue()).toArray

  /** ZTF packet layout. */
  val ZtfCurrent = "candidate"
  val ZtfHistory = "prv_candidates"

  /** Rubin packet layout (rubin/slsn/processor.py:66-69). */
  val RubinCurrent = "diaSource"
  val RubinHistory = "prvDiaSources"

  /** cX = history.X ++ [current.X]; null history treated as empty. */
  def concatCol(df: DataFrame, column: String, prefix: String = "c",
      current: String = ZtfCurrent, history: String = ZtfHistory): DataFrame =
    withHistory(df, Seq(column), prefix, current, history)

  /** concatCol over several fields, in one projection. The empty-history
    * element types come from `df.schema` (the type `history.X` extracts
    * to), read once for all fields.
    */
  def withHistory(df: DataFrame, columns: Seq[String], prefix: String = "c",
      current: String = ZtfCurrent, history: String = ZtfHistory): DataFrame = {
    val hist = df.schema(history).dataType.asInstanceOf[ArrayType]
    val entry = hist.elementType.asInstanceOf[StructType]
    WithColumns(df, columns.map { c =>
      val f = entry(c)
      val extracted = ArrayType(f.dataType, hist.containsNull || f.nullable)
      prefix + c -> concat(
        coalesce(col(s"$history.$c"), array().cast(extracted)),
        array(col(s"$current.$c")))
    })
  }

  /** Count of real detections in a measurement array: entries that are
    * neither null (absent) nor NaN (upper limit). Matches the reference's
    * `np.sum(np.array(x) == np.array(x))` (ztf/nalerthist/processor.py:66).
    */
  def detectionCount(arr: Column): Column =
    size(filter(arr, x => x.isNotNull && !isnan(x)))

  /** Spark-NaN-safe numeric predicate guard: true iff c is a real number. */
  def isReal(c: Column): Column = c.isNotNull && !isnan(c)
}
