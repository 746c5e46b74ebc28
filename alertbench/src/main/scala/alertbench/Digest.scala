package alertbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent row digest: the row count plus the sums of the low
  * and high 32-bit halves of a 64-bit hash of every column. Sums do not
  * depend on row or partition order, and digests of disjoint parts add
  * up to the digest of the whole, so per-batch stream digests can be
  * compared with one batch digest over the same rows.
  */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, lo + o.lo, hi + o.hi)
  override def toString: String = f"$rows:$lo%x:$hi%x"
}

object Digest {
  val zero: Digest = Digest(0L, 0L, 0L)

  /** Spark cannot hash map columns; render them (and any struct or
    * array holding one) as JSON first, which is deterministic for a
    * given map.
    */
  private def hashable(c: Column, t: DataType): Column =
    if (holdsMap(t)) to_json(if (t.isInstanceOf[MapType]) c else struct(c)) else c

  private def holdsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => holdsMap(e)
    case s: StructType => s.fields.exists(f => holdsMap(f.dataType))
    case _ => false
  }

  /** One hash per row over all columns, in column order. */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType)): _*)

  /** Runs `df` to completion and reduces it to its digest. With spans
    * on, the query's planning phases (QueryPlanningTracker) are recorded
    * as `spark.<phase>` spans.
    */
  def of(df: DataFrame, spans: Spans = Spans.inert): Digest = {
    val agg = df.select(rowHash(df).as("__h"))
      .agg(count(lit(1)),
        coalesce(sum(col("__h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("__h"), 32)), lit(0L)))
    // collect runs `agg`'s own QueryExecution (head would plan a new
    // one with a limit on top), so its tracker holds every phase
    val r = spans("execute")(agg.collect().head)
    if (spans.on) agg.queryExecution.tracker.phases.foreach { case (phase, p) =>
      spans.add(s"spark.$phase", p.durationMs * 1000000L)
    }
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
