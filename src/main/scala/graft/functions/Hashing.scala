package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine-reproducible hashing primitives.
  *
  * The driver's correctness gate re-runs every query in DuckDB, so hash
  * functions must be computable identically there: we use the first 15 hex
  * chars of MD5 (60 bits, always non-negative in a signed 64-bit long) —
  * `CAST('0x' || substr(md5(x),1,15) AS BIGINT)` on the DuckDB side.
  *
  * Where cross-engine parity is not needed (internal LSH bucketing at
  * scale), callers use Spark's codegen'd `xxhash64` directly.
  */
object Hashing {

  /** Seeded 60-bit hash of a string column via MD5; seed is mixed in as a
    * text prefix so each seed gives an independent hash family member.
    */
  def hash60(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), c)), 1, 15), 16, 10)
      .cast("long")

  /** Column-seeded variant (seed computed in-plan, e.g. a plane index):
    * same `md5(seed || ':' || payload)` family as the Int overload.
    */
  def hash60(c: Column, seed: Column): Column =
    conv(substring(md5(concat(seed.cast("string"), lit(":"), c)), 1, 15), 16, 10)
      .cast("long")
}
