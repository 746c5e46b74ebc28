package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators may cache intermediates (shingle/band tables); bound
      // their lifetime to one query so a 52-query session doesn't
      // accumulate block-storage residue
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // q17's VALUES-literal oracle encodes the sf0.01 golden panel (its
    // provenance is the committed golden, md5-keyed to one specific
    // events.parquet). At any OTHER sfDir the literal would
    // deterministically FAIL the SQL compare, so omit it there and let
    // check.py fall back to the golden/rows-only adjudication — the
    // same gate GoldenCheck itself applies (ADVICE r11).
    val oracleEntries = SparkEntry.oracleSql.filter { case (k, _) =>
      k != "q17_cats_class" || GoldenCheck.dataMatchesGolden(sfDir)
    }
    val json = oracleEntries
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // queries with no SQL-expressible oracle get a committed-golden
    // adjudication instead of the rows-only fallback (see GoldenCheck)
    val (status, rows, detail) = GoldenCheck.q17(spark, sfDir, outDir)
    println(s"[verify] golden q17_cats_class: $status" +
      (if (detail.nonEmpty) s" ($detail)" else ""))
    Files.writeString(Paths.get(s"$outDir/golden_check.json"),
      s"""{"q17_cats_class": {"status": ${q(status)}, "rows": $rows, """ +
        s""""detail": ${q(detail)}}}""")
    spark.stop()
  }
}
