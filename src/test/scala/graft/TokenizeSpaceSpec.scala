package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, StringSplit}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TokenizeSpace

/** The native TokenizeSpace kernel must be bit-identical to
  * `split(lower(text), " ")` — including empty/all-space inputs (the
  * regex split keeps leading/inner/trailing empty tokens at limit -1),
  * Unicode lowercasing (ß, dotted İ, emoji pass-through), and null
  * propagation — and schema-identical (array element nullability).
  */
class TokenizeSpaceSpec extends SparkSpec {

  private val edge: Seq[String] = Seq(
    "", " ", "  ", "a", "a b", "a  b", " a", "a ", " a b ",
    "UPPER Case MiXeD", "ß SS İ i ǅ", "emoji 😀 ✓ mixé",
    "tab\tstays one\ntoken", "trailing space ", null)

  test("kernel equals split(lower(text), ' ') on edge and fuzz corpora") {
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(41)
    val alphabet = "aB c Déß😀  Z"
    val fuzz = (0 until 300).map(_ => (0 until rnd.nextInt(60))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val data = (edge ++ fuzz).zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row(i.toLong, t)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("t",
        org.apache.spark.sql.types.StringType)))
    val df = spark.createDataFrame(data.asJava, schema)
    val got = df.select(col("id"),
        TokenizeSpace(col("t")).as("a"),
        TokenizeSpace.pinned(col("t")).as("p"),
        split(lower(col("t")), " ").as("b"))
      .collect()
    got.foreach { r =>
      val a = if (r.isNullAt(1)) null else r.getSeq[String](1)
      val p = if (r.isNullAt(2)) null else r.getSeq[String](2)
      val b = if (r.isNullAt(3)) null else r.getSeq[String](3)
      assert(a === b, s"kernel diverged on row ${r.getLong(0)}")
      assert(p === b, s"pinned kernel diverged on row ${r.getLong(0)}")
    }
  }

  test("schema matches the builtin chain exactly") {
    import spark.implicits._
    val df = Seq("x y").toDF("t")
    val builtin = df.select(split(lower(col("t")), " ").as("toks")).schema
    val kernel = df.select(TokenizeSpace(col("t")).as("toks")).schema
    assert(kernel === builtin, s"schema diverged: $kernel vs $builtin")
  }

  test("the pinned form keeps the tokenize out of scan data filters") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("toksp").toString
    Seq((1L, "a b c"), (2L, "d e f")).toDF("id", "t")
      .write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)
    // the data filters of the plan's parquet scans, as expressions
    def scanFilters(tok: org.apache.spark.sql.Column): Seq[Expression] = {
      val scans = base.select(col("id"), tok.as("toks"))
        .select(col("id"), explode(col("toks")).as("tk"))
        .queryExecution.sparkPlan
        .collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, "the plan has no parquet scan")
      scans.flatMap(_.dataFilters)
    }
    // builtin: InferFiltersFromGenerate + pushdown re-tokenizes in the
    // scan's data filter; the pinned kernel must not appear there
    val pinned = scanFilters(TokenizeSpace.pinned(col("t")))
    assert(!pinned.exists(_.exists(_.isInstanceOf[TokenizeSpace])),
      s"pinned tokenize leaked into scan filters: $pinned")
    val builtin = scanFilters(split(lower(col("t")), " "))
    assert(builtin.exists(_.exists(_.isInstanceOf[StringSplit])),
      "test premise: the builtin chain is expected to re-tokenize in " +
        s"the pushed filter; filters were: $builtin")
  }
}
