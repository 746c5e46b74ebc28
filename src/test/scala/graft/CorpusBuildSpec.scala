package graft

import org.apache.spark.sql.functions._

import graft.text.{CorpusBuild, Decontaminate, TextOps}
import graft.dedup.Dedup

/** Structural invariants of the composed corpus-construction chain
  * (the p1 oracle query does the value-level verification at sf0.01;
  * these pin the CONTRACT stage by stage on sf0.001).
  */
class CorpusBuildSpec extends SparkSpec {

  private lazy val all = Tables.t(spark, sf, "documents")
  private lazy val corpus = all.filter(col("doc_id") % 97 =!= 0)
  private lazy val bench = all.filter(col("doc_id") % 97 === 0)
  private lazy val out = CorpusBuild.build(corpus, bench, "doc_id", "text",
    "source", maxHamming = 4, ngram = 4, budgetTokens = 2000L,
    requireTerminal = false).cache()

  test("output is nonempty, one row per retained doc, no bench doc") {
    assert(out.count() > 0)
    assert(out.select("doc_id").distinct().count() === out.count())
    assert(out.filter(col("doc_id") % 97 === 0).count() === 0L)
  }

  test("every retained doc passed the quality cascade") {
    val (keep, _) = TextOps.qualityFilter(col("text"), requireTerminal = false)
    val dropped = corpus.filter(!keep).select("doc_id")
    assert(out.join(dropped, "doc_id").count() === 0L)
  }

  test("every retained doc is its own cluster representative") {
    val (keep, _) = TextOps.qualityFilter(col("text"), requireTerminal = false)
    val clusters = Dedup.dedupPipeline(corpus.filter(keep), "doc_id", "text", 4)
    val nonReps = clusters.filter(col("cluster") =!= col("doc_id")).select("doc_id")
    assert(out.join(nonReps, "doc_id").count() === 0L)
  }

  test("no retained doc shares an n-gram with the benchmark set") {
    val unioned = out.select(col("doc_id")).join(all, "doc_id")
      .select(col("doc_id"), col("text"), lit(false).as("b"))
      .unionByName(bench.select(col("doc_id"), col("text"), lit(true).as("b")))
    val contaminated = Decontaminate.flags(unioned, "doc_id", "text",
      col("b"), 4).filter(col("contaminated"))
    assert(contaminated.count() === 0L)
  }

  test("shards are token-bounded: no shard except a group's last holds under-budget slack after a full doc") {
    // the packing contract (shard = floor(preceding mass / budget))
    // means a doc's shard times budget never exceeds the preceding
    // cumulative mass — re-derive and compare
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val re = out.withColumn("cum", sum("n_tokens").over(w))
      .withColumn("expect",
        floor((col("cum") - col("n_tokens")) / lit(2000L)).cast("long"))
    assert(re.filter(col("shard") =!= col("expect")).count() === 0L)
  }

  test("earliestAdmissions: earliest copy per fingerprint, ts ties to the smaller doc_id, rejects never admitted") {
    val s = spark
    import s.implicits._
    val fox = "the quick brown fox jumps over lazy dogs"
    val owl = "an old grey owl watched seven quiet fields"
    val elk = "seventeen travelling merchants carried woollen blankets across mountains"
    val elkSpaced = "  seventeen travelling  merchants carried woollen blankets across mountains "
    val docs = Seq(
      (1L, "too short", 0L),                  // quality-rejected, yet earliest
      (2L, fox, 200L), (7L, fox, 100L),       // smaller ts beats smaller id
      (4L, owl, 300L), (9L, owl, 300L),       // ts tie: smaller doc_id
      (11L, elkSpaced, 400L), (12L, elk, 500L) // whitespace variants
    ).toDF("doc_id", "text", "t").withColumn("ts", timestamp_millis(col("t")))
    val (keep, _) = TextOps.qualityFilter(col("text"), requireTerminal = false)
    assert(docs.filter(!keep).select("doc_id").as[Long].collect().toSeq === Seq(1L))

    val out = CorpusBuild.earliestAdmissions(docs, "doc_id", "text", "ts",
      requireTerminal = false)
    assert(out.columns.toSeq === Seq("doc_id", "fp", "ts_ms", "simhash"))
    def md5(t: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = out.as[(Long, String, Long, Long)].collect().toSet
    assert(got === Set(
      (7L, md5(fox), 100L, Dedup.simhashKernel(fox)),
      (4L, md5(owl), 300L, Dedup.simhashKernel(owl)),
      (11L, md5(elk), 400L, Dedup.simhashKernel(elkSpaced))))
  }

  test("stage-materialized builds (Local and Table) return the lazy rows") {
    import graft.dedup.SweepCheckpoint
    def run(m: SweepCheckpoint): Set[(Long, String, Long, Long)] =
      CorpusBuild.build(corpus, bench, "doc_id", "text", "source",
        maxHamming = 4, ngram = 4, budgetTokens = 2000L,
        requireTerminal = false, stageMaterialize = Some(m))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    val lazyRows = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val dir = java.nio.file.Files.createTempDirectory("cb_tbl").toString
    assert(run(SweepCheckpoint.Local) === lazyRows)
    assert(run(SweepCheckpoint.Table(dir)) === lazyRows)
    // intermediate boundaries are freed; only the final clean table
    // (which backs the returned frame) remains on disk
    val stages = new java.io.File(s"$dir/stages").listFiles()
      .map(_.getName).filter(_.startsWith("sweep_")).toSet
    assert(stages === Set("sweep_2"))
  }

  test("the materialized result's plan never rescans the input relation") {
    import graft.dedup.SweepCheckpoint
    val m = CorpusBuild.build(corpus, bench, "doc_id", "text", "source",
      maxHamming = 4, ngram = 4, budgetTokens = 2000L,
      requireTerminal = false,
      stageMaterialize = Some(SweepCheckpoint.Local))
    val plan = m.queryExecution.optimizedPlan.toString
    // under Local the final boundary is an in-memory checkpoint: the
    // returned plan is one packing pass over it — no file scan at all
    assert(!plan.toLowerCase.contains("parquet"),
      s"materialized plan still scans a file source:\n$plan")
    // the lazy default, by contrast, does reference the input relation
    val lzy = out.queryExecution.optimizedPlan.toString
    assert(lzy.toLowerCase.contains("parquet"))
  }
}
