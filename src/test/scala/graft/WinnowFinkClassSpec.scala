package graft

import org.apache.spark.sql.functions._

import graft.operators.{FinkClassification, HostlessDetection}
import graft.text.Winnow

class WinnowFinkClassSpec extends SparkSpec {

  test("winnowing guarantees shared fingerprints for long shared substrings") {
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val a = Winnow.fingerprints("prefix text " + shared + " suffix one")
    val b = Winnow.fingerprints("other start " + shared + " different end")
    val c = Winnow.fingerprints("completely unrelated content with no overlap at all here")
    assert(Winnow.similarity(a, b) > 0.3)
    assert(Winnow.similarity(a, c) < 0.15)
    assert(Winnow.similarity(a, a) === 1.0)
  }

  test("overlapPairs: a lifted span pairs source and host; boilerplate prunes; counts match the kernel") {
    import spark.implicits._
    val span = "the quick brown fox jumps over the lazy dog again and again"
    val boiler = "standard footer all rights reserved"
    // doc 0 and 1 share the span; 2 is unrelated; 3..12 all share only
    // the boilerplate, which exceeds maxDf=5 and must not pair anyone
    val rows = Seq(
      (0L, s"prefix text $span suffix one $boiler"),
      (1L, s"other start $span different end $boiler"),
      (2L, s"completely unrelated content with no overlap at all here $boiler")) ++
      (3L to 12L).map(i => (i, s"host document number $i body $boiler"))
    val df = rows.toDF("doc_id", "text")
    val got = Winnow.overlapPairs(df, "doc_id", "text",
        minShared = 2, maxDf = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // brute-force expectation from the kernel under the same prune
    val fps = rows.map { case (id, t) => id -> Winnow.fingerprints(t).toSet }
    val dfc = fps.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    val pruned = fps.map { case (id, s) =>
      id -> s.filter(h => dfc(h) <= 5) }.toMap
    val expected = (for {
      (a, sa) <- pruned; (b, sb) <- pruned if a < b
      shared = (sa & sb).size if shared >= 2
    } yield (a, b) -> (shared.toLong,
      shared.toDouble / math.min(sa.size, sb.size))).toMap
    assert(got === expected, s"got $got expected $expected")
    assert(got.contains((0L, 1L)), "the lifted span must pair its docs")
    assert(!got.keys.exists(p => p._1 >= 3L),
      "boilerplate-only hosts must not pair (maxDf prune)")
    // the 3..12 docs DO share their 'host document number ... body'
    // frame too — if that survives the prune the assertion above
    // would fail, so its absence also witnesses the df computation
  }

  test("sampledOverlapPairs is EXACTLY overlapPairs restricted to sampled endpoints (thinned-view contract)") {
    import spark.implicits._
    // 20 families x 3 docs sharing a family-unique span (real pairs),
    // plus 12 docs sharing ONLY a boilerplate sentence with full df 12
    // > maxDf 8 — pruned in the exact statement. The discriminating
    // construction: at rateInv=2 the SAMPLED boilerplate df is ~6 <=
    // maxDf, so a re-derived prune (the d23 degeneracy shape) would
    // KEEP the boilerplate and pair the sampled hosts — pairs the
    // exact statement never emits. Set-equality over full tuples
    // (n_shared AND overlap) proves the full-corpus prune + sizes.
    def span(f: Int) = s"family $f carries its own unique shared span " +
      s"of words alpha$f beta gamma delta epsilon zeta eta theta"
    val boiler = "standard footer all rights reserved by the host " +
      "corporation in perpetuity throughout the universe"
    val rows = (0 until 20).flatMap { f =>
      (0 until 3).map(j =>
        ((f * 3 + j).toLong, s"doc ${f}_$j prefix ${span(f)} suffix $j"))
    } ++ (100L until 112L).map(i => (i, s"host number $i body $boiler"))
    val df = rows.toDF("doc_id", "text")
    type Pair = (Long, Long, Long, Double)
    def tup(r: org.apache.spark.sql.Row): Pair =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val exact = Winnow.overlapPairs(df, "doc_id", "text",
      minShared = 2, maxDf = 8).collect().map(tup).toSet
    assert(exact.nonEmpty)
    assert(!exact.exists(p => p._1 >= 100L),
      "precondition: boilerplate-only hosts must not pair in the exact run")
    for (r <- Seq(2, 3)) {
      val keep = df.where(graft.dedup.Dedup.sampleKeep("doc_id", r))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val sampledHosts = keep.count(_ >= 100L)
      info(s"r=$r: ${keep.size} docs sampled, $sampledHosts of 12 hosts" +
        (if (sampledHosts <= 8) " — re-derived df <= maxDf: this rate " +
          "DISCRIMINATES the full-corpus prune from a re-derived one"
         else ""))
      val restricted = exact.filter(p =>
        keep.contains(p._1) && keep.contains(p._2))
      val got = Winnow.sampledOverlapPairs(df, "doc_id", "text", r,
        minShared = 2, maxDf = 8).collect().map(tup).toSet
      assert(restricted.nonEmpty, s"vacuous at r=$r")
      assert(got === restricted,
        s"r=$r: missing=${(restricted -- got).take(3)} " +
          s"extra=${(got -- restricted).take(3)}")
    }
  }

  test("overlapTopK equals the ranked symmetrized overlap report") {
    import spark.implicits._
    val span = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (0L, s"prefix text $span suffix one"),
      (1L, s"other start $span different end"),
      (2L, s"third host carrying $span inside it"),
      (3L, s"fourth body with $span and extra words"),
      (4L, "completely unrelated content with no overlap at all here"))
    val df = rows.toDF("doc_id", "text")
    val pairs = Winnow.overlapPairs(df, "doc_id", "text",
        minShared = 2, maxDf = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = pairs.flatMap { case (d1, d2, ns, ov) =>
      Seq((d1, d2, ns, ov), (d2, d1, ns, ov))
    }.groupBy(_._1).values.flatMap(es =>
      es.sortBy(e => (-e._4, -e._3, e._2)).take(2)).toSet
    val got = Winnow.overlapTopK(df, "doc_id", "text", topK = 2,
        minShared = 2, maxDf = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === expected)
    assert(got.groupBy(_._1).values.forall(_.size <= 2))
    // the span-sharing docs each have 3 qualifying partners, so the
    // top-2 cut must actually bind somewhere
    assert(pairs.length * 2 > got.size, "cut never bound — weak test data")
  }

  test("winnowing is deterministic and position-robust") {
    val t = "some document text for fingerprinting purposes"
    assert(Winnow.fingerprints(t).toSeq === Winnow.fingerprints(t).toSeq)
    assert(Winnow.fingerprints("x").isEmpty === false || Winnow.fingerprints("x").isEmpty)
    assert(Winnow.fingerprints("").isEmpty)
  }

  test("fink classification cascade over the hostless fixture") {
    ReferenceFixtures.assumePresent("data/alerts/hostless_detection/part-0-0-435829.parquet")
    val df = spark.read.parquet(
      "/root/reference/fink_science/data/alerts/hostless_detection/part-0-0-435829.parquet")
    val out = FinkClassification(df)
    val classes = out.groupBy("finkclass").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(classes.values.sum === 72)
    // this curated hostless sample is all transient candidates
    assert(classes.keys.forall(_.nonEmpty))
  }

  test("gated hostless runs with computed finkclass (end-to-end DAG)") {
    ReferenceFixtures.assumePresent("data/alerts/hostless_detection/part-0-0-435829.parquet")
    val df = spark.read.parquet(
      "/root/reference/fink_science/data/alerts/hostless_detection/part-0-0-435829.parquet")
    val withClass = FinkClassification(df)
      .withColumn("tnsclass", lit("Unknown"))
      .withColumn("cmagpsf", transform(col("prv_candidates"),
        c => c.getField("magpsf")))
    val out = HostlessDetection.gated(spark, withClass,
      finkClasses = Seq("SN candidate", "Early SN Ia candidate", "Kilonova candidate"),
      tnsClasses = Seq("SN", "SN Ia"), iterations = 50)
    val res = out.select(col("kstest_static")).collect()
    assert(res.length === 72)
    val processed = res.count(_.getSeq[Float](0)(2) == 1.0f)
    assert(processed >= 0 && processed <= 72)
  }
}
