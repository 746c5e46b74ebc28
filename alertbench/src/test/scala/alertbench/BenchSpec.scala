package alertbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own helpers: seeded inputs, the tail-percentile
  * rule and the order-independent digest.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", 3L)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Canonical bytes of generated rows: Row.toString renders every
    * nested value, and NaN and null render distinctly.
    */
  private def bytes(rows: Seq[Row]): Array[Byte] =
    rows.map(_.toString).mkString("\n").getBytes("UTF-8")

  test("the same seed gives byte-identical alerts and catalogs") {
    val a = Gen.alerts(7L, 300)
    val b = Gen.alerts(7L, 300)
    assert(bytes(a.toSeq) sameElements bytes(b.toSeq))
    assert(Gen.xmatchCatalog(7L, a, 500) == Gen.xmatchCatalog(7L, b, 500))
    assert(bytes(Gen.blazarCatalog(7L, a)) sameElements bytes(Gen.blazarCatalog(7L, b)))
  }

  test("a different seed gives different alerts") {
    assert(!(bytes(Gen.alerts(7L, 300).toSeq) sameElements bytes(Gen.alerts(8L, 300).toSeq)))
  }

  test("the same seed gives byte-identical corpora; another seed does not") {
    val (d1, b1) = Gen.corpus(3L, 400, 20)
    val (d2, b2) = Gen.corpus(3L, 400, 20)
    val (d3, _) = Gen.corpus(4L, 400, 20)
    assert(bytes(d1.toSeq ++ b1) sameElements bytes(d2.toSeq ++ b2))
    assert(!(bytes(d1.toSeq) sameElements bytes(d3.toSeq)))
  }

  test("generated alerts carry upper limits as null and NaN, and a spread of history lengths") {
    val a = Gen.alerts(11L, 2000)
    val hist = a.map(_.getSeq[Row](3))
    val mags = hist.flatMap(_.map(_.get(4)))
    assert(mags.count(_ == null) > 0)
    assert(mags.count(m => m != null && m.asInstanceOf[Float].isNaN) > 0)
    val lengths = hist.map(_.length)
    assert(lengths.min == 0 && lengths.max >= 50)
  }

  test("the tail percentile keeps at least ten samples beyond it and is never the maximum") {
    val xs = (1 to 100).map(_.toDouble)
    // 100 samples: p90 has exactly 10 beyond it, p95 only 5
    assert(Stats.tail(xs).map(_._1).contains(90))
    assert(Stats.tail(xs).get._2 < xs.max)
    // 1000 samples support p99 (10 beyond)
    assert(Stats.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(99))
    // 99 samples: p90 leaves 9 beyond, so fall back to p75
    assert(Stats.tail((1 to 99).map(_.toDouble)).map(_._1).contains(75))
    // too few samples for any tail
    assert(Stats.tail((1 to 39).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 40).map(_.toDouble)).map(_._1).contains(75))
  }

  test("quantile interpolates between ranks") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("the digest ignores row and partition order and adds up over parts") {
    val rows = Gen.alerts(5L, 200).toSeq
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), Gen.alertSchema)
      .withColumn("m", map(lit("k"), col("candid")))
    val shuffled = df.repartition(7).orderBy(rand(1L))
    val whole = Digest.of(df)
    assert(whole.rows == 200)
    assert(Digest.of(shuffled) == whole)
    assert(Digest.of(df.coalesce(1)) == whole)
    val parts = Seq(df.filter(col("candid") % 2 === 0), df.filter(col("candid") % 2 =!= 0))
    assert(parts.map(Digest.of(_)).reduce(_ + _) == whole)
  }

  test("the digest sees a changed value") {
    val df = spark.range(100).toDF("id").withColumn("x", col("id") * 2)
    val changed = df.withColumn("x", when(col("id") === 42, 0L).otherwise(col("x")))
    assert(Digest.of(df) != Digest.of(changed))
  }
}
