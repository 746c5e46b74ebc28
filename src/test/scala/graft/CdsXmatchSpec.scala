package graft

import org.apache.spark.sql.functions._

import graft.xmatch.{Catalogs, CdsXmatch, CrossMatch, UnreachableXmatchService, XmatchService}

class CdsXmatchSpec extends SparkSpec {

  private val catalogDir = "/root/reference/fink_science/data/catalogs"

  test("offline service yields the Fail sentinel for every alert") {
    ReferenceFixtures.assumePresent("data/alerts/datatest")
    val alerts = spark.read.parquet("/root/reference/fink_science/data/alerts/datatest")
    val out = CdsXmatch.xmatchCds(spark, alerts, UnreachableXmatchService, "simbad")
    assert(out.filter(col("main_type") === "Fail").count() === 124)
  }

  test("mock service: closest match wins, unmatched get Unknown") {
    import spark.implicits._
    val alerts = Seq((1L, 10.0, 10.0), (2L, 50.0, -20.0)).toDF("candid", "ra", "dec")
    val mock = new XmatchService {
      def query(rows: Seq[(Long, Double, Double)], catalog: String,
          radius: Double, cols: Seq[String]) =
        // two matches for alert 1 (second closer), none for alert 2
        Seq(
          (1L, 0.9, Map("main_type" -> "FarThing")),
          (1L, 0.2, Map("main_type" -> "NearThing")))
    }
    val out = CdsXmatch.xmatchCds(spark, alerts, mock, "simbad",
      idCol = "candid", raCol = "ra", decCol = "dec")
      .select("candid", "main_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "NearThing", 2L -> "Unknown"))
  }

  test("the module is row-local: it streams and returns the batch result") {
    import spark.implicits._
    val alerts = (1L to 9L).map(i => (i, 10.0 * i, -5.0 * i)).toDF("candid", "ra", "dec")
    val mock = new XmatchService {
      def query(rows: Seq[(Long, Double, Double)], catalog: String,
          radius: Double, cols: Seq[String]) =
        rows.filter(_._1 % 3 != 0).flatMap(r => Seq(
          (r._1, 0.7, Map("main_type" -> s"Far${r._1}")),
          (r._1, 0.1, Map("main_type" -> s"Near${r._1}"))))
    }
    val module: graft.streaming.AlertPipeline.Module = df =>
      CdsXmatch.xmatchCds(spark, df, mock, "simbad",
        idCol = "candid", raCol = "ra", decCol = "dec")
    def pairs(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => r.getLong(0) -> r.getString(3)).sortBy(_._1)
    val batch = pairs(module(alerts).collect().toSeq)
    assert(batch === (1L to 9L).map(i => i -> (if (i % 3 == 0) "Unknown" else s"Near$i")))

    val dir = java.nio.file.Files.createTempDirectory("cds-stream").toString
    alerts.repartition(3).write.mode("overwrite").parquet(dir)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val stream = spark.readStream.schema(alerts.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = graft.streaming.AlertPipeline.runOnce(stream, module,
      (b, _) => b.collect().foreach(got.add))
    q.awaitTermination(300000)
    assert(q.exception.isEmpty, q.exception.toString)
    assert(pairs(got.toArray(Array.empty[org.apache.spark.sql.Row]).toSeq) === batch)
  }

  test("3hsp golden: doctest coordinate matches its source at 1.5 arcsec") {
    ReferenceFixtures.assumePresent(s"$catalogDir/3hsp.csv")
    import spark.implicits._
    val fake = Seq(("4", 0.31820833, 29.59277778), ("1", 26.8566983, -26.9677112))
      .toDF("id", "ra", "dec")
    val (cat, ra, dec, lab) = Catalogs.threeHsp(spark, s"$catalogDir/3hsp.csv")
    assert(cat.count() > 100)
    val got = CrossMatch.label(fake, cat, 1.5, "id", "ra", "dec", ra, dec, lab, "out")
      .select("id", "out").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("4") === "3HSPJ000116.4+293534")
    assert(got("1") === "Unknown")
  }

  test("4lac golden: doctest coordinate matches its source at 60 arcsec") {
    ReferenceFixtures.assumePresent(s"$catalogDir/table-4LAC-DR3-h.fits",
      s"$catalogDir/table-4LAC-DR3-l.fits")
    import spark.implicits._
    val fake = Seq(("3", 0.3126, 47.6859), ("2", 101.3520545, 24.5421872))
      .toDF("id", "ra", "dec")
    val (cat, ra, dec, lab) = Catalogs.fourLac(spark,
      s"$catalogDir/table-4LAC-DR3-h.fits", s"$catalogDir/table-4LAC-DR3-l.fits")
    assert(cat.count() > 100)
    val got = CrossMatch.label(fake, cat, 60.0, "id", "ra", "dec", ra, dec, lab, "out")
      .select("id", "out").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("3") === "4FGL J0001.2+4741")
    assert(got("2") === "Unknown")
  }
}
