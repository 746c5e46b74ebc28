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
