package graft

import scala.io.Source

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.LightCurveFeatures
import graft.alerts.AlertCols
import graft.operators.AdFeatures

/** Golden tests against the reference's own feature fixtures
  * (ztf/ad_features/tests/<id>.csv + .features) at the reference's own
  * 5% tolerance (ad_features/test.py:60-79), comparing the feature names
  * both implementations share.
  */
class LightCurveFeaturesSpec extends AnyFunSuite {

  private val dir = "/root/reference/fink_science/ztf/ad_features/tests"
  private val ids = Seq("536106200014286", "633202300014898", "633211400005684")

  private def readCsv(id: String): (Array[Double], Array[Double], Array[Double]) = {
    val lines = Source.fromFile(s"$dir/$id.csv").getLines().toSeq.tail
    val rows = lines.map(_.split(",")).map(a => (a(0).toDouble, a(1).toDouble, a(2).toDouble))
    val sorted = rows.sortBy(_._1)
    (sorted.map(_._1).toArray, sorted.map(_._2).toArray, sorted.map(_._3).toArray)
  }

  private def readExpected(id: String): Map[String, Double] =
    Source.fromFile(s"$dir/$id.features").getLines()
      .filter(_.contains(": "))
      .map { l => val Array(k, v) = l.split(": "); k -> v.toDouble }.toMap

  ids.foreach { id =>
    test(s"features for $id match the reference goldens within 5%") {
      ReferenceFixtures.assumePresent(s"$dir/$id.csv", s"$dir/$id.features")
      val (t, m, s) = readCsv(id)
      val got = LightCurveFeatures.names.zip(LightCurveFeatures.extract(t, m, s)).toMap
      val expected = readExpected(id)
      val shared = got.keySet.intersect(expected.keySet)
      assert(shared.size >= 18, s"too few shared features: $shared")
      val errors = shared.flatMap { k =>
        val (e, g) = (expected(k), got(k))
        val tol = math.abs(g / 100 * 5)
        val diff = if (e < 0 && g < 0) math.abs(e - g) else math.abs(e - g)
        if (diff < math.max(tol, 1e-9)) None else Some(s"$k: expected $e got $g")
      }
      assert(errors.isEmpty, errors.mkString("; "))
    }
  }

  test("alert-level extraction yields per-band maps, i-band dropped") {
    ReferenceFixtures.assumePresent("data/alerts/datatest")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    val alerts = spark.read.parquet("/root/reference/fink_science/data/alerts/datatest")
    val series = AlertCols.withHistory(alerts,
      Seq("magpsf", "jd", "sigmapsf", "fid", "distnr", "magnr", "sigmagnr", "isdiffpos"))
    val out = AdFeatures(spark, series)
    val rows = out.select(col("cfid"), col("cmagpsf"), col("csigmapsf"),
      col("lc_features")).limit(10).collect()
    rows.foreach { r =>
      val fids = r.getSeq[Integer](0)
      val mags = r.getSeq[java.lang.Float](1)
      val sigs = r.getSeq[java.lang.Float](2)
      // bands (g,r) with at least one real (non-upper-limit) measurement
      val expected = fids.indices
        .filter(i => mags(i) != null && sigs(i) != null && fids(i) <= 2)
        .map(i => fids(i).toInt).toSet
      val feats = r.getMap[Int, Map[String, Double]](3)
      assert(feats.keySet === expected)
      feats.values.foreach(f => assert(f.size === 26))
    }
  }
}
