package graft

import org.apache.spark.sql.functions._

import graft.alerts.AlertCols
import graft.kernels.FastTransientKernel
import graft.operators.FastTransientRate

class FastTransientSpec extends SparkSpec {

  val ztfSample = "/root/reference/fink_science/data/alerts/datatest"
  val expectedPath = "src/test/resources/fast_transient_expected.parquet"

  private lazy val enriched = {
    val alerts = spark.read.parquet(ztfSample)
    val withSeries = AlertCols.withHistory(alerts,
      Seq("fid", "magpsf", "sigmapsf", "diffmaglim", "jd"))
    FastTransientRate(spark, withSeries, n = 10000, seed = 2023L)
  }

  test("deterministic fields match the reference kernel row-wise") {
    ReferenceFixtures.assumePresent(ztfSample)
    val got = enriched.select("candid", "jd_first_real_det", "jdstarthist_dt",
      "delta_time", "from_upper")
    // pandas to_parquet stores NaN as null; restore NaN for comparison
    def nn(c: String) = coalesce(col(c), lit(Double.NaN))
    val exp = spark.read.parquet(expectedPath)
      .select(col("candid"),
        nn("jd_first_real_det").as("e_first"),
        nn("jdstarthist_dt").as("e_dt0"),
        nn("delta_time").as("e_dt"),
        (col("from_upper") === 1.0).as("e_up"))
    val j = got.join(exp, "candid")
    assert(j.count() === 124)
    // NaN-safe equality via <=> (Spark treats NaN = NaN inside <=>)
    assert(j.filter(!(col("jd_first_real_det") <=> col("e_first"))).count() === 0)
    assert(j.filter(!(col("jdstarthist_dt") <=> col("e_dt0"))).count() === 0)
    assert(j.filter(!(col("delta_time") <=> col("e_dt"))).count() === 0)
    assert(j.filter(!(col("from_upper") <=> col("e_up"))).count() === 0)
  }

  test("MC statistics are internally consistent and converge") {
    ReferenceFixtures.assumePresent(ztfSample)
    val rows = enriched.select("mag_rate", "sigma_rate", "lower_rate",
      "upper_rate", "delta_time").filter(!isnan(col("mag_rate"))).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, s, lo, hi) = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(lo <= hi)
      assert(s >= 0.0)
      // mean within the 5-95% band (must hold for unimodal MC samples)
      assert(m >= lo - 3 * s && m <= hi + 3 * s)
    }
  }

  test("kernel is deterministic and independent of call order") {
    val a = FastTransientKernel.rate(1, Array(1, 1), Array(18.0, 17.5),
      Array(0.1, 0.1), Array(20.0, 20.0), Array(100.0, 101.0),
      101.0, 90.0, 17.5, 0.1, 1000, 42L)
    val b = FastTransientKernel.rate(1, Array(1, 1), Array(18.0, 17.5),
      Array(0.1, 0.1), Array(20.0, 20.0), Array(100.0, 101.0),
      101.0, 90.0, 17.5, 0.1, 1000, 42L)
    assert(a === b)
    // rising flux (mag decreasing) => negative mag rate
    assert(a.mag_rate < 0)
  }

  test("percentile matches numpy linear interpolation") {
    val arr = Array(1.0, 2.0, 3.0, 4.0)
    assert(FastTransientKernel.percentileSorted(arr, 50.0) === 2.5)
    assert(FastTransientKernel.percentileSorted(arr, 0.0) === 1.0)
    assert(FastTransientKernel.percentileSorted(arr, 100.0) === 4.0)
    assert(math.abs(FastTransientKernel.percentileSorted(arr, 5.0) - 1.15) < 1e-12)
  }
}
