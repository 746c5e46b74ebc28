package graft

import org.apache.spark.sql.functions._

import graft.kernels.PhaseCurve
import graft.operators.Ssoft

class SsoftSpec extends SparkSpec {

  val fixture =
    "/root/reference/fink_science/data/alerts/sso_ztf_lc_aggregated_202504_three_obj.parquet"

  test("HG1G2 basis hits the published Muinonen knot values") {
    import graft.kernels.PhaseCurve.hg1g2Basis
    val d2r = math.Pi / 180.0
    def at(deg: Double) = hg1g2Basis(deg * d2r)
    // linear parts (exact published forms)
    assert(math.abs(at(0.0)._1 - 1.0) < 1e-12)
    assert(math.abs(at(0.0)._2 - 1.0) < 1e-12)
    assert(math.abs(at(0.0)._3 - 1.0) < 1e-12)
    assert(math.abs(at(7.5)._1 - 0.75) < 1e-12)
    assert(math.abs(at(7.5)._2 - 0.925) < 1e-12)
    // spline knot values (published constants)
    assert(math.abs(at(30.0)._1 - 3.3486016e-1) < 1e-9)
    assert(math.abs(at(30.0)._2 - 6.2884169e-1) < 1e-9)
    assert(math.abs(at(60.0)._1 - 1.3410560e-1) < 1e-9)
    assert(math.abs(at(4.0)._3 - 2.3174230e-1) < 1e-9)
    assert(math.abs(at(12.0)._3 - 6.1733473e-2) < 1e-9)
    assert(at(30.0)._3 === 0.0)
    assert(at(150.0)._1 === 0.0)
    // monotone decreasing over the ZTF phase range
    val grid = (0 to 300).map(_ * 0.1)
    for (Seq(a, b) <- grid.sliding(2)) {
      val (p1a, p2a, p3a) = at(a); val (p1b, p2b, p3b) = at(b)
      assert(p1b <= p1a + 1e-12 && p2b <= p2a + 1e-12 && p3b <= p3a + 1e-12, s"$a->$b")
    }
  }

  test("HG fit recovers synthetic phase-curve parameters") {
    val h = 14.2; val g = 0.18
    val alpha = (1 to 60).map(i => math.toRadians(i * 0.4)).toArray
    val mag = alpha.map(a => PhaseCurve.hgMag(h, g, a))
    val sigma = Array.fill(alpha.length)(0.02)
    val r = PhaseCurve.fitHG(alpha, mag, sigma)
    assert(math.abs(r.params(0) - h) < 0.01, s"H: ${r.params(0)}")
    assert(math.abs(r.params(1) - g) < 0.02, s"G: ${r.params(1)}")
    assert(r.chi2red < 1e-6)
  }

  test("HG1G2 fit runs and respects bounds") {
    val alpha = (1 to 60).map(i => math.toRadians(i * 0.4)).toArray
    val mag = alpha.map(a => PhaseCurve.hg1g2Mag(14.0, 0.3, 0.2, a))
    val r = PhaseCurve.fitHG1G2(alpha, mag, Array.fill(alpha.length)(0.02))
    assert(math.abs(r.params(0) - 14.0) < 0.05)
    assert(r.params(1) >= 0 && r.params(1) <= 1)
    assert(r.params(2) >= 0 && r.params(2) <= 1)
  }

  test("sHG1G2 spin fit recovers synthetic spin parameters") {
    val rng = new java.util.Random(5L)
    val n = 120
    val phase = Array.fill(n)(math.toRadians(rng.nextDouble() * 25))
    val ra = Array.fill(n)(rng.nextDouble() * 2 * math.Pi)
    val dec = Array.fill(n)(math.toRadians(rng.nextDouble() * 60 - 30))
    val band = Array.tabulate(n)(i => 1 + i % 2)
    val truth = Array(14.0, 14.4, 0.25, 0.2, 0.6, 2.0, 0.3)
    val mag = Array.tabulate(n) { i =>
      PhaseCurve.shg1g2Mag(if (band(i) == 1) truth(0) else truth(1),
        truth(2), truth(3), truth(4), truth(5), truth(6),
        phase(i), ra(i), dec(i))
    }
    val sigma = Array.fill(n)(0.02)
    val r = PhaseCurve.fitSHG1G2(phase, ra, dec, band, mag, sigma)
    assert(math.abs(r.params(0) - truth(0)) < 0.1, s"H_g: ${r.params(0)}")
    assert(math.abs(r.params(1) - truth(1)) < 0.1, s"H_r: ${r.params(1)}")
    assert(r.params(4) >= 0.1 && r.params(4) <= 1.0)
    assert(r.chi2red < 1.0, s"chi2red: ${r.chi2red}")
  }

  test("SSOFT spin build runs on the 3-object fixture") {
    ReferenceFixtures.assumePresent(fixture)
    val agg = spark.read.parquet(fixture)
    val out = Ssoft.buildWithSpin(spark, agg, nmin = 50)
    val rows = out.select("ssnamenr", "spin.h_g", "spin.oblateness",
      "spin.chi2red", "spin.n_obs").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ob = r.getDouble(2)
      assert(ob.isNaN || (ob >= 0.1 && ob <= 1.0))
      assert(r.getInt(4) >= 10)
    }
  }

  test("SOCCA fit recovers a synthetic rotating-ellipsoid curve") {
    val rng = new java.util.Random(11L)
    val n = 160
    val phase = Array.fill(n)(math.toRadians(5 + rng.nextDouble() * 20))
    val ra = Array.fill(n)(rng.nextDouble() * 2 * math.Pi)
    val dec = Array.fill(n)(math.toRadians(rng.nextDouble() * 60 - 30))
    val band = Array.tabulate(n)(i => 1 + i % 2)
    val jdLt = Array.fill(n)(2459000.0 + rng.nextDouble() * 120.0).sorted
    // [H_g, H_r, G1_g, G1_r, G2_g, G2_r, a_b, b/c ratio, phi0,
    //  alpha0, delta0, period_h] (a_c = a_b * ratio = 1.8)
    val truth = Array(15.0, 14.5, 0.15, 0.15, 0.2, 0.2, 1.5, 1.2,
      0.7, 1.0, 0.3, 10.0)
    val t0 = jdLt.min
    val mag = Array.tabulate(n)(i =>
      PhaseCurve.soccaMag(truth, band(i), phase(i), ra(i), dec(i), jdLt(i), t0) +
        rng.nextGaussian() * 0.01)
    val sigma = Array.fill(n)(0.01)
    val r = PhaseCurve.fitSOCCA(phase, ra, dec, band, mag, sigma, jdLt)
    assert(!r.result.chi2red.isNaN, "fit failed")
    // the pure ellipsoid curve is exactly P/2-periodic, so P and P/2
    // are degenerate; the convention reports the doubled photometric
    // period — the planted sidereal value
    assert(math.abs(r.periodH - truth(11)) / truth(11) < 0.02,
      s"period ${r.periodH} vs ${truth(11)}")
    assert(math.abs(r.result.params(6) - truth(6)) < 0.1,
      s"a_b ${r.result.params(6)} vs ${truth(6)}")
    assert(math.abs(r.result.params(7) - truth(7)) < 0.15,
      s"b/c ${r.result.params(7)} vs ${truth(7)}")
    // spin pole within a few degrees (mod the mirror ambiguity)
    val a0 = math.toDegrees(r.result.params(9))
    val d0 = math.toDegrees(r.result.params(10))
    val direct = math.hypot(a0 - math.toDegrees(truth(9)),
      d0 - math.toDegrees(truth(10)))
    val mirror = math.hypot((a0 + 180.0) % 360.0 - math.toDegrees(truth(9)),
      -d0 - math.toDegrees(truth(10)))
    assert(math.min(direct, mirror) < 5.0, s"pole ($a0, $d0)")
    assert(r.result.chi2red < 2.0, s"chi2red ${r.result.chi2red}")
    assert(r.minCosL >= 0 && r.maxCosL <= 1 && r.meanCosL >= r.minCosL)
  }

  test("SOCCA build on the 3-object fixture mirrors the reference doctest structure") {
    assume(new java.io.File(fixture).exists, "fixture absent")
    val agg = spark.read.parquet(fixture)
    val out = Ssoft.buildSocca(spark, agg, nmin = 50)
    val rows = out.select("ssnamenr", "socca.period", "socca.a_b",
      "socca.a_c", "socca.mean_cos_lambda", "socca.n_obs",
      "socca.alpha0", "socca.alpha0_alt", "socca.delta0", "socca.delta0_alt")
      .collect()
    // build_the_ssoft doctest: nmin=50 keeps exactly 2 of the 3 objects
    assert(rows.length === 2, s"expected 2 objects, got ${rows.length}")
    rows.foreach { r =>
      val period = r.getDouble(1)
      assert(!period.isNaN && period > 0.5 && period < 250.0,
        s"${r.getString(0)}: period $period out of the searched range")
      assert(r.getDouble(2) >= 1.0, "a_b must be >= 1 (a >= b)")
      assert(r.getDouble(3) >= 1.0, "a_c must be >= 1 (a >= c)")
      val mcl = r.getDouble(4)
      assert(mcl >= 0.0 && mcl <= 1.0)
      assert(r.getInt(5) >= 50)
      // flipped-pole convention (COLUMNS_SOCCA alpha0_alt/delta0_alt)
      assert(math.abs((r.getDouble(6) + 180.0) % 360.0 - r.getDouble(7)) < 1e-9)
      assert(math.abs(r.getDouble(8) + r.getDouble(9)) < 1e-9)
    }
    // the full COLUMNS_SOCCA surface is present
    val soccaCols = out.select("socca.*").columns.toSet
    for (c <- Seq("period", "period_chi2red", "a_b", "a_c", "phi0",
        "alpha0", "delta0", "alpha0_alt", "delta0_alt", "err_a_b",
        "err_period", "min_cos_lambda", "mean_cos_lambda", "max_cos_lambda"))
      assert(soccaCols.contains(c), s"missing SOCCA column $c")
  }

  test("SSOFT table carries astrometry + per-filter time-lapse stats") {
    ReferenceFixtures.assumePresent(fixture)
    val agg = spark.read.parquet(fixture)
    val out = Ssoft.build(spark, agg, nmin = 50).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val mean = r.getAs[Double]("mean_astrometry")
      val std = r.getAs[Double]("std_astrometry")
      assert(mean >= 0.0 && mean < 10.0) // ZTF astrometry: sub-arcsec-ish
      assert(std >= 0.0)
      assert(r.getAs[Double]("last_jd") > 2.4e6)
      val nd1 = r.getAs[Double]("n_days_1")
      val nd2 = r.getAs[Double]("n_days_2")
      assert(nd1.isNaN || nd1 >= 0.0)
      assert(nd2.isNaN || nd2 >= 0.0)
    }
  }

  test("fixture HG parameters match the independent grid fit (numeric pin)") {
    assume(new java.io.File(fixture).exists, "fixture absent")
    val expected = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readTree(new java.io.File("src/test/resources/ssoft_hg_expected.json"))
    }
    val agg = spark.read.parquet(fixture)
    val rows = Ssoft.build(spark, agg, nmin = 50)
      .select("ssnamenr", "fit_g.h", "fit_g.g", "fit_g.chi2red", "fit_g.n_obs",
        "fit_r.h", "fit_r.g", "fit_r.chi2red", "fit_r.n_obs").collect()
    var checked = 0
    rows.foreach { r =>
      val name = r.getString(0)
      val exp = expected.get(name)
      if (exp != null) {
        Seq(("1", 1, 2, 3, 4), ("2", 5, 6, 7, 8)).foreach { case (band, ih, ig, ic, in) =>
          val e = exp.get(band)
          if (e != null) {
            assert(r.getInt(in) === e.get("n").asInt, s"$name band $band n")
            // tolerances: two unrelated optimizers (Gauss-Newton vs
            // G-grid + exact-H) on the same objective
            assert(math.abs(r.getDouble(ih) - e.get("h").asDouble) < 5e-3,
              s"$name band $band H ${r.getDouble(ih)} vs ${e.get("h").asDouble}")
            assert(math.abs(r.getDouble(ig) - e.get("g").asDouble) < 5e-3,
              s"$name band $band G ${r.getDouble(ig)} vs ${e.get("g").asDouble}")
            assert(math.abs(r.getDouble(ic) - e.get("chi2red").asDouble) /
              e.get("chi2red").asDouble < 1e-3,
              s"$name band $band chi2red")
            checked += 1
          }
        }
      }
    }
    assert(checked === 4, s"pinned $checked band fits")
  }

  test("SSOFT build on the 3-object fixture yields per-band parameters") {
    ReferenceFixtures.assumePresent(fixture)
    val agg = spark.read.parquet(fixture)
    val out = Ssoft.build(spark, agg, nmin = 50)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 3)
    out.select("ssnamenr", "fit_g.h", "fit_g.g", "fit_r.h", "fit_r.chi2red",
      "n_days", "n_measurements").collect().foreach { r =>
      val hG = r.getDouble(1)
      val hR = r.getDouble(3)
      // absolute magnitudes of ZTF asteroids land in a sane range
      assert(hG.isNaN || (hG > 5 && hG < 30), s"H_g=$hG")
      assert(hR.isNaN || (hR > 5 && hR < 30), s"H_r=$hR")
      assert(r.getDouble(5) > 0)
      assert(r.getInt(6) >= 50)
    }
    // schema is typed structs, not strings
    assert(out.schema("fit_g").dataType.typeName === "struct")
  }
}
