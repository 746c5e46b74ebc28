package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded ZTF-shaped alert packets and matching static catalogs for
  * specs that run the enrichment DAG without the reference fixtures.
  * Carries the subset of the public packet schema the DAG reads; the
  * history shares its measurement fields with `candidate`, so
  * AlertCols.withHistory can concatenate them.
  */
object SyntheticAlerts {

  private val measurement: Seq[StructField] =
    Seq(StructField("jd", DoubleType), StructField("fid", IntegerType),
      StructField("ra", DoubleType), StructField("dec", DoubleType)) ++
      Seq("magpsf", "sigmapsf", "diffmaglim").map(StructField(_, FloatType)) ++
      Seq(StructField("isdiffpos", StringType)) ++
      Seq("magnr", "sigmagnr", "distnr").map(StructField(_, FloatType))

  private val currentOnly: Seq[StructField] =
    Seq(StructField("ndethist", IntegerType), StructField("jdstarthist", DoubleType)) ++
      Seq("rb", "drb", "classtar", "sgscore1", "sgscore2", "sgscore3",
        "distpsnr1", "distpsnr2", "distpsnr3", "sgmag1", "srmag1", "simag1",
        "szmag1", "srmag2", "srmag3", "ssdistnr", "neargaia", "maggaia",
        "neargaiabright", "maggaiabright").map(StructField(_, FloatType))

  val schema: StructType = StructType(Seq(
    StructField("objectId", StringType), StructField("candid", LongType),
    StructField("candidate", StructType(measurement ++ currentOnly)),
    StructField("prv_candidates", ArrayType(StructType(measurement)))))

  private def f(x: Double): java.lang.Float = java.lang.Float.valueOf(x.toFloat)

  /** `n` packets: rising transients (young, short history, so the
    * classifier gates pass), periodic variables and flat sources, with
    * 0–30 history points of which about one in eight is an upper limit
    * (null or NaN magnitude).
    */
  def rows(n: Int, seed: Long = 1L): Seq[Row] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val transient = i % 3 == 0
      val nHist = if (transient) 3 + r.nextInt(8) else r.nextInt(31)
      val t0 = 2460000.0 + r.nextDouble() * 100.0
      val ra = r.nextDouble() * 360.0
      val dec = r.nextDouble() * 120.0 - 60.0
      val base = 17.0 + r.nextDouble() * 3.0
      def point(k: Int, current: Boolean): Seq[Any] = {
        val dt = k * (0.5 + r.nextDouble() * 2.0)
        val m =
          if (transient) base - 2.0 / (1.0 + math.exp(-(dt - 6.0) / 2.0))
          else base + 0.4 * math.sin(dt) + r.nextGaussian() * 0.05
        val upper = !current && r.nextInt(8) == 0
        val (mp, sp) =
          if (!upper) (f(m), f(0.03 + r.nextDouble() * 0.05))
          else if (r.nextBoolean()) (f(Double.NaN), f(Double.NaN))
          else (null, null)
        Seq(t0 + dt, 1 + (k % 2), ra, dec, mp, sp, f(20.5),
          if (upper) null else if (r.nextInt(10) < 8) "t" else "f",
          f(15.0 + r.nextDouble() * 5.0), f(0.05), f(r.nextDouble() * 3.0))
      }
      val history = (0 until nHist).map(k => Row.fromSeq(point(k, current = false)))
      val current = point(nHist, current = true) ++ Seq(
        if (transient) nHist + 1 else 30 + r.nextInt(200),
        if (transient) t0 - 1.0 else t0 - 400.0,
        f(0.6 + r.nextDouble() * 0.4), f(0.9 + r.nextDouble() * 0.1),
        f(r.nextDouble())) ++
        Seq.fill(3)(f(r.nextDouble() * 0.5)) ++
        Seq.fill(3)(f(5.0 + r.nextDouble() * 20.0)) ++
        Seq.fill(6)(f(17.0 + r.nextDouble() * 4.0)) ++
        Seq(f(-999.0), f(5.0 + r.nextDouble() * 20.0), f(18.0 + r.nextDouble() * 3.0),
          f(30.0 + r.nextDouble() * 30.0), f(12.0 + r.nextDouble() * 4.0))
      Row(f"ZTF${seed}%02d$i%07d", 1000000L * seed + i, Row.fromSeq(current), history)
    }
  }

  def frame(spark: SparkSession, n: Int, seed: Long = 1L, partitions: Int = 2): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows(n, seed), partitions), schema)

  /** Crossmatch catalog (ra, dec, label): a counterpart within 0.5" for
    * every other alert, labelled with an extra-galactic host type, plus
    * `noise` random sources.
    */
  def xmatchCatalog(spark: SparkSession, alerts: Seq[Row], noise: Int = 500): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(7L)
    val near = alerts.zipWithIndex.collect { case (a, i) if i % 2 == 0 =>
      val c = a.getStruct(2)
      (c.getDouble(2), c.getDouble(3) + 0.5 / 3600.0, if (i % 4 == 0) "Galaxy" else "SN")
    }
    val random = Seq.fill(noise)(
      (r.nextDouble() * 360.0, r.nextDouble() * 180.0 - 90.0, "Star"))
    (near ++ random).toDF("ra", "dec", "label")
  }

  /** CTAO-shaped blazar catalog naming every fifth alert's object. */
  def blazarCatalog(spark: SparkSession, alerts: Seq[Row]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    alerts.zipWithIndex.collect { case (a, i) if i % 5 == 0 =>
      (s"SRC$i", a.getString(0), (1e-4 * (1 + i % 7), 2e-4 * (1 + i % 3)),
        0.5 + 0.01 * (i % 10), 1.5 + 0.02 * (i % 10))
    }.toDF("Source_name", "ZTF_name", "medians", "low_threshold", "high_threshold")
      .withColumn("medians", struct(col("medians._1").as("1"), col("medians._2").as("2")))
  }
}
