package graft

import org.apache.spark.sql.SparkSession

/** The local session `graft.Bench`, `graft.Verify` and
  * `graft.tools.Profile` run in: `local[cpus]` with one shuffle
  * partition per core, the UTC session time zone (so bench and verify
  * agree on timestamp semantics: the events.ts NTZ→TZ cast is identity
  * under UTC) and no UI.
  */
object LocalSession {

  /** Cores of the local master: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
