package graft.xmatch

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Remote catalog crossmatch (the reference's `cdsxmatch` family,
  * ztf/xmatch/processor.py:46-302): alerts are batched to an external
  * service (CDS xmatch at cdsxmatch.u-strasbg.fr in production), the
  * reply parsed, reduced to the closest match per alert, and the
  * requested columns appended with the Fail/Unknown sentinel contract:
  *
  *  - service unreachable -> "Fail" for every row of the batch
  *    (processor.py:151-153)
  *  - no match within radius -> "Unknown" (processor.py:190-195)
  *
  * The service is a trait so offline runs/tests inject a mock; the
  * production HTTP client implements `query` with the CSV POST.
  */
trait XmatchService extends Serializable {
  /** For each (id, ra, dec) return zero or more matches
    * (id, angDistArcsec, payload by requested column). A thrown
    * exception marks the whole batch failed.
    */
  def query(rows: Seq[(Long, Double, Double)], catalog: String,
      radiusArcsec: Double, cols: Seq[String]): Seq[(Long, Double, Map[String, String])]
}

/** Offline default: the service is unreachable; every alert gets the
  * Fail sentinel (the reference's behavior without network).
  */
object UnreachableXmatchService extends XmatchService {
  def query(rows: Seq[(Long, Double, Double)], catalog: String,
      radiusArcsec: Double, cols: Seq[String]): Seq[(Long, Double, Map[String, String])] =
    throw new java.io.IOException("no network access")
}

object CdsXmatch {

  /** Append `colsOut` from the closest remote match within
    * `distMaxArcsec`; executes the service call once per partition
    * (the reference's per-Arrow-batch POST, processor.py:136-149).
    *
    * Row-local: one typed `mapPartitions` buffers a partition's alerts,
    * queries the service once and appends each alert's closest match in
    * place, with no join or window, so the module can run on a stream
    * ([[graft.streaming.AlertPipeline]]). An alert with a null id or
    * coordinate is not sent and gets null columns.
    */
  def xmatchCds(spark: SparkSession, df: DataFrame, service: XmatchService,
      catalogName: String, distMaxArcsec: Double = 1.0,
      idCol: String = "candid", raCol: String = "candidate.ra",
      decCol: String = "candidate.dec",
      colsOut: Seq[String] = Seq("main_type")): DataFrame = {
    val width = df.schema.length
    val probe = df.select(col("*"), col(idCol).cast("long").as("__id"),
      col(raCol).cast("double").as("__ra"), col(decCol).cast("double").as("__dec"))
    val outSchema = StructType(df.schema.fields ++
      colsOut.map(StructField(_, StringType, nullable = true)))

    probe.mapPartitions { it =>
      val alerts = it.toVector
      val coords = alerts.collect {
        case r if !r.isNullAt(width) && !r.isNullAt(width + 1) && !r.isNullAt(width + 2) =>
          (r.getLong(width), r.getDouble(width + 1), r.getDouble(width + 2))
      }
      val best = if (coords.isEmpty) Map.empty[Long, Map[String, String]]
        else closest(coords, colsOut,
          try service.query(coords, catalogName, distMaxArcsec, colsOut)
          catch {
            // whole-batch failure sentinel (processor.py:151-153)
            case _: Exception => coords.map(c => (c._1, Double.NaN, colsOut.map(_ -> "Fail").toMap))
          })
      alerts.iterator.map { r =>
        val payload = if (r.isNullAt(width)) None else best.get(r.getLong(width))
        Row.fromSeq(r.toSeq.take(width) ++
          colsOut.map(c => payload.flatMap(_.get(c)).orNull))
      }
    }(Encoders.row(outSchema))
  }

  /** Each queried id's payload: its closest match (smallest angDist,
    * NaN last, first reply on a tie — the reference's groupby-min,
    * processor.py:168), or the Unknown sentinel when the service
    * returned none (processor.py:190-195).
    */
  private def closest(coords: Seq[(Long, Double, Double)], colsOut: Seq[String],
      result: Seq[(Long, Double, Map[String, String])]): Map[Long, Map[String, String]] = {
    val nearest = result.groupBy(_._1).map { case (id, ms) =>
      id -> ms.reduceLeft((a, b) => if (java.lang.Double.compare(b._2, a._2) < 0) b else a)._3
    }
    val unknown = colsOut.map(_ -> "Unknown").toMap
    coords.map(c => c._1 -> nearest.getOrElse(c._1, unknown)).toMap
  }
}
