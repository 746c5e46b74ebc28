package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}

/** Several `withColumn`s in ONE projection — Spark's own multi-column
  * `withColumns`, package-private there: a name the frame already has
  * is replaced in place under the session's resolver (column order
  * unchanged), new names are appended in order.
  */
object WithColumns {
  def apply(df: DataFrame, cols: Seq[(String, Column)]): DataFrame =
    df.withColumns(cols.map(_._1), cols.map(_._2))
}
