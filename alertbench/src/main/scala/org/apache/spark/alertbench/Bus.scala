package org.apache.spark.alertbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the traced run drains the
  * bus before it reads its listeners' totals.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
