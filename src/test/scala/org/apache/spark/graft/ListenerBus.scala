package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test-scope access to the context's listener bus, which Spark keeps
  * package-private.
  */
object ListenerBus {

  /** Returns once every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
