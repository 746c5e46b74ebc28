package alertbench

import scala.collection.mutable

/** Named wall-clock spans around calls into the engine's layers. Inert
  * (the body runs with no bookkeeping) until the traced run switches it
  * on, so untraced runs carry no tracing cost.
  */
final class Spans {
  @volatile var on = false
  private val totals = mutable.Map.empty[String, (Long, Long)] // name -> (calls, ns)

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally add(name, System.nanoTime() - t0)
    }

  /** Records one span of `ns` measured elsewhere. */
  def add(name: String, ns: Long): Unit = totals.synchronized {
    val (c, s) = totals.getOrElse(name, (0L, 0L))
    totals(name) = (c + 1, s + ns)
  }

  /** name -> (calls, total ms) since the last reset. */
  def snapshot: Map[String, (Long, Double)] =
    totals.synchronized(totals.map { case (k, (c, ns)) => k -> (c, ns / 1e6) }.toMap)

  def reset(): Unit = totals.synchronized(totals.clear())
}

object Spans {
  val inert = new Spans
}
