package alertbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One completed op: its latency and the alerts or documents it
  * finished.
  */
final case class Sample(latencyNs: Long, items: Long)

/** Raised when an op's output digest differs from the expected one. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** Attempted, failed and timed ops of one measurement window. */
final class Tally {
  var attempted = 0
  var failed = 0
  var wallNs = 0L
  val samples = ArrayBuffer.empty[Sample]

  def latenciesMs: Seq[Double] = samples.map(_.latencyNs / 1e6).toSeq
  def items: Long = samples.map(_.items).sum
  def itemsPerS: Double = if (wallNs > 0) items / (wallNs / 1e9) else 0.0
}

object Harness {

  /** Runs `op` once, counting it in `t`. An op that throws is counted as
    * failed and never timed: a failure must not pass for a fast op.
    */
  def attempt(t: Tally, label: String)(op: => Sample): Option[Sample] = {
    t.attempted += 1
    try Some(op)
    catch {
      case NonFatal(e) =>
        t.failed += 1
        System.err.println(s"[alertbench] $label FAILED: $e")
        None
    }
  }

  /** Closed loop of one client: ops run back to back until `seconds`
    * have elapsed; the op in flight when the window closes completes
    * and counts. Only successful ops become samples.
    */
  def window(t: Tally, seconds: Double)(op: Int => Sample): Unit = {
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    var k = 0
    while (System.nanoTime() < end) {
      attempt(t, s"op $k")(op(k)).foreach(t.samples += _)
      k += 1
    }
    t.wallNs += System.nanoTime() - start
  }

  /** Wall-clock time of `body` in ns, with its result. */
  def timed[T](body: => T): (Long, T) = {
    val t0 = System.nanoTime()
    val r = body
    (System.nanoTime() - t0, r)
  }
}
