package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed client operation: what the end-to-end metrics are computed from.
  * `startMs`/`endMs` are wall-clock bounds (used to attribute listener events
  * in a traced run); `seconds` is the monotonic duration. */
final case class Op(id: Int, round: Int, kind: String, name: String,
    startMs: Long, endMs: Long, seconds: Double)

/** A check of one operation's output, handed to the DuckDB oracle step
  * (`perfbench/oracle.py`). `spec` carries what that step needs. */
final case class Check(op: Int, kind: String, spec: Map[String, Any])

/** Records the workload's operations, rounds and output checks. Tracing, when
  * on, only reads these records afterwards: the timed path is the same in
  * both modes. */
final class Recorder {
  val ops = ArrayBuffer.empty[Op]
  val checks = ArrayBuffer.empty[Check]
  val rounds = ArrayBuffer.empty[(Int, Long, Long)]
  /** Wall-clock time of the first timed operation: the end of set-up. */
  var firstOpMs: Long = -1L
  private var round = 0

  def inRound[T](r: Int)(f: => T): T = {
    round = r
    val s = System.currentTimeMillis()
    try f finally rounds += ((r, s, System.currentTimeMillis()))
  }

  /** Time `f` as one operation; returns its result and the op id. */
  def timed[T](kind: String, name: String)(f: => T): (T, Int) = {
    val s = System.currentTimeMillis()
    if (firstOpMs < 0) firstOpMs = s
    val n0 = System.nanoTime()
    val r = f
    val secs = (System.nanoTime() - n0) / 1e9
    ops += Op(ops.size, round, kind, name, s, System.currentTimeMillis(), secs)
    (r, ops.size - 1)
  }

  def check(op: Int, kind: String, spec: (String, Any)*): Unit =
    checks += Check(op, kind, spec.toMap)
}
