package graftbench

import scala.util.control.NonFatal

/** The correctness gate: every operation attempted, and the failed ones with
  * their reasons. An operation that throws or whose outputs mismatch the
  * reference counts as failed, never as a fast run. */
final class Gate {
  private val failures = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
  private var n = 0

  /** Run one operation `id`; its wall seconds, or None if it threw. */
  def run(id: String)(op: => Unit): Option[Double] = {
    n += 1
    val t = System.nanoTime()
    try { op; Some((System.nanoTime() - t) / 1e9) }
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        fail(id, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        None
    }
  }

  /** Check the outputs of operation `id` (already counted by [[run]]). */
  def check(id: String)(mismatches: => Seq[String]): Unit = {
    val m = try mismatches catch {
      case NonFatal(e) => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (m.nonEmpty) fail(id, m)
  }

  /** A check that is not tied to a run of [[run]]. */
  def checkAlone(id: String)(mismatches: => Seq[String]): Unit = {
    n += 1
    check(id)(mismatches)
  }

  private def fail(id: String, m: Seq[String]): Unit =
    failures(id) = failures.getOrElse(id, Nil) ++ m

  def attempted: Int = n
  def failedIds: Seq[String] = failures.keys.toSeq
  def messages: Seq[String] = failures.toSeq.flatMap { case (id, ms) => ms.map(m => s"$id: $m") }
}
