package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Runs the closed loop: each op is one call into a public graft
  * function, timed from outside; the next op starts after the previous
  * one has returned and its output has been checked. A thrown exception
  * or a failed check counts the op as failed. */
final class Runner {
  var attempted = 0
  var failed = 0
  /** The tracer of a traced run, or None. */
  var tracer: Option[Tracer] = None
  /** Whether the current cycle queues the checks that re-read the data
    * (they are costly, so only the first cycle's outputs get them). */
  var deepChecks = true
  /** Queued deep checks; they run after the timed cycles. */
  val deferred = mutable.ArrayBuffer.empty[() => Unit]

  val opWall = mutable.LinkedHashMap.empty[String, Double]
  val spans = mutable.LinkedHashMap.empty[String, SpanStats]
  /** Output measures of the current cycle (recall, dev ratio, ...). */
  val values = mutable.LinkedHashMap.empty[String, Double]
  private val failedOps = mutable.Set.empty[String]

  def newCycle(): Unit = {
    opWall.clear(); spans.clear(); values.clear(); failedOps.clear()
  }

  def record(name: String, value: Double): Unit = values(name) = value

  def op[T](span: String)(body: => T): Option[T] = {
    attempted += 1
    val handle = tracer.map(_.begin(span))
    val t0 = System.nanoTime()
    val out =
      try Some(body)
      catch {
        case NonFatal(e) =>
          Console.err.println(s"[graftbench] $span threw: $e")
          None
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val stats = for (t <- tracer; h <- handle) yield t.end(h, wall)
    stats.foreach(spans(span) = _)
    opWall(span) = wall
    if (out.isEmpty) markFailed(span)
    out
  }

  def check(span: String, ok: Boolean, what: => String): Unit =
    if (!ok) {
      Console.err.println(s"[graftbench] check failed for $span: $what")
      markFailed(span)
    }

  /** Runs a check body; an exception inside it fails the op. */
  def checking(span: String)(body: => Unit): Unit =
    try body
    catch {
      case NonFatal(e) => check(span, ok = false, s"check threw $e")
    }

  /** Queues `body` as a deep check of `span`'s output, if this cycle
    * takes deep checks. */
  def deep(span: String)(body: => Unit): Unit = {
    if (deepChecks) deferred += (() => checking(span)(body))
  }

  private def markFailed(span: String): Unit = {
    if (failedOps.add(span)) failed += 1
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
