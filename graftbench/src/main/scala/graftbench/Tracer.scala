package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Layer costs of one span: one call into a public graft function. */
final case class SpanStats(wallS: Double, jobs: Int, taskS: Double,
                           driverS: Double, shuffleMb: Double)

/** Attributes Spark jobs and tasks to the span that submitted them.
  *
  * The span name travels as a job-local property, so attribution does not
  * depend on timing. The listener is attached only in a traced run, after
  * set-up, and removed after the last cycle. After each span the tracer
  * waits until the listener bus is empty and every job the span started
  * has delivered its end event; it never sleeps for a fixed time. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "graftbench.span"

  private final class Acc {
    var jobs = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    val open = mutable.Set.empty[Int]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = mutable.Map.empty[String, Acc]
  private val jobSpan = mutable.Map.empty[Int, (String, Long)]
  private val stageSpan = mutable.Map.empty[Int, String]
  private var serial = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    span.filter(accs.contains).foreach { s =>
      val a = accs(s)
      a.jobs += 1
      a.open += e.jobId
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, start) =>
      val a = accs(s)
      a.open -= e.jobId
      a.intervals += ((start, e.time))
    }
    notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); a <- accs.get(s); m <- Option(e.taskMetrics)) {
      a.taskMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Opens a span on the calling thread; returns its handle. */
  def begin(name: String): (String, Long) = {
    val id = synchronized {
      serial += 1
      val id = s"$name#$serial"
      accs(id) = new Acc
      id
    }
    sc.setLocalProperty(Key, id)
    (id, System.currentTimeMillis())
  }

  /** Closes a span, drains the listener and returns its stats. */
  def end(handle: (String, Long), wallS: Double): SpanStats = {
    val endMs = System.currentTimeMillis()
    sc.setLocalProperty(Key, null)
    val (id, startMs) = handle
    org.apache.spark.graftbench.BusDrain(sc, 60000L)
    synchronized {
      val a = accs(id)
      val deadline = System.currentTimeMillis() + 60000L
      while (a.open.nonEmpty && System.currentTimeMillis() < deadline) wait(1000L)
      if (a.open.nonEmpty)
        throw new IllegalStateException(s"span $id: jobs ${a.open} never ended")
      accs.remove(id)
      stageSpan.filterInPlace((_, s) => s != id)
      val inJobsMs = unionMs(a.intervals.toSeq, startMs, endMs)
      SpanStats(wallS, a.jobs, a.taskMs / 1e3,
        math.max(wallS - inJobsMs / 1e3, 0.0), a.shuffleBytes / 1e6)
    }
  }

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
