package perfbench

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Benchmark-side tracing. A span wraps a call into one layer's public
  * function; it sets the Spark job group to its own id, so the listener
  * attributes every job (and its tasks) started inside the span, including
  * jobs started by threads the layer spawns, which inherit the group.
  * Spans nest through a stack on the driver thread, are kept in memory
  * and written once by [[writeJson]]. With tracing off, [[span]] only
  * runs its body.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  // listener event times are wall-clock millis; spans use nanoTime
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, stack.headOption.fold(0)(_.id), name,
        System.nanoTime() - baseNs)
      spans += s
      stack = s :: stack
      sc.setJobGroup(groupOf(s.id), name)
      try body
      finally {
        s.endNs = System.nanoTime() - baseNs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Rows the benchmark itself received from the innermost open span
    * (collected query results); added to the span's `rows_out`.
    */
  def addRows(n: Long): Unit = stack.headOption.foreach(_.rows += n)

  /** Spans with their listener counters, and every job interval, as one
    * JSON document (times in seconds from the trace's start).
    */
  def writeJson(path: String): Unit = {
    if (enabled) PerfbenchBridge.drainListenerBus(sc)
    val (counters, jobs) = listener.snapshot()
    def msToS(ms: Long): Double = ((ms - baseMs) * 1000000L) / 1e9
    val spanJs = spans.map { s =>
      val c = counters.getOrElse(s.id, Counters())
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
        "jobs" -> c.jobs, "task_s" -> c.taskMs / 1000.0,
        "input_bytes" -> c.inputBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "rows_out" -> (c.rowsWritten + s.rows))
    }
    val jobJs = jobs.map { case (span, start, end) =>
      Json.obj("span" -> span, "start_s" -> msToS(start), "end_s" -> msToS(end))
    }
    Json.write(path, Json.obj("spans" -> spanJs.toSeq, "jobs" -> jobJs))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long) {
    var endNs: Long = -1L
    var rows: Long = 0L
  }

  final case class Counters(jobs: Int = 0, taskMs: Long = 0L,
      inputBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      spillBytes: Long = 0L, rowsWritten: Long = 0L)

  private val GroupPrefix = "perfbench-span-"
  def groupOf(id: Int): String = s"$GroupPrefix$id"

  /** Span id of a job group set by [[Trace.span]], or 0 (no span). */
  def spanOfGroup(group: String): Int =
    if (group != null && group.startsWith(GroupPrefix))
      group.stripPrefix(GroupPrefix).toInt
    else 0

  /** Aggregates job and task metrics per span id. */
  private final class SpanListener extends SparkListener {
    private val stageSpan = mutable.Map[Int, Int]()
    private val jobSpan = mutable.Map[Int, Int]()
    private val jobStart = mutable.Map[Int, Long]()
    private val jobIntervals = mutable.ArrayBuffer[(Int, Long, Long)]()
    private val counters = mutable.Map[Int, Counters]()

    private def bump(span: Int)(f: Counters => Counters): Unit =
      counters(span) = f(counters.getOrElse(span, Counters()))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val span = spanOfGroup(group)
      jobSpan(e.jobId) = span
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = span)
      bump(span)(c => c.copy(jobs = c.jobs + 1))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { t0 =>
        jobIntervals += ((jobSpan.getOrElse(e.jobId, 0), t0, e.time))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) bump(stageSpan.getOrElse(e.stageId, 0)) { c =>
        c.copy(
          taskMs = c.taskMs + m.executorRunTime,
          inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          rowsWritten = c.rowsWritten + m.outputMetrics.recordsWritten)
      }
    }

    def snapshot(): (Map[Int, Counters], Seq[(Int, Long, Long)]) = synchronized {
      (counters.toMap, jobIntervals.toSeq)
    }
  }
}
