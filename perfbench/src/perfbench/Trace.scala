package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One call from the benchmark into a graft module. `phase` is "call" for
  * a call whose result is final, and "build" / "exec" for a call that
  * returns a DataFrame (build = until the call returns, including any jobs
  * it runs eagerly; exec = the action on the returned frame).
  */
final case class Span(id: Int, name: String, phase: String, parent: Int, op: Long,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Work Spark did for one job, summed over its tasks. */
final class JobWork(val id: Int, val startMs: Long) {
  var tasks = 0L
  var runMs = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleWrite = 0L
}

/** Records every job with its task metrics. Events arrive on Spark's
  * listener thread, after the fact; jobs are matched to spans by start
  * time afterwards, so jobs launched from graft's driver pool, which do not
  * inherit the caller's job properties, are attributed too.
  */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobWork]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobWork(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.bytesRead += m.inputMetrics.bytesRead
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def snapshot: Seq[JobWork] = synchronized(jobs.values.toList)
}

/** Span recorder for the single client thread. Spans stay in memory until
  * the run ends. Only ops started with `traced = true` record spans.
  */
final class Tracer(enabled: Boolean) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var op = -1L
  private var on = false
  // Spark stamps jobs with the wall clock; spans use the monotonic clock
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  def toEpochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def startOp(id: Long, traced: Boolean): Unit = { op = id; on = enabled && traced }
  def endOp(): Unit = on = false

  def span[T](name: String)(f: => T): T = record(name, "call")(f)
  def build[T](name: String)(f: => T): T = record(name, "build")(f)
  def exec[T](name: String)(f: => T): T = record(name, "exec")(f)

  private def record[T](name: String, phase: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val start = System.nanoTime()
      try f
      finally {
        open = open.tail
        recorded += Span(id, name, phase, parent, op, start, System.nanoTime())
      }
    }

  def spans: Seq[Span] = recorded.toList
}

object Tracer {
  /** Which ops of a trace run record spans: whole cycles of the op
    * schedule, every other one, so the first measured cycle traces every op
    * type and the untraced cycles measure what tracing costs.
    */
  def traced(i: Long, cycle: Int): Boolean = (i / cycle) % 2 == 0

  /** Innermost span open when each job started. Spark stamps a job with a
    * whole millisecond, so a span is a candidate when it overlaps that
    * millisecond; the deepest candidate wins, then the latest started.
    */
  def attribute(jobs: Seq[(Int, Long)], spans: Seq[Span], toEpochMs: Long => Double): Map[Int, Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + byId.get(s.parent).map(depth).getOrElse(0)
    val bounds = spans.map(s => (s, toEpochMs(s.startNs), toEpochMs(s.endNs), depth(s)))
    jobs.flatMap { case (job, t) =>
      val hits = bounds.filter { case (_, s, e, _) => s < t + 1 && e >= t }
      if (hits.isEmpty) None
      else Some(job -> hits.maxBy { case (sp, s, _, d) => (d, s) }._1)
    }.toMap
  }
}
