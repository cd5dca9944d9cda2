package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Counters are the span's OWN (events that arrived while
  * it was the innermost open span); [[Trace.inclusive]] rolls children
  * up. Times are System.nanoTime-based; job intervals are the listener
  * events' wall-clock millis, kept apart from the nano clock. */
final class Span(val id: Int, val name: String, val parent: Option[Span],
    val opId: Int, val startNs: Long) {
  var endNs: Long = -1L
  var jobs = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var shuffleBytes = 0L
  var catalystMs = 0L
  /** Wall-clock (startMs, endMs) of the jobs this span submitted. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  /** Wall-clock millis at open/close, to intersect with job intervals. */
  var startMs: Long = 0L
  var endMs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-span aggregate counters in the units the report publishes. */
final case class Counters(s: Double, driverS: Double, jobs: Double,
    tasks: Double, emptyTaskFrac: Double, taskRunS: Double,
    taskCpuS: Double, gcS: Double, deserS: Double, shuffleMb: Double,
    catalystS: Double) {
  def toSeq: Seq[(String, Double)] = Seq(
    "s" -> s, "driver_s" -> driverS, "jobs" -> jobs, "tasks" -> tasks,
    "empty_task_frac" -> emptyTaskFrac, "task_run_s" -> taskRunS,
    "task_cpu_s" -> taskCpuS, "gc_s" -> gcS, "deser_s" -> deserS,
    "shuffle_mb" -> shuffleMb, "catalyst_s" -> catalystS)
}

object Counters {
  val names: Seq[String] = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    .toSeq.map(_._1)
}

/**
 * Span recorder. With `sc = None` it only keeps the span tree (durations);
 * [[Trace.attach]] adds a SparkListener and a QueryExecutionListener that
 * attribute jobs, tasks and Catalyst phases to the innermost open span.
 *
 * Attribution rule: the listener bus is drained when a span opens and
 * again before it closes, so every event posted while a span is innermost
 * is delivered while it is still innermost. Jobs bind to the span open at
 * their start; tasks follow their stage's job. The benchmark is a single
 * client, so one global stack is the whole state.
 */
final class Trace(sc: Option[SparkContext]) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var innermost: Option[Span] = None
  private val stageOwner = mutable.HashMap.empty[Int, Span]
  private val jobOwner = mutable.HashMap.empty[Int, (Span, Long)]
  private var nextOp = 0

  def spans: Seq[Span] = all.synchronized(all.toList)

  private def drain(): Unit =
    sc.foreach(c => org.apache.spark.GraftListenerBridge.waitForListeners(c))

  /** Time `body` as span `name`, nested under the open span (if any). A
    * span with no parent starts a new op. */
  def span[A](name: String)(body: => A): A = {
    drain()
    val parent = stack.headOption
    val opId = parent.map(_.opId).getOrElse { nextOp += 1; nextOp }
    val s = new Span(all.size, name, parent, opId, System.nanoTime())
    s.startMs = System.currentTimeMillis()
    all.synchronized(all += s)
    stack.push(s); innermost = Some(s)
    try body
    finally {
      drain()
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop(); innermost = stack.headOption
    }
  }

  /** Events of a known span, used by the listeners and by tests. */
  private[perfbench] def onJobStart(jobId: Int, stageIds: Seq[Int],
      timeMs: Long): Unit = synchronized {
    innermost.foreach { s =>
      s.jobs += 1
      jobOwner(jobId) = (s, timeMs)
      stageIds.foreach(stageOwner(_) = s)
    }
  }

  private[perfbench] def onJobEnd(jobId: Int, timeMs: Long): Unit =
    synchronized {
      jobOwner.remove(jobId).foreach { case (s, t0) =>
        s.jobIntervals += ((t0, timeMs))
      }
    }

  private[perfbench] def onTask(stageId: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, deserMs: Long, shuffleBytes: Long, recordsIn: Long): Unit =
    synchronized {
      stageOwner.get(stageId).orElse(innermost).foreach { s =>
        s.tasks += 1
        if (recordsIn == 0) s.emptyTasks += 1
        s.taskRunMs += runMs; s.taskCpuNs += cpuNs; s.gcMs += gcMs
        s.deserMs += deserMs; s.shuffleBytes += shuffleBytes
      }
    }

  private[perfbench] def onQuery(catalystMs: Long): Unit = synchronized {
    innermost.foreach(_.catalystMs += catalystMs)
  }

  /** Spans under `s`, `s` included. */
  def subtree(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent.exists(_ eq s))
    s +: kids.flatMap(subtree)
  }

  /** Span duration minus its direct children's durations. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent.exists(_ eq s)).map(_.seconds).sum

  /** Counters of `s` including every descendant's events. */
  def inclusive(s: Span): Counters = {
    val t = subtree(s)
    val tasks = t.map(_.tasks).sum
    val busyMs = Trace.unionMs(t.flatMap(_.jobIntervals), s.startMs, s.endMs)
    Counters(
      s = s.seconds,
      driverS = math.max(0.0, s.seconds - busyMs / 1e3),
      jobs = t.map(_.jobs).sum.toDouble,
      tasks = tasks.toDouble,
      emptyTaskFrac =
        if (tasks == 0) 0.0 else t.map(_.emptyTasks).sum.toDouble / tasks,
      taskRunS = t.map(_.taskRunMs).sum / 1e3,
      taskCpuS = t.map(_.taskCpuNs).sum / 1e9,
      gcS = t.map(_.gcMs).sum / 1e3,
      deserS = t.map(_.deserMs).sum / 1e3,
      shuffleMb = t.map(_.shuffleBytes).sum / (1024.0 * 1024.0),
      catalystS = t.map(_.catalystMs).sum / 1e3)
  }

  /** Register the attributing listeners on `session`. */
  def attach(session: org.apache.spark.sql.SparkSession): Unit = {
    val tr = this
    session.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tr.onJobStart(e.jobId, e.stageIds, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        tr.onJobEnd(e.jobId, e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          val sr = m.shuffleReadMetrics
          tr.onTask(e.stageId, m.executorRunTime, m.executorCpuTime,
            m.jvmGCTime, m.executorDeserializeTime,
            sr.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.recordsRead + sr.recordsRead)
        }
    })
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        tr.onQuery(Trace.catalystMs(qe))
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = tr.onQuery(Trace.catalystMs(qe))
    })
  }
}

object Trace {
  val Phases: Seq[String] = Seq("analysis", "optimization", "planning")

  def catalystMs(qe: QueryExecution): Long = {
    val ph = qe.tracker.phases
    Phases.flatMap(ph.get).map(_.durationMs).sum
  }

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo),
      math.min(b, hi)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }
}
