package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Work one tag's jobs did, as the listener saw it. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var rowsRead = 0L
  var rowsWritten = 0L
  var shuffleBytes = 0L
  var bytesWritten = 0L
  /** (start, end) of each finished job, epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; execCpuNs += o.execCpuNs
    rowsRead += o.rowsRead; rowsWritten += o.rowsWritten
    shuffleBytes += o.shuffleBytes; bytesWritten += o.bytesWritten
    jobIntervals ++= o.jobIntervals
  }
}

/** The benchmark's SparkListener. A job is counted only when the thread
  * that started it carried the local property [[Ledger.Tag]]; its tasks
  * are attributed through their stage, whose submission carries the same
  * properties. Set-up, resets and checks run untagged, so they never reach
  * the counters. `Par.both` threads inherit the property from the caller. */
final class Ledger extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val openJobs = mutable.HashMap.empty[Int, (String, Long)]

  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Ledger.Tag)))

  private def counters(tag: String): Counters =
    byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { t =>
      counters(t).jobs += 1
      openJobs(e.jobId) = (t, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (t, start) =>
      counters(t).jobIntervals += ((start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    tagOf(e.properties).foreach(t => stageTag(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { t =>
      val c = counters(t)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.execCpuNs += m.executorCpuTime
        c.rowsRead += m.inputMetrics.recordsRead
        c.rowsWritten += m.outputMetrics.recordsWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Counters of one tag (empty when it ran no job). */
  def get(tag: String): Counters = synchronized(byTag.getOrElse(tag, new Counters))

  /** Sum over every tag. */
  def total(): Counters = synchronized {
    val t = new Counters
    byTag.values.foreach(t.add)
    t
  }
}

object Ledger {
  /** Local property naming the span (or, untraced, the unit) a job runs for. */
  val Tag = "perfbench.tag"
  /** Tag value of jobs inside a timed unit but outside every span. */
  val UnitTag = "unit"
}

/** Rows that the file scans of one source directory produced, summed over
  * every query the session completed. It counts one table apart from the
  * others that the same plans read: the `migrate` keyset source apart from
  * its line items and id map. The scan's `numOutputRows` is taken after
  * row-group pruning and before any filter, so it is the rows read.
  * Query-execution events arrive on the listener bus: read `rows` only
  * after draining it. */
final class SourceScans(dir: String) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val want = new Path(dir).toUri.getPath
  @volatile var rows = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    rows += collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toUri.getPath == want) =>
        s.metrics.get("numOutputRows").fold(0L)(_.value)
    }.sum

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** One span: a call into one layer, with the span that caused it. */
final case class Span(id: Int, name: String, parent: Int,
                      startMs: Long, startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans recorded around the benchmark's calls into each layer. They are
  * kept in memory and written out when the run ends. Disabled, `span` only
  * runs its body; outside a timed round nothing is recorded either, so
  * warm-up and resets leave no spans behind. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var recording = false

  def span[A](name: String)(body: => A): A =
    if (!enabled || !recording) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.fold(0)(_.id),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Ledger.Tag)
      sc.setLocalProperty(Ledger.Tag, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(Ledger.Tag, prev)
        stack = stack.tail
      }
    }
}

/** Wall and CPU time of the timed units. A closed loop: the workload
  * starts the next unit only once the previous one has committed.
  * `begin`/`end` bracket a stretch of units; `split` closes one unit and
  * opens the next at the same instant (the CDC loop's batches tile its
  * call). When `counted`, jobs started between `begin` and `end` carry
  * the unit tag and spans are recorded; the warm-up round is not. */
final class Units(sc: SparkContext, trace: Trace, val counted: Boolean) {
  val durationsNs = mutable.ArrayBuffer.empty[Long]
  var cpuNs = 0L
  var rows = 0L
  var firstStartMs = -1L
  private var t0 = 0L
  private var c0 = 0L

  private def cpu(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def begin(): Unit = {
    if (firstStartMs < 0) firstStartMs = System.currentTimeMillis()
    if (counted) {
      sc.setLocalProperty(Ledger.Tag, Ledger.UnitTag)
      trace.recording = true
    }
    c0 = cpu()
    t0 = System.nanoTime()
  }

  def split(rowsDone: Long): Unit = {
    val t = System.nanoTime()
    val c = cpu()
    durationsNs += t - t0
    cpuNs += c - c0
    rows += rowsDone
    t0 = t
    c0 = c
  }

  def end(rowsDone: Long): Unit = {
    split(rowsDone)
    if (counted) {
      trace.recording = false
      sc.setLocalProperty(Ledger.Tag, null)
    }
  }

  /** One whole unit around `body`, which returns the rows it handled. */
  def unit(body: => Long): Unit = {
    begin()
    var n = 0L
    try n = body finally end(n)
  }
}
