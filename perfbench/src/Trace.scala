package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `op` is the timed
  * operation it belongs to (-1 for set-up, input landing and checks).
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Listener counts attributed to one span. */
final class Counters {
  var jobs, tasks, taskRunMs, taskGcMs, inputBytes = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var queries, analysisMs, optimizationMs, planningMs, scanFiles, scanPartitions = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  /** task durations (ms) per stage, for the skew figure */
  val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
}

/** The span recorder. Spans are kept in memory and written out when the
  * run ends. While a span is open its id is a Spark local property on the
  * calling thread, so every job the call launches carries it and the
  * listeners below can attribute their counts to the innermost open span.
  * With tracing off `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      spark.sparkContext.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        spark.sparkContext.setLocalProperty(Tracer.SpanProperty,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Innermost span whose wall-clock interval holds `ms`. */
  def spanAt(ms: Long): Int =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => -s.startNs).headOption.map(_.id).getOrElse(-1)
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** SparkListener for jobs, tasks, input, shuffle, spill and task GC,
  * keyed by the span id each job was launched under.
  */
final class SchedulerListener extends SparkListener {
  val bySpan = mutable.HashMap[Int, Counters]()
  private val jobSpan = mutable.HashMap[Int, Int]()
  private val jobStartMs = mutable.HashMap[Int, Long]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  val execSpan = mutable.HashMap[Long, Int]()

  def counters(span: Int): Counters = synchronized(bySpan.getOrElseUpdate(span, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(id => if (!stageSpan.contains(id)) stageSpan(id) = span)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => if (!execSpan.contains(x.toLong)) execSpan(x.toLong) = span)
    counters(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(e.jobId, -1)
    counters(span).jobIntervals += ((jobStartMs.getOrElse(e.jobId, e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    if (e.taskInfo != null)
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskGcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** One successful query execution: Catalyst phase times and the scan
  * metrics of its executed plan.
  */
final case class QueryRecord(executionId: Long, startMs: Long, analysisMs: Long,
                             optimizationMs: Long, planningMs: Long,
                             files: Long, partitions: Long, rows: Long)

/** QueryExecutionListener for Catalyst phase times (Spark's own
  * QueryPlanningTracker) and file-scan metrics. A scan metric is counted
  * the first time it is seen, so a cached relation read by several
  * queries is charged once, to the query that built it.
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val records = mutable.ArrayBuffer[QueryRecord]()
  private val seenMetrics = mutable.HashSet[Long]()

  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    }.flatten

  private def take(s: FileSourceScanExec, key: String): Long =
    s.metrics.get(key) match {
      case Some(m) if seenMetrics.add(m.id) => m.value
      case _ => 0L
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (phases.isEmpty) System.currentTimeMillis()
                  else phases.values.map(_.startTimeMs).min
      val found = try scans(qe.executedPlan) catch { case _: Throwable => Nil }
      records += QueryRecord(qe.id, start, ms("analysis"), ms("optimization"),
        ms("planning"), found.map(take(_, "numFiles")).sum,
        found.map(take(_, "numPartitions")).sum, found.map(take(_, "numOutputRows")).sum)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
