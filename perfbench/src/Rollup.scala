package perfbench

import scala.collection.mutable

/** Per-layer roll-up of a traced run. Each operation's spans form a tree
  * under its `op` span; a span's self time is its duration minus its
  * children's, so the self times of one operation add up to its wall
  * time. Listener counts reach an operation through the span they were
  * attributed to. Per-operation figures are reported as the median over
  * the run's operations unless the metric is a ratio or a slope.
  */
final class Rollup(tracer: Tracer, scheduler: SchedulerListener, plans: PlanListener,
                   ops: Seq[(Int, Span, OpResult, Double)], cores: Int, sinkFiles: Long) {
  private val spans = tracer.spans.toVector
  private val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)
  private def self(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Vector.empty).map(_.seconds).sum
  private def subtree(s: Span): Vector[Span] =
    s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)

  /** Query records by the span they ran under: the span of their SQL
    * execution's jobs, else the span open when Catalyst started on them.
    */
  private val queriesBySpan: Map[Int, Seq[QueryRecord]] = plans.records.toSeq.groupBy { q =>
    scheduler.execSpan.get(q.executionId).filter(_ >= 0).getOrElse(tracer.spanAt(q.startMs))
  }

  private final case class OpFigures(op: Int, wall: Double, self: Map[String, Double],
                                     values: Map[String, Double], stageTasks: Map[Int, Int])

  private def median(xs: Seq[Double]): Double = Main.percentile(xs, 50)

  private val figures: Seq[OpFigures] = ops.map { case (id, root, res, driverGc) =>
    val tree = subtree(root)
    val named = tree.groupBy(_.name)
    def dur(prefix: String) = tree.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    val cs = tree.flatMap(s => scheduler.bySpan.get(s.id))
    val qs = tree.flatMap(s => queriesBySpan.getOrElse(s.id, Nil))
    def sum(f: Counters => Long) = cs.map(f).sum.toDouble
    val skew = cs.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ts =>
      val m = median(ts.map(_.toDouble).toSeq); if (m <= 0) 1.0 else ts.max / m
    }.maxOption.getOrElse(1.0)
    val covered = {
      val iv = cs.flatMap(_.jobIntervals).map { case (a, b) =>
        (math.max(a, root.startMs), math.min(b, root.endMs)) }.filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
      total / 1e3
    }
    val run = named.get("incremental.runOnceTo").map(_.head)
    val sink = named.get("sinks.upsert").map(_.head)
    val v = mutable.LinkedHashMap[String, Double](
      "incremental.fetch_s" -> (for (r <- run; s <- sink) yield (s.startNs - r.startNs) / 1e9).getOrElse(0.0),
      "incremental.commit_s" -> (for (r <- run; s <- sink) yield (r.endNs - s.endNs) / 1e9).getOrElse(0.0),
      "incremental.rows_fetched" -> res.figures.getOrElse("rows_fetched", 0.0),
      "sinks.upsert_s" -> sink.map(_.seconds).getOrElse(0.0),
      "sinks.rows_inserted" -> res.figures.getOrElse("rows_inserted", 0.0),
      "sinks.sink_rows_before" -> res.figures.getOrElse("sink_rows_before", 0.0),
      "sinks.rolled_back" -> res.figures.getOrElse("rolled_back", 0.0),
      "sinks.jdbc_batches" -> res.figures.getOrElse("jdbc_batches", 0.0),
      "sinks.jdbc_connections" -> res.figures.getOrElse("jdbc_connections", 0.0),
      "sinks.jdbc_max_open_connections" -> res.figures.getOrElse("jdbc_max_open_connections", 0.0),
      "scan.bytes_read" -> sum(_.inputBytes),
      "scan.rows_read" -> qs.map(_.rows).sum.toDouble,
      "scan.files_read" -> qs.map(_.files).sum.toDouble,
      "scan.partitions_read" -> qs.map(_.partitions).sum.toDouble,
      "eventops.construct_s" -> dur("eventops."),
      "catalyst.analysis_s" -> qs.map(_.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> qs.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> qs.map(_.planningMs).sum / 1e3,
      "catalyst.queries_per_op" -> qs.size.toDouble,
      "scheduler.jobs_per_op" -> sum(_.jobs),
      "scheduler.tasks_per_op" -> sum(_.tasks),
      "scheduler.task_run_s" -> sum(_.taskRunMs) / 1e3,
      "scheduler.task_skew" -> skew,
      "scheduler.driver_gap_s" -> math.max(0.0, (root.endMs - root.startMs) / 1e3 - covered),
      "shuffle.write_bytes" -> sum(_.shuffleWriteBytes),
      "shuffle.read_bytes" -> sum(_.shuffleReadBytes),
      "shuffle.spill_bytes" -> sum(_.spillBytes),
      "corpus.nightly_cycle_s" -> dur("corpus.nightly_cycle"),
      "corpus.index_append_s" -> dur("corpus.index_append"),
      "dedup.new_docs_s" -> dur("dedup.new_docs"),
      "sim.semantic_dedup_s" -> dur("sim.semantic_dedup"),
      "sim.ivf_search_s" -> dur("sim.ivf_search"),
      "jvm.task_gc_s" -> sum(_.taskGcMs) / 1e3,
      "jvm.driver_gc_s" -> driverGc,
      "rows_out" -> res.rowsOut.toDouble)
    val selfByLayer = tree.groupBy(_.name).map { case (n, ss) => n -> ss.map(self).sum }
    OpFigures(id, root.seconds, selfByLayer, v.toMap,
      cs.flatMap(_.stageTaskMs).map { case (stage, ts) => stage -> ts.size }.toMap)
  }

  /** Largest gap between an operation's wall time and its layers' self times. */
  val maxResidual: Double =
    figures.map(f => math.abs(f.wall - f.self.values.sum)).maxOption.getOrElse(0.0)

  val selfTimeByLayer: Map[String, Double] =
    figures.flatMap(_.self).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }

  val perOp: Seq[Map[String, Any]] = figures.map { f =>
    Map("op" -> f.op, "wall_s" -> f.wall, "self_s" -> f.self,
      "tasks_by_stage" -> f.stageTasks.toSeq.sorted.map { case (st, n) => s"$st:$n" }) ++ f.values
  }

  private def med(k: String) = median(figures.map(_.values(k)))
  private def total(k: String) = figures.map(_.values(k)).sum

  /** Least-squares slope of upsert time against rows already in the sink,
    * in seconds per million rows, over the operations that did not start
    * from a rolled-back watermark (those fetch and offer two days).
    */
  private def upsertGrowth: Double = {
    val plain = figures.filter(_.values("sinks.rolled_back") == 0.0)
    val xs = plain.map(_.values("sinks.sink_rows_before") / 1e6)
    val ys = plain.map(_.values("sinks.upsert_s"))
    if (xs.size < 2) 0.0
    else {
      val mx = xs.sum / xs.size; val my = ys.sum / ys.size
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      if (sxx == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }
  }

  def metrics: Map[String, (Double, String)] = {
    val perOpMedian = Seq(
      "incremental.fetch_s" -> "s", "incremental.commit_s" -> "s",
      "incremental.rows_fetched" -> "rows",
      "sinks.upsert_s" -> "s", "sinks.rows_inserted" -> "rows", "sinks.jdbc_batches" -> "count",
      "scan.bytes_read" -> "bytes", "scan.files_read" -> "count", "scan.partitions_read" -> "count",
      "eventops.construct_s" -> "s", "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
      "catalyst.planning_s" -> "s", "catalyst.queries_per_op" -> "count",
      "scheduler.jobs_per_op" -> "count", "scheduler.tasks_per_op" -> "count",
      "scheduler.task_run_s" -> "s", "scheduler.task_skew" -> "ratio",
      "scheduler.driver_gap_s" -> "s", "shuffle.write_bytes" -> "bytes",
      "shuffle.read_bytes" -> "bytes", "shuffle.spill_bytes" -> "bytes",
      "corpus.nightly_cycle_s" -> "s", "corpus.index_append_s" -> "s", "dedup.new_docs_s" -> "s",
      "sim.semantic_dedup_s" -> "s", "sim.ivf_search_s" -> "s", "jvm.task_gc_s" -> "s",
      "jvm.driver_gc_s" -> "s").map { case (k, u) => k -> (med(k), u) }
    val fetched = total("incremental.rows_fetched")
    val jdbc = ops.exists(_._3.figures.contains("jdbc_batches"))
    val sinkS = total("sinks.upsert_s")
    val wall = figures.map(_.wall).sum
    (perOpMedian ++ Seq(
      "sinks.upsert_growth_s_per_mrow" -> (upsertGrowth, "s/Mrow"),
      "sinks.files" -> (sinkFiles.toDouble, "count"),
      "sinks.conflict_skip_ratio" ->
        ((if (fetched > 0) (fetched - total("sinks.rows_inserted")) / fetched else 0.0), "ratio"),
      "sinks.jdbc_rows_per_s" -> ((if (jdbc && sinkS > 0) fetched / sinkS else 0.0), "rows/s"),
      "scan.read_amplification" ->
        ((if (total("rows_out") > 0) total("scan.rows_read") / total("rows_out") else 0.0), "ratio"),
      "scheduler.core_busy_ratio" ->
        ((if (wall > 0) total("scheduler.task_run_s") / (wall * cores) else 0.0), "ratio")
    )).toMap
  }
}
