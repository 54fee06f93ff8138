package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.Tables

/** Runs a fixed number of operations of one workload in a closed loop
  * (one client; the next operation starts when the previous one has
  * returned) and prints the result line. See perfbench/README.md.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, results: Path, train: Seq[String])

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("results")).toAbsolutePath,
      m.get("train").map(_.split(",").toSeq).getOrElse(Nil))
  }

  /** Keys Spark or the launcher set on every session; they name the
    * application and the JVM, not the engine's configuration. Spark
    * itself also seeds `spark.hadoop.fs.s3a.*` defaults into every conf.
    */
  private val launchKeys = Set("spark.app.id", "spark.app.name", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.host", "spark.driver.port", "spark.executor.id",
    "spark.master", "spark.submit.deployMode", "spark.submit.pyFiles", "spark.ui.enabled",
    "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions",
    "spark.sql.warehouse.dir", "spark.sql.catalogImplementation")

  /** Session conf entries that differ from `Tables.builderConfigs`. */
  private def confDiff(spark: SparkSession): Map[String, String] = {
    val all = spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll
    val shipped = Tables.builderConfigs.toMap
    val extra = (all -- launchKeys).filter { case (k, v) =>
      !k.startsWith("spark.hadoop.fs.s3a.") && !shipped.get(k).contains(v) }
    val missing = shipped.filter { case (k, v) => !all.get(k).contains(v) }
      .map { case (k, v) => k -> s"<unset, shipped $v>" }
    extra ++ missing
  }

  /** Effective cores: spin one thread per processor for 200 ms; the
    * total work over the best single thread's.
    */
  private def effectiveCores(n: Int): Double = {
    val counts = new Array[Long](n)
    val until = System.nanoTime() + 200L * 1000 * 1000
    val ts = (0 until n).map(i => new Thread(() => {
      var x = 0L
      while (System.nanoTime() < until) x += 1
      counts(i) = x
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    counts.sum.toDouble / math.max(1L, counts.max)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Metrics as `{name: {"value", "unit"}}`, sorted by name. */
  private def asJson(m: Map[String, (Double, String)]) =
    mutable.LinkedHashMap(m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val builder = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    Tables.builderConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val code =
      try if (a.workload == "archive-training") train(a, spark) else run(a, spark, cores, sessionStart)
      finally spark.stop()
    sys.exit(code)
  }

  /** The set-up and one checked warm-up operation of each `--train`
    * workload, on smaller standing state, run once per build so the JVM's
    * class-data-sharing archive dumped at exit holds the classes the
    * workloads load (see run.py).
    */
  private def train(a: Args, spark: SparkSession): Int = {
    val ctx = new Ctx(spark, new Tracer(spark, enabled = false), a.seed, training = true)
    val problems = a.train.flatMap { name =>
      val w = Workload(name, ctx)
      try {
        w.setup(a.work.resolve(name))
        Workload.warmUp(w, math.min(1, w.warmUpOps))
        Nil
      } catch { case e: Exception => Seq(s"$name: $e") }
      finally w.close()
    }
    problems.foreach(p => System.err.println(s"perfbench: archive training: $p"))
    if (problems.isEmpty) 0 else 1
  }

  private def run(a: Args, spark: SparkSession, cores: Int, sessionStart: Double): Int = {
    val diff = confDiff(spark)
    val stamp = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "master" -> s"local[$cores]",
      "effective_cores" -> effectiveCores(Runtime.getRuntime.availableProcessors()),
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}",
      "conf_diff_vs_builderConfigs" -> diff,
      "tail_percentile" -> Workload.TailPercentile)
    System.out.println(Json.write(Map("stamp" -> stamp)))

    val scheduler = new SchedulerListener
    val plans = new PlanListener
    if (a.trace) {
      spark.sparkContext.addSparkListener(scheduler)
      spark.listenerManager.register(plans)
    }
    val tracer = new Tracer(spark, a.trace)
    val ctx = new Ctx(spark, tracer, a.seed)

    val s0 = System.nanoTime()
    val wl = Workload(a.workload, ctx)
    wl.setup(a.work.resolve("state"))
    val standingS = (System.nanoTime() - s0) / 1e9
    val w0 = System.nanoTime()
    Workload.warmUp(wl, wl.warmUpOps)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionStart + standingS + warmupS

    val latencies = mutable.ArrayBuffer[Double]()
    val opRecords = mutable.ArrayBuffer[(Int, Span, OpResult, Double)]()
    val problems = mutable.ArrayBuffer[String]()
    var rowsIn = 0L
    var attempted = 0
    var failed = 0
    // A run measures a fixed number of operations, so both sides of a
    // comparison do the same work whatever the host's speed.
    val plannedOps = math.max(1,
      math.round(wl.opsPerRun.toDouble * a.seconds / Workload.ReferenceSeconds).toInt)
    for (i <- 0 until plannedOps) {
      wl.arrive(i)
      tracer.op = i
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val res = try Right(tracer.span("op")(wl.op(i))) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = gcSeconds() - gc0
      tracer.op = -1
      attempted += 1
      latencies += wall
      res match {
        case Left(e) =>
          failed += 1
          problems += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
        case Right(r) =>
          rowsIn += r.rowsIn
          val p = try r.check() catch { case e: Throwable => Seq(s"check threw $e") }
          if (p.nonEmpty) { failed += 1; problems ++= p.map(x => s"op $i: $x") }
          if (a.trace) opRecords += ((i, tracer.spans.findLast(s => s.op == i && s.name == "op").get, r, gc))
      }
    }
    val opSeconds = latencies.sum
    // Spark's ContextCleaner drops unreachable broadcasts and shuffles
    // only after a GC has found them, on its own thread: collect, give it
    // time to run, and collect again before reading the heap.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val finalProblems = try wl.finish() catch { case e: Throwable => Seq(s"final check threw $e") }
    problems ++= finalProblems.map(x => s"final: $x")
    val sinkBytesPerRow = wl.sinkBytesPerRow
    val sinkFiles = wl.sinkFiles
    wl.close()
    if (diff.nonEmpty) problems += s"session conf differs from Tables.builderConfigs: $diff"
    val correct = problems.isEmpty && attempted > 0
    problems.take(20).foreach(p => System.err.println(s"perfbench: FAILED $p"))

    val rowsPerS = rowsIn / math.max(opSeconds, 1e-9)
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "rows_per_s" -> (rowsPerS, "rows/s"),
      "op_latency_p50_s" -> (median(latencies.toSeq), "s"),
      "op_latency_tail_s" -> (percentile(latencies.toSeq, Workload.TailPercentile), "s"),
      "sink_bytes_per_row" -> (sinkBytesPerRow, "bytes/row"),
      "retained_heap_mb" -> (retainedMb, "MB"))
    val summary = mutable.LinkedHashMap[String, Any](
      "stamp" -> stamp, "attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> failed.toDouble / math.max(1, attempted),
      "ops" -> latencies.size, "session_start_s" -> sessionStart,
      "standing_state_s" -> standingS, "warmup_s" -> warmupS,
      "op_latencies_s" -> latencies, "problems" -> problems,
      "end_to_end" -> asJson(endToEnd.toMap))
    Files.createDirectories(a.results)
    val base = a.results.resolve(s"${a.workload}-seed${a.seed}")

    val metrics: Map[String, (Double, String)] =
      if (!a.trace) {
        Files.writeString(Paths.get(s"$base-untraced.json"), Json.write(summary))
        endToEnd.toMap
      } else {
        org.apache.spark.PerfbenchListenerDrain(spark.sparkContext)
        val rollup = new Rollup(tracer, scheduler, plans, opRecords.toSeq, cores, sinkFiles)
        val layer = rollup.metrics + ("trace.rows_per_s" -> (rowsPerS, "rows/s"))
        val untracedFile = Paths.get(s"$base-untraced.json")
        val overhead: Any =
          if (!Files.exists(untracedFile)) "no untraced run of this workload and seed on record"
          else {
            val r = Json.number(Files.readString(untracedFile), "rows_per_s")
            Map("untraced_rows_per_s" -> r, "traced_rows_per_s" -> rowsPerS,
              "difference_rows_per_s" -> (r - rowsPerS))
          }
        summary ++= Seq("per_layer" -> asJson(layer),
          "tracing_overhead" -> overhead,
          "self_time_by_layer_s" -> rollup.selfTimeByLayer,
          "self_time_residual_s" -> rollup.maxResidual,
          "ops_detail" -> rollup.perOp,
          "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
            "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
        Files.writeString(Paths.get(s"$base-trace.json"), Json.write(summary))
        layer
      }
    System.out.println(Json.write(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> asJson(metrics))))
    System.out.flush()
    0
  }
}
