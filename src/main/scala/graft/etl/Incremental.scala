package graft.etl

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.EventOps

/** The incremental watermark pipeline (SURVEY.md §2.10, §7.3) — the
  * batch-faithful form of the reference's `run_etl`
  * (`/root/reference/flask_server.py:82-229`):
  *
  *   read watermark → filter strictly-newer → transform → in-batch
  *   dedup → anti-join vs sink → append → advance watermark ONLY after
  *   the sink write succeeded, ONLY forward
  *   (`/root/reference/flask_server.py:183-185,204-207`).
  *
  * At-least-once delivery + the idempotent keyed sink = effectively-once,
  * exactly the reference's guarantee (`/root/reference/README.md:147-148`).
  *
  * The scale form of the same pipeline is Structured Streaming
  * (`readStream` → `dropDuplicatesWithinWatermark` → `foreachBatch`
  * upsert with `Trigger.AvailableNow()`), where the checkpoint dir
  * replaces this file-based scalar; the batch form is kept because it
  * is the faithful port and is what the oracle can check.
  */
object Incremental {

  /** Reference: `read_last_timestamp` (`/root/reference/flask_server.py:52-68`) —
    * persisted text scalar, else `now - lookback`.
    */
  def readWatermark(statePath: String, defaultUs: Long): Long = {
    val p = Paths.get(statePath)
    if (Files.exists(p)) Files.readString(p).trim.toLong else defaultUs
  }

  /** Reference: `write_last_timestamp` (`/root/reference/flask_server.py:71-79`).
    * Atomic move so a crash mid-write can't corrupt the checkpoint.
    */
  def writeWatermark(statePath: String, wmUs: Long): Unit = {
    val p = Paths.get(statePath)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val tmp = Paths.get(statePath + ".tmp")
    Files.writeString(tmp, wmUs.toString)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Single-flight guard (`/root/reference/flask_server.py:86-90`), one
    * per pipeline: the normalized absolute `statePath`s of the runs in
    * flight. The reference's check-then-set on a shared dict is racy; an
    * atomic set-add is the correct form. Keying by state path refuses a
    * second run of the same pipeline but lets pipelines with their own
    * watermarks run side by side; runs that share a sink must share a
    * state path, since the sinks assume a single writer.
    */
  private val running = ConcurrentHashMap.newKeySet[String]()

  final case class RunResult(rowsFetched: Long, rowsInserted: Long, newWatermarkUs: Long)

  /** One incremental run. `transform` is the pluggable extraction step
    * (N1 etc.); `keys` is the natural dedup key. Returns None if another
    * run with the same `statePath` is in flight (HTTP 409 analogue,
    * `/root/reference/flask_server.py:270-271`).
    */
  def runOnce(
      spark: SparkSession,
      source: DataFrame,
      tsCol: String,
      keys: Seq[String],
      statePath: String,
      sinkDir: String,
      defaultWatermarkUs: Long,
      transform: DataFrame => DataFrame = identity): Option[RunResult] =
    runOnceTo(spark, source, tsCol, keys, statePath, defaultWatermarkUs,
      batch => Sinks.upsertAppend(spark, batch, sinkDir, keys), transform)

  /** [[runOnce]] with a pluggable idempotent sink — the same watermark
    * / dedup / advance-after-commit protocol feeding any conflict-skip
    * writer: the parquet upsertAppend (default above), a live-Postgres
    * [[Sinks.copyUpsertPostgres]] (the reference's actual target,
    * exercised in PostgresDialectSpec), or a test double. The sink
    * returns rows actually inserted (cursor.rowcount semantics).
    *
    * The sink gets the deduplicated batch lazy, so the run is one Spark
    * query. The first action over the batch fills in its observed row
    * count and max `tsCol`, so it must read every row (a write, not an
    * `isEmpty` peek). With no barrier in the plan, Catalyst's constraint
    * inference puts `tsCol > wm` on the sink side of a keyed anti-join on
    * `tsCol`. A sink that never runs the batch leaves the observation
    * empty ([[Sinks.observed]]), and the run aggregates the batch itself.
    *
    * Task retries: the observation sits right above the dedup window, so
    * under the parquet sink's broadcast anti-join it is in the result stage
    * (accumulators applied once per partition); a sink that shuffles the
    * batch again (`jdbcUpsert`) puts it in a map stage, where a re-execution
    * can over-count `rowsFetched`. The watermark is a `max`, which a repeat keeps.
    */
  def runOnceTo(
      spark: SparkSession,
      source: DataFrame,
      tsCol: String,
      keys: Seq[String],
      statePath: String,
      defaultWatermarkUs: Long,
      sink: DataFrame => Long,
      transform: DataFrame => DataFrame = identity): Option[RunResult] = {
    val flight = Paths.get(statePath).toAbsolutePath.normalize.toString
    if (!running.add(flight)) return None
    try {
      val wm = readWatermark(statePath, defaultWatermarkUs)
      val fresh = transform(source.filter(col(tsCol) > lit(wm)))
      val fetched = Observation()
      val (rows, maxTs) = (count(lit(1)).as("rows"), max(col(tsCol)).as("max_ts"))
      val batch = EventOps.dedupFirstWrite(fresh, keys, tsCol, keys.head)
        .observe(fetched, rows, maxTs)
      val inserted = sink(batch)
      val got = Sinks.observed(fetched).getOrElse(batch.agg(rows, maxTs).head())
      // Advance only forward, only after the sink write committed —
      // mirrors flask_server.py:204-207 ordering.
      val newWm = if (got.isNullAt(1)) wm else math.max(wm, got.getLong(1))
      if (newWm > wm) writeWatermark(statePath, newWm)
      Some(RunResult(got.getLong(0), inserted, newWm))
    } finally running.remove(flight)
  }
}
