package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.Sinks
import graft.ops.EventOps

/** The scale form of the incremental pipeline (SURVEY §7.3): where
  * [[graft.etl.Incremental]] faithfully ports the reference's
  * file-watermark batch loop (`/root/reference/flask_server.py:82-229`),
  * this runs the same semantics as a Structured Streaming job:
  *
  *  - the source offset checkpoint replaces the hand-rolled
  *    `last_timestamp.txt` scalar (exactly-once source progress, crash
  *    safe, no persist-after-commit ordering to get wrong);
  *  - `withWatermark` + `dropDuplicatesWithinWatermark` dedups
  *    re-deliveries inside the lateness horizon with BOUNDED state —
  *    the unbounded-history anti-join is only needed for arbitrarily
  *    late replays, which `foreachBatch` + the idempotent keyed sink
  *    still absorbs;
  *  - `Trigger.AvailableNow` gives the reference's cron-batch cadence
  *    (drain everything available, then stop) while keeping streaming
  *    semantics; swap for `ProcessingTime` to go continuous.
  *
  * At 100 TB the only state that grows is the dedup store, bounded by
  * watermark horizon × key arrival rate, sharded across executors by
  * key — no driver-side history, no full-sink scans per batch (the
  * anti-join inside foreachBatch prunes to the batch's key set).
  */
object StreamingIncremental {

  private val AqeKey = "spark.sql.adaptive.enabled"

  /** Runs a `foreachBatch` body with `aqe` as the micro-batch session's
    * AQE setting. Structured Streaming turns AQE off in the session of a
    * stateful query, so that the state store keeps its partitioning, and
    * that reaches the `foreachBatch` body too, though the micro-batch
    * there is an already planned, stateless frame. Without AQE the sink
    * materializes the batch at `spark.sql.shuffle.partitions` and appends
    * up to one file per partition; with the starting session's setting
    * it appends a data-sized count (see [[Sinks.upsertAppend]]).
    */
  private[streaming] def withAqe[T](batch: DataFrame, aqe: String)(body: => T): T = {
    val conf = batch.sparkSession.conf
    val prior = conf.get(AqeKey)
    conf.set(AqeKey, aqe)
    try body finally conf.set(AqeKey, prior)
  }

  private[streaming] def aqeOf(spark: SparkSession): String = spark.conf.get(AqeKey)

  /** Start one drain-available run.
    *
    * @param transform extraction step applied per micro-batch (N1 etc.)
    * @param keys natural dedup key (reference: user, ts, event name)
    */
  def start(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      keys: Seq[String],
      checkpointDir: String,
      sinkDir: String,
      lateness: String = "1 hour",
      transform: DataFrame => DataFrame = identity): StreamingQuery = {
    val src = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .withColumn("__event_time", timestamp_micros(col(tsMicrosCol)))
      .withWatermark("__event_time", lateness)
      .dropDuplicatesWithinWatermark(keys)
    val aqe = aqeOf(spark)
    transform(src)
      .drop("__event_time")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        withAqe(batch, aqe) {
          // In-batch dedup is deterministic first-write-wins; the keyed
          // anti-join append makes re-delivered batches no-ops, so the
          // end-to-end effect is exactly-once (at-least-once delivery ×
          // idempotent sink), mirroring flask_server.py:193.
          val deduped = EventOps.dedupFirstWrite(batch, keys, tsMicrosCol, keys.head)
          Sinks.upsertAppend(batch.sparkSession, deduped, sinkDir, keys)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Same pipeline, relational-database sink — the reference's actual
    * shape (BigQuery export → Postgres upsert,
    * `/root/reference/extract_bq.py:216-258`): each micro-batch lands
    * via [[Sinks.jdbcUpsert]]'s per-partition batched conflict-skip
    * insert. At-least-once delivery × key-conflict-skip = exactly-once
    * table contents, even across checkpoint loss (a full replay
    * re-offers every row and the database skips them all).
    */
  def startJdbc(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      keys: Seq[String],
      checkpointDir: String,
      url: String,
      table: String,
      dialect: (String, Seq[String], Seq[String]) => Sinks.UpsertDialect,
      lateness: String = "1 hour",
      transform: DataFrame => DataFrame = identity): StreamingQuery = {
    val src = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .withColumn("__event_time", timestamp_micros(col(tsMicrosCol)))
      .withWatermark("__event_time", lateness)
      .dropDuplicatesWithinWatermark(keys)
    val aqe = aqeOf(spark)
    transform(src)
      .drop("__event_time")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        withAqe(batch, aqe) {
          val deduped = EventOps.dedupFirstWrite(batch, keys, tsMicrosCol, keys.head)
          Sinks.jdbcUpsert(deduped, url, table, keys, dialect)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Same pipeline, COPY-staging Postgres sink — the warehouse bulk
    * path ([[Sinks.copyUpsertPostgres]]: per-micro-batch COPY into
    * unlogged staging + one set-based ON CONFLICT insert). The same
    * exactly-once algebra as [[startJdbc]] (at-least-once delivery ×
    * key-conflict-skip), with per-batch bulk loads instead of row
    * binds — what a continuous 100 TB intake actually does to a
    * relational serving store. Exercised against a live PostgreSQL in
    * PostgresDialectSpec.
    */
  def startCopyUpsert(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      keys: Seq[String],
      checkpointDir: String,
      psqlArgs: Seq[String],
      table: String,
      lateness: String = "1 hour",
      transform: DataFrame => DataFrame = identity): StreamingQuery = {
    val src = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .withColumn("__event_time", timestamp_micros(col(tsMicrosCol)))
      .withWatermark("__event_time", lateness)
      .dropDuplicatesWithinWatermark(keys)
    val aqe = aqeOf(spark)
    transform(src)
      .drop("__event_time")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        withAqe(batch, aqe) {
          val deduped = EventOps.dedupFirstWrite(batch, keys, tsMicrosCol, keys.head)
          Sinks.copyUpsertPostgres(deduped, psqlArgs, table, keys)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
