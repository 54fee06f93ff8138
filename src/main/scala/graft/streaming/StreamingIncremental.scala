package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

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
  *    semantics (see [[Drain]]).
  *
  * At 100 TB the only state that grows is the dedup store, bounded by
  * watermark horizon × key arrival rate, sharded across executors by
  * key — no driver-side history, no full-sink scans per batch (the
  * anti-join inside foreachBatch prunes to the batch's key set).
  */
object StreamingIncremental {

  /** Start one drain-available run.
    *
    * `sink` writes each deduplicated micro-batch, a lazy frame, and
    * returns the rows it inserted ([[graft.etl.Incremental.runOnceTo]]'s
    * contract). Any keyed idempotent sink gives exactly-once contents
    * (at-least-once delivery × key-conflict-skip), even across checkpoint
    * loss, where a full replay re-offers every row and the sink skips them all:
    *  - parquet: `b => Sinks.upsertAppend(b.sparkSession, b, dir, keys)`;
    *  - a relational database, the reference's actual shape (BigQuery
    *    export → Postgres upsert, the reference's `extract_bq.py:216-258`):
    *    `b => Sinks.jdbcUpsert(b, url, table, keys, dialect)`;
    *  - the Postgres bulk path, per-batch COPY into unlogged staging plus
    *    one set-based ON CONFLICT insert:
    *    `b => Sinks.copyUpsertPostgres(b, psqlArgs, table, keys)`.
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
      sink: DataFrame => Long,
      lateness: String = "1 hour",
      transform: DataFrame => DataFrame = identity): StreamingQuery = {
    val src = Drain.watermarked(spark, sourceDir, schema, tsMicrosCol, lateness)
      .dropDuplicatesWithinWatermark(keys)
    Drain.foreachBatch(transform(src).drop("__event_time"), checkpointDir) { batch =>
      // In-batch dedup is deterministic first-write-wins; the keyed sink
      // makes re-delivered batches no-ops, so the end-to-end effect is
      // exactly-once, mirroring flask_server.py:193.
      sink(EventOps.dedupFirstWrite(batch, keys, tsMicrosCol, keys.head))
    }
  }
}
