package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The two ends every file-fed streaming query in this package shares:
  * the watermarked parquet source, and the drain that starts the query.
  * Every query drains checkpointed on `Trigger.AvailableNow`, the
  * reference's cron-batch cadence (drain everything available, then
  * stop) with streaming semantics; swap the trigger for `ProcessingTime`
  * to go continuous. The drain has two sink forms: an append-mode
  * parquet file sink, and a `foreachBatch` body.
  */
private[streaming] object Drain {

  private val AqeKey = "spark.sql.adaptive.enabled"

  /** The parquet files under `sourceDir` as a stream whose event time
    * `__event_time` (from epoch-micros `tsMicrosCol`) is watermarked
    * `lateness` behind the newest row. Rows failing `keep` drop BEFORE
    * the watermark node, so they never advance it.
    */
  def watermarked(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      lateness: String,
      keep: Column = lit(true)): DataFrame =
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .filter(keep)
      .withColumn("__event_time", timestamp_micros(col(tsMicrosCol)))
      .withWatermark("__event_time", lateness)

  /** Appends the stream's finalized rows to the parquet files under `dir`. */
  def toParquet(stream: DataFrame, dir: String, checkpointDir: String): StreamingQuery =
    start(stream.writeStream.format("parquet").option("path", dir)
      .outputMode(OutputMode.Append), checkpointDir)

  /** Runs `body` on each micro-batch with the starting session's AQE
    * setting. Structured Streaming turns AQE off in the session of a
    * stateful query, so that the state store keeps its partitioning, and
    * that reaches the `foreachBatch` body too, though the micro-batch
    * there is an already planned, stateless frame. Without AQE a sink
    * writes the batch in `spark.sql.shuffle.partitions` files at most;
    * with the starting session's setting, in a data-sized count (see
    * [[graft.etl.Sinks.upsertAppend]]).
    */
  def foreachBatch(stream: DataFrame, checkpointDir: String)(body: DataFrame => Unit): StreamingQuery = {
    val aqe = stream.sparkSession.conf.get(AqeKey)
    start(stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val conf = batch.sparkSession.conf
      val prior = conf.get(AqeKey)
      conf.set(AqeKey, aqe)
      try body(batch) finally conf.set(AqeKey, prior)
    }, checkpointDir)
  }

  private def start(writer: DataStreamWriter[Row], checkpointDir: String): StreamingQuery =
    writer.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
