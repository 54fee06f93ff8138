package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Stream-stream inner join with watermarks and an event-time range
  * condition — the attribution shape ("purchase within 10 minutes of a
  * click"). Both sides keep bounded state: the watermark plus the time
  * bound lets Spark evict rows that can no longer match.
  */
class StreamingJoinSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts_us", LongType)))

  test("purchases join to the click within the attribution window") {
    val base = Files.createTempDirectory("graft-sjoin").toString
    val m = 60L * 1000000
    val t0 = 1000 * m

    Seq((1L, t0), (2L, t0), (3L, t0 + 100 * m))
      .toDF("user_id", "ts_us").coalesce(1).write.parquet(s"$base/clicks")
    Seq(
      (1L, t0 + 5 * m),   // within 10 min of user 1's click → match
      (2L, t0 + 30 * m),  // 30 min later → outside window, no match
      (9L, t0 + 5 * m)    // no click at all
    ).toDF("user_id", "ts_us").coalesce(1).write.parquet(s"$base/purchases")

    def stream(dir: String, prefix: String) =
      spark.readStream.schema(schema).parquet(dir)
        .select(
          col("user_id").as(s"${prefix}_user"),
          col("ts_us").as(s"${prefix}_ts"),
          timestamp_micros(col("ts_us")).as(s"${prefix}_time"))
        .withWatermark(s"${prefix}_time", "1 hour")

    val joined = stream(s"$base/clicks", "c")
      .join(
        stream(s"$base/purchases", "p"),
        expr(
          """c_user = p_user AND
            |p_time >= c_time AND p_time <= c_time + INTERVAL 10 MINUTES""".stripMargin))
      .select(col("c_user"), col("c_ts"), col("p_ts"))

    joined.writeStream
      .format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

    val out = spark.read.parquet(s"$base/sink")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(out === Set((1L, t0 + 5 * m)))
  }
}
