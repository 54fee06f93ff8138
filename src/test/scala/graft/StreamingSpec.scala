package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Sinks
import graft.streaming.StreamingIncremental

/** The Structured Streaming incremental path: drains available files,
  * checkpoints source progress, dedups re-deliveries, and resumes
  * incrementally on the next run — same observable behavior as the
  * batch Incremental pipeline.
  */
class StreamingSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("ts_us", LongType)))

  private val keys = Seq("user_id", "event_type", "ts_us")

  private def toSink(dir: String): DataFrame => Long =
    b => Sinks.upsertAppend(b.sparkSession, b, dir, keys)

  test("AvailableNow drains, checkpoints, and resumes incrementally") {
    val base = Files.createTempDirectory("graft-stream").toString
    val src = s"$base/src"
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"

    // epoch micros within the last hour so rows beat the watermark
    val t0 = System.currentTimeMillis() * 1000L

    val batch1 = Seq(
      (1L, "click", t0 + 100L), (2L, "view", t0 + 200L),
      (1L, "click", t0 + 100L) // in-stream duplicate
    ).toDF("user_id", "event_type", "ts_us")
    batch1.coalesce(1).write.mode("append").parquet(src)

    val q1 = StreamingIncremental.start(spark, src, schema, "ts_us", keys, ckpt, toSink(sink))
    q1.awaitTermination()
    val after1 = spark.read.parquet(sink).collect().map(_.toSeq).toSet
    assert(after1.size === 2)

    // second file: one replay (must be dropped), one new row
    val batch2 = Seq(
      (2L, "view", t0 + 200L),  // replay of an already-sunk key
      (3L, "buy", t0 + 300L)
    ).toDF("user_id", "event_type", "ts_us")
    batch2.coalesce(1).write.mode("append").parquet(src)

    val q2 = StreamingIncremental.start(spark, src, schema, "ts_us", keys, ckpt, toSink(sink))
    q2.awaitTermination()
    val after2 = spark.read.parquet(sink).collect().map(_.toSeq).toSet
    assert(after2.size === 3)
    assert(after2.map(r => (r(0), r(1))).contains((3L, "buy")))

    // third run with nothing new: sink unchanged
    val q3 = StreamingIncremental.start(spark, src, schema, "ts_us", keys, ckpt, toSink(sink))
    q3.awaitTermination()
    assert(spark.read.parquet(sink).collect().map(_.toSeq).toSet === after2)
  }

  test("a micro-batch at the shipped 200 shuffle partitions appends a data-sized file count") {
    val base = Files.createTempDirectory("graft-stream-wide").toString
    val (src, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    val t0 = System.currentTimeMillis() * 1000L
    (1 to 40).map(i => (i % 5L, Seq("click", "view", "buy")(i % 3), t0 + i))
      .toDF("user_id", "event_type", "ts_us").coalesce(1).write.parquet(src)
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "200")
    try StreamingIncremental.start(spark, src, schema, "ts_us", keys, ckpt, toSink(sink)).awaitTermination()
    finally spark.conf.set(key, prior)
    val files = new java.io.File(sink).listFiles().count(_.getName.startsWith("part-"))
    val cap = spark.sparkContext.defaultParallelism
    assert(files <= cap, s"the micro-batch appended $files part files, over $cap")
    assert(spark.read.parquet(sink).count() === 40L)
  }
}
