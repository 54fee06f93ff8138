package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingCorpus

/** Streaming corpus intake: content dedup within the watermark,
  * quality gate per micro-batch, and idempotent sink behavior across
  * resumed and replayed runs.
  */
class StreamingCorpusSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("ts_us", LongType)))

  private def goodText(tag: String): String =
    (1 to 15).map(i => s"${tag}word$i").mkString(" ") // 15 words: passes the gate

  test("streaming LSH candidates: near-dups pair across and within batches") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val base = Files.createTempDirectory("graft-slsh").toString
    val (src, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    val t0 = System.currentTimeMillis() * 1000L
    val textA = goodText("x")
    val textC = goodText("zq") // unrelated content, no shared shingles

    def run(): Unit = {
      val q = StreamingCorpus.lshCandidates(
          spark.readStream.schema(schema).parquet(src), "ts_us")
        .writeStream
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // batch 1: A and its same-batch exact dup A2, plus unrelated C
    Seq((1L, textA, t0 + 1), (2L, textA, t0 + 2), (9L, textC, t0 + 3))
      .toDF("doc_id", "text", "ts_us").coalesce(1).write.mode("append").parquet(src)
    run()
    val p1 = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 === Set((1L, 2L)), "same-batch exact dup must pair; unrelated must not")

    // batch 2: a LATE exact dup of A — pairs with both stored bucket members
    Seq((3L, textA, t0 + 10))
      .toDF("doc_id", "text", "ts_us").coalesce(1).write.mode("append").parquet(src)
    run()
    val p2 = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 === Set((1L, 2L), (1L, 3L), (2L, 3L)),
      "cross-batch dup must pair with every stored bucket member")
  }

  test("streaming LSH candidates over a static corpus equal the batch operator's") {
    // The batch-equivalence artifact for the streaming path: drain the
    // REAL documents corpus (sf0.001) through lshCandidates with
    // Trigger.AvailableNow and compare the candidate-pair SET to
    // minhashLshCandidates — same signatures (map-side expression is
    // law-equal to the batch aggregation), same banding, so the pair
    // sets must be identical; only the delivery mode differs.
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-slsheq").toString
    val (src, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    val t0 = System.currentTimeMillis() * 1000L
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.withColumn("ts_us", lit(t0) + col("doc_id"))
      .coalesce(1).write.mode("overwrite").parquet(src)

    val q = StreamingCorpus.lshCandidates(
        spark.readStream.schema(schema).parquet(src), "ts_us")
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val batch = graft.ops.Dedup.minhashLshCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    CacheScope.flush()
    assert(streamed === batch,
      s"streaming candidate set must equal batch (stream ${streamed.size}, batch ${batch.size})")
    assert(batch.nonEmpty, "corpus must actually contain near-dup candidates")
  }

  test("streaming LSH survives a bucket fed only rows older than the watermark") {
    // A NEW bucket created entirely from rows below the watermark would
    // compute maxTs+lateness < current watermark, which
    // setTimeoutTimestamp rejects. Spark 4.x drops such late events
    // before flatMapGroupsWithState, so the query must simply complete
    // with no output for them (the timeout clamp in lshCandidates stays
    // as defense-in-depth for engines/versions that deliver late rows).
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val base = Files.createTempDirectory("graft-slshlate").toString
    val (src, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    val t0 = System.currentTimeMillis() * 1000L

    def run(): Unit = {
      val q = StreamingCorpus.lshCandidates(
          spark.readStream.schema(schema).parquet(src), "ts_us")
        .writeStream
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // batch 1: recent rows push the watermark up to ~t0 − 1 h
    Seq((1L, goodText("w"), t0))
      .toDF("doc_id", "text", "ts_us").coalesce(1).write.mode("append").parquet(src)
    run()
    // batch 2: a brand-new bucket (different content) whose ONLY rows
    // are 10 h old — far below the watermark
    val late = t0 - 10L * 3600 * 1000 * 1000
    Seq((7L, goodText("lateonly"), late), (8L, goodText("lateonly"), late + 1))
      .toDF("doc_id", "text", "ts_us").coalesce(1).write.mode("append").parquet(src)
    run() // must not throw IllegalArgumentException from setTimeoutTimestamp
    val pairs = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((7L, 8L)),
      "rows below the watermark are dropped before the stateful operator")
  }
}
