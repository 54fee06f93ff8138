package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingAggregates
import graft.streaming.StreamingAggregates.{TouchInput, TouchOut}

class StreamingAggSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("ts_us", LongType)))

  /** Writes each frame as one parquet file under `base/src`, modified in
    * order, so a `maxFilesPerTrigger=1` stream reads one per batch. */
  private def landInOrder(base: String, files: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    val now = System.currentTimeMillis()
    new java.io.File(s"$base/src").mkdirs()
    files.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.parquet(s"$base/stage$i")
      val part = new java.io.File(s"$base/stage$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$base/src/f$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(now - 10000L + i * 5000L) // file order = arrival order
    }
  }

  test("streaming HLL registers project to EXACTLY the batch estimate") {
    val base = Files.createTempDirectory("graft-shll").toString
    val h = 3600L * 1000000
    val gkSchema = StructType(Seq(
      StructField("g", StringType), StructField("k", StringType),
      StructField("ts_us", LongType)))
    // two groups with known cardinalities inside hour 0 (dup rows
    // collapse in the registers); a far-future tick finalizes the hour
    val rows = (0 until 80).flatMap(i => Seq(("a", s"u$i", (i + 1L) * 1000000))) ++
      (0 until 300).map(i => ("b", s"v${i % 150}", (i + 1L) * 1000000)) :+
      (("tick", "x", 100 * h))
    rows.toDF("g", "k", "ts_us").coalesce(1).write.parquet(s"$base/src")

    StreamingAggregates.hllRegisters(
      spark, s"$base/src", gkSchema, "ts_us", "g", "k",
      s"$base/ckpt", s"$base/sink").awaitTermination()

    // serving-layer projection from the finalized registers
    val regs = spark.read.parquet(s"$base/sink")
      .filter($"g".isin("a", "b"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    def estimate(g: String): Double = {
      val mj = regs.filter(_._1 == g).map(t => t._2 -> t._3).toMap
      val v = 64.0 - mj.size
      val z = v + mj.values.map(m => math.pow(2.0, -m.toDouble)).sum
      val e = 0.709 * 64 * 64 / z
      val est = if (e <= 160.0 && v > 0) 64.0 * math.log(64.0 / v) else e
      BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val batch = graft.ops.Sketches.hllDistinct(
        rows.toDF("g", "k", "ts_us").filter($"g" =!= "tick"), "g", "k")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // identical registers => identical estimate — exact equality, and
    // the exact column confirms the planted cardinalities
    assert(batch("a")._1 === 80L && batch("b")._1 === 150L)
    assert(estimate("a") === batch("a")._2)
    assert(estimate("b") === batch("b")._2)
  }

  test("streaming CMS counters project to EXACTLY the batch estimate") {
    val base = Files.createTempDirectory("graft-scms").toString
    val h = 3600L * 1000000
    val kSchema = StructType(Seq(
      StructField("k", StringType), StructField("ts_us", LongType)))
    val data = (0 until 400).map(i =>
      (if (i % 4 == 0) "hot" else s"u${i % 23}", (i + 1L) * 1000000))
    val rows = data :+ (("tick", 100 * h)) // watermark pusher; its window stays open
    rows.toDF("k", "ts_us").coalesce(1).write.parquet(s"$base/src")

    StreamingAggregates.cmsCounters(
      spark, s"$base/src", kSchema, "ts_us", "k",
      s"$base/ckpt", s"$base/sink").awaitTermination()

    val counters = spark.read.parquet(s"$base/sink")
      .collect().map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    // serving-layer point query: min over the key's d counters
    def bucket(j: Int, k: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$j|$k".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    def estimate(k: String): Long =
      (0 until 4).map(j => counters.getOrElse((j, bucket(j, k)), 0L)).min
    val batch = graft.ops.Sketches.cmsHeavyHitters(
        data.toDF("k", "ts_us"), "k", topK = 5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // identical counters => identical estimate; the hot key's true
    // count is planted
    assert(batch("hot")._1 === 100L)
    assert(estimate("hot") === batch("hot")._2)
    // every key in the batch top-k projects identically from the sink
    batch.foreach { case (k, (_, est)) => assert(estimate(k) === est, k) }
  }

  test("streaming Bloom bits project to EXACTLY the batch maybe_seen verdicts") {
    val base = Files.createTempDirectory("graft-sbloom").toString
    val h = 3600L * 1000000
    val kSchema = StructType(Seq(
      StructField("bk", StringType), StructField("ts_us", LongType)))
    val m = graft.ops.Sketches.bloomBits(300)
    // history keys land in hour 0; far-future tick finalizes it
    val hist = (0 until 300).map(i => (s"k$i", (i + 1L) * 1000000))
    (hist :+ (("tick", 100 * h))).toDF("bk", "ts_us")
      .coalesce(1).write.parquet(s"$base/src")

    StreamingAggregates.bloomBitsStream(
      spark, s"$base/src", kSchema, "ts_us", "bk",
      s"$base/ckpt", s"$base/sink", m = m).awaitTermination()

    // serving-layer projection: probe key maybe_seen iff ALL k of its
    // positions are set in the finalized window's bit frame
    val bits = spark.read.parquet(s"$base/sink")
      .filter($"win_start" === new java.sql.Timestamp(0L))
      .collect().map(_.getLong(1)).toSet
    def pos(i: Int, k: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$i|$k".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % m
    }
    def maybeSeen(k: String): Boolean = (0 until 3).forall(i => bits(pos(i, k)))
    // probes: 50 repeats + 50 fresh — identical bits => identical
    // verdicts vs the batch operator on the same history
    val probes = (0 until 50).map(i => (i.toLong, s"k$i")) ++
      (0 until 50).map(i => (100L + i, s"fresh$i"))
    val batch = graft.ops.Sketches.bloomDedupFlags(
        hist.toDF("bk", "ts_us").select($"bk".as("bk0")),
        probes.toDF("event_id", "bk0"), org.apache.spark.sql.functions.col("bk0"),
        "event_id", m = m)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    probes.foreach { case (id, k) =>
      assert(maybeSeen(k) === batch(id)._1, s"probe $k diverged from batch")
    }
    // the defining property survives the streaming path: seen => maybe
    assert(probes.forall { case (id, k) => !batch(id)._2 || maybeSeen(k) })
  }

  test("streaming HDR buckets project to EXACTLY the batch quantiles") {
    val base = Files.createTempDirectory("graft-shdr").toString
    val h = 3600L * 1000000
    val gvSchema = StructType(Seq(
      StructField("g", StringType), StructField("v", DoubleType),
      StructField("ts_us", LongType)))
    val rnd = new scala.util.Random(7)
    val data = (1 to 2000).map(i =>
      ("g1", math.exp(rnd.nextGaussian() * 1.2 + 2.5), (i + 1L) * 1000000))
    (data :+ (("tick", 1.0, 100 * h))).toDF("g", "v", "ts_us")
      .coalesce(1).write.parquet(s"$base/src")

    StreamingAggregates.hdrBuckets(
      spark, s"$base/src", gvSchema, "ts_us", "g", "v",
      s"$base/ckpt", s"$base/sink").awaitTermination()

    // serving-layer projection: cumulative fold over the finalized
    // (bucket, c, rep) rows — the batch operator's window math
    val buckets = spark.read.parquet(s"$base/sink")
      .filter($"g" === "g1")
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    val n = buckets.map(_._2).sum
    def quantile(q: Double): Double = {
      val need = math.ceil(q * n).toLong
      var cum = 0L
      val rep = buckets.collectFirst {
        case (_, c, r) if { cum += c; cum >= need } => r
      }.get
      BigDecimal(rep).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val batch = graft.ops.Sketches.hdrQuantiles(
        data.toDF("g", "v", "ts_us"), "g", "v", Seq(0.5, 0.9, 0.99))
      .collect().head
    assert(batch.getLong(1) === n)
    assert(quantile(0.5) === batch.getDouble(2))
    assert(quantile(0.9) === batch.getDouble(3))
    assert(quantile(0.99) === batch.getDouble(4))
  }

  test("streaming last-touch attribution matches the batch operator on one batch") {
    val base = Files.createTempDirectory("graft-attr").toString
    val t0 = 1000L * 60 * 1000000
    val rows = Seq(
      // user 10: click@+100, purchase@+200 -> touch, gap 100
      TouchInput(1L, 10L, t0 + 100, "click"), TouchInput(2L, 10L, t0 + 200, "purchase"),
      // user 20: purchase@+50 before any click -> unattributed
      TouchInput(3L, 20L, t0 + 50, "purchase"), TouchInput(4L, 20L, t0 + 60, "click"),
      // user 30: tie ts, click event_id 6 < purchase event_id 7 -> touch at +7
      TouchInput(5L, 30L, t0 + 5, "click"), TouchInput(6L, 30L, t0 + 7, "click"),
      TouchInput(7L, 30L, t0 + 7, "purchase"),
      // watermark pusher
      TouchInput(99L, 99L, t0 + 10000L * 60 * 1000000, "view"))
    rows.toDF().coalesce(1).write.parquet(s"$base/src")

    val src = spark.readStream.schema(
      StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts_us", LongType), StructField("event_type", StringType))))
      .parquet(s"$base/src").as[TouchInput]

    StreamingAggregates.attribute(src, "click", "purchase", idleUs = 3600L * 1000000)
      .writeStream
      .format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

    val streamed = spark.read.parquet(s"$base/sink").as[TouchOut]
      .collect().map(o => (o.event_id, o.last_touch_ts)).toMap

    val batch = graft.ops.EventOps.lastTouchAttribution(
        rows.toDF(), "ts_us", "event_type", "click", "purchase")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap

    assert(streamed === batch)
    assert(streamed(2L) === Some(t0 + 100))
    assert(streamed(3L) === None)
    assert(streamed(7L) === Some(t0 + 7))
  }

  test("streaming last-touch attribution evicts a touch the watermark passed between batches") {
    val base = Files.createTempDirectory("graft-attr-evict").toString
    val t0 = 1000L * 60 * 1000000
    val hourUs = 3600L * 1000000
    // file 1: user 10's click at t0 and a pusher at t0+10h (watermark
    // t0+9h after the batch); file 2: user 10's purchase at t0+9.5h. The
    // click's timeout (t0+1h) is behind the watermark when file 2 lands,
    // so it is evicted, as a no-data batch between the files would do.
    val files = Seq(
      Seq(TouchInput(1L, 10L, t0, "click"), TouchInput(99L, 99L, t0 + 10 * hourUs, "view")),
      Seq(TouchInput(2L, 10L, t0 + 19 * hourUs / 2, "purchase")))
    landInOrder(base, files.map(_.toDF()))

    val src = spark.readStream.option("maxFilesPerTrigger", "1").schema(
      StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts_us", LongType), StructField("event_type", StringType))))
      .parquet(s"$base/src").as[TouchInput]
    StreamingAggregates.attribute(src, "click", "purchase", idleUs = hourUs)
      .writeStream
      .format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

    val streamed = spark.read.parquet(s"$base/sink").as[TouchOut].collect()
      .map(o => (o.event_id, o.last_touch_ts)).toMap
    assert(streamed === Map(2L -> None))
  }
}
