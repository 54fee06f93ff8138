package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Incremental, Sinks}

/** T1/T2 — the watermark pipeline: advances only forward and only on
  * success; incremental runs over a split stream equal one full run
  * (`/root/reference/flask_server.py:52-79,183-185,204-207`).
  */
class IncrementalSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-inc").toString

  private val keys = Seq("user_id", "event_type", "ts_us")

  private val stream = Seq(
    (1L, "click", 100L), (2L, "view", 200L), (1L, "click", 300L),
    (3L, "buy", 400L), (2L, "view", 500L), (1L, "view", 600L),
    // a late replay of an already-seen key (must be dropped by the sink)
    (1L, "click", 100L)
  ).toDF("user_id", "event_type", "ts_us")

  test("watermark file round-trips and defaults when absent") {
    val d = tmp()
    assert(Incremental.readWatermark(s"$d/wm.txt", 42L) === 42L)
    Incremental.writeWatermark(s"$d/wm.txt", 777L)
    assert(Incremental.readWatermark(s"$d/wm.txt", 42L) === 777L)
  }

  test("two incremental runs over a split equal one full run") {
    val base = tmp()
    // Full run in one shot.
    val fullState = s"$base/full_wm.txt"
    val fullSink = s"$base/full_sink"
    Incremental.runOnce(spark, stream, "ts_us", keys, fullState, fullSink, 0L)
    // Incremental: first the old half, then the whole stream again
    // (the second run sees only rows newer than the persisted watermark,
    // plus replays — which the keyed sink drops).
    val incState = s"$base/inc_wm.txt"
    val incSink = s"$base/inc_sink"
    val firstHalf = stream.filter($"ts_us" <= 300L)
    val r1 = Incremental.runOnce(spark, firstHalf, "ts_us", keys, incState, incSink, 0L).get
    assert(r1.newWatermarkUs === 300L)
    val r2 = Incremental.runOnce(spark, stream, "ts_us", keys, incState, incSink, 0L).get
    assert(r2.newWatermarkUs === 600L)

    val full = spark.read.parquet(fullSink).collect().map(_.toSeq).toSet
    val inc = spark.read.parquet(incSink).collect().map(_.toSeq).toSet
    assert(full === inc)
    assert(full.size === 6) // 7 input rows, 1 replay dropped
  }

  test("watermark does not move when there are no new rows") {
    val base = tmp()
    val state = s"$base/wm.txt"
    val sink = s"$base/sink"
    Incremental.runOnce(spark, stream, "ts_us", keys, state, sink, 0L)
    val r = Incremental.runOnce(spark, stream, "ts_us", keys, state, sink, 0L).get
    assert(r.rowsFetched === 0L)
    assert(r.rowsInserted === 0L)
    assert(r.newWatermarkUs === 600L)
    assert(Incremental.readWatermark(state, 0L) === 600L)
  }

  test("watermark is not advanced when the sink write fails") {
    val base = tmp()
    val state = s"$base/wm.txt"
    Incremental.writeWatermark(state, 250L)
    // A transform that blows up at execution time → the run fails
    // before any sink write, so the persisted watermark must not move.
    val boom = intercept[Exception] {
      Incremental.runOnce(
        spark, stream, "ts_us", keys, state, s"$base/sink", 0L,
        transform = df => df.filter(
          org.apache.spark.sql.functions.expr("assert_true(ts_us < 0)").isNull))
    }
    assert(Incremental.readWatermark(state, 0L) === 250L)
  }

  private def partFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).map(_.count(_.getName.startsWith("part-"))).getOrElse(0)

  private def sinkRows(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq

  // 40 distinct keys plus replays of the first 8
  private val wide = {
    val base = (1 to 40).map(i => (i % 5L, Seq("click", "view", "buy")(i % 3), 10L * i))
    (base ++ base.take(8)).toDF("user_id", "event_type", "ts_us")
  }

  /** Two runs over `wide` (its first half, then all of it) into a new
    * sink: the run results, the part files each run appended, the sink.
    */
  private def twoRuns(): (Seq[Incremental.RunResult], Seq[Int], Seq[String]) = {
    val base = tmp()
    val (state, sink) = (s"$base/wm.txt", s"$base/sink")
    val runs = Seq(wide.filter($"ts_us" <= 200L), wide).map { src =>
      val before = partFiles(sink)
      val r = Incremental.runOnce(spark, src, "ts_us", keys, state, sink, 0L).get
      (r, partFiles(sink) - before)
    }
    (runs.map(_._1), runs.map(_._2), sinkRows(sink))
  }

  test("at the shipped 200 shuffle partitions a run appends a data-sized file count") {
    val narrow = twoRuns()
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "200")
    val shipped = try twoRuns() finally spark.conf.set(key, prior)
    val cap = spark.sparkContext.defaultParallelism
    shipped._2.foreach(n => assert(n <= cap, s"a run appended $n part files, over $cap"))
    assert(shipped._1 === narrow._1)
    assert(shipped._3 === narrow._3)
  }

  test("a crash after the sink commit keeps the watermark; the rerun inserts nothing") {
    val base = tmp()
    val cleanSink = s"$base/clean_sink"
    val clean = Incremental.runOnce(spark, stream, "ts_us", keys, s"$base/clean_wm.txt",
      cleanSink, 0L).get
    val (state, sink) = (s"$base/wm.txt", s"$base/sink")
    Incremental.writeWatermark(state, 0L)
    intercept[IllegalStateException] {
      Incremental.runOnceTo(spark, stream, "ts_us", keys, state, 0L, batch => {
        Sinks.upsertAppend(spark, batch, sink, keys)
        throw new IllegalStateException("crash after the sink commit")
      })
    }
    assert(Incremental.readWatermark(state, -1L) === 0L)
    val rerun = Incremental.runOnce(spark, stream, "ts_us", keys, state, sink, 0L).get
    assert(rerun.rowsInserted === 0L)
    assert(rerun.newWatermarkUs === clean.newWatermarkUs)
    assert(sinkRows(sink) === sinkRows(cleanSink))
  }

  /** Every file and directory under `dir`, as paths relative to it. */
  private def tree(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.map(root.relativize(_).toString).toSet finally s.close()
    }
  }

  test("a parquet run with no new rows appends no part file") {
    val base = tmp()
    val (state, sink) = (s"$base/wm.txt", s"$base/sink")
    Incremental.runOnce(spark, stream, "ts_us", keys, state, sink, 0L)
    val before = tree(sink)
    val r = Incremental.runOnce(spark, stream, "ts_us", keys, state, sink, 0L).get
    assert(r.rowsInserted === 0L)
    assert(tree(sink) === before, "the empty run changed the sink directory")
    // nothing to append into a sink that does not exist leaves it absent
    val absent = s"$base/absent"
    assert(Incremental.runOnce(spark, stream, "ts_us", keys, state, absent, 0L).get.rowsFetched === 0L)
    assert(!Files.exists(java.nio.file.Paths.get(absent)))
  }

  test("a streaming drain whose last micro-batch has no data appends no part file") {
    val base = tmp()
    val (src, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    val t0 = System.currentTimeMillis() * 1000L
    stream.select($"user_id", $"event_type", ($"ts_us" + t0).as("ts_us"))
      .coalesce(1).write.parquet(src)
    val calls = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    val schema = stream.schema
    graft.streaming.StreamingIncremental.start(spark, src, schema, "ts_us", keys, ckpt, b => {
      val files = partFiles(sink)
      val n = Sinks.upsertAppend(b.sparkSession, b, sink, keys)
      calls += ((n, partFiles(sink) - files))
      n
    }).awaitTermination()
    assert(calls.map(_._1).sum === 6L)
    assert(calls.last._1 === 0L, s"the drain's last micro-batch carried data: $calls")
    calls.filter(_._1 == 0L).foreach(c => assert(c._2 === 0, s"an empty micro-batch appended: $calls"))
    assert(!tree(sink).exists(_.startsWith("_staging")), "a staging directory was left behind")
  }

  test("a sink that never reads its batch still gets the fetched count and watermark") {
    val base = tmp()
    val run = Future(Incremental.runOnceTo(spark, stream, "ts_us", keys, s"$base/wm.txt", 0L, _ => 0L))
    val r = Await.result(run, 2.minutes).get
    assert(r === Incremental.RunResult(6L, 0L, 600L))
    assert(Incremental.readWatermark(s"$base/wm.txt", 0L) === 600L)
  }

  /** Starts a run on `state` whose sink holds until `release` opens;
    * returns once that run is inside its sink.
    */
  private def heldRun(state: String, release: CountDownLatch): Future[Option[Incremental.RunResult]] = {
    val entered = new CountDownLatch(1)
    val run = Future {
      Incremental.runOnceTo(spark, stream, "ts_us", keys, state, 0L, _ => {
        entered.countDown()
        assert(release.await(120, TimeUnit.SECONDS))
        0L
      })
    }
    assert(entered.await(120, TimeUnit.SECONDS), "held run never reached its sink")
    run
  }

  test("single-flight: a second run on the same state path is refused") {
    val base = tmp()
    val release = new CountDownLatch(1)
    val held = heldRun(s"$base/wm.txt", release)
    try {
      // the same path, spelled differently
      val second = Incremental.runOnce(spark, stream, "ts_us", keys, s"$base/./wm.txt",
        s"$base/sink", 0L)
      assert(second === None)
    } finally release.countDown()
    assert(Await.result(held, 2.minutes).isDefined)
    assert(Incremental.runOnce(spark, stream, "ts_us", keys, s"$base/wm.txt",
      s"$base/sink", 0L).isDefined, "the guard is released when a run ends")
  }

  test("single-flight: runs on different state paths proceed concurrently") {
    val base = tmp()
    val release = new CountDownLatch(1)
    val held = heldRun(s"$base/a_wm.txt", release)
    val other = try Incremental.runOnce(spark, stream, "ts_us", keys, s"$base/b_wm.txt",
      s"$base/b_sink", 0L) finally release.countDown()
    assert(other.map(_.rowsInserted) === Some(6L))
    assert(Await.result(held, 2.minutes).isDefined)
  }
}
