package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventOps, Text}

/** Batch-17 operator fixtures: canonical-URL dedup, daily-volume
  * anomaly detection, and the law-based compression-ratio signal.
  */
class Batch17OpsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- canonicalUrlDedup ---------------------------------------------------

  test("canonicalUrlDedup: case, query string, and trailing slash collapse; min id keeps") {
    val urls = Seq(
      (1L, "https://Site.Example.com/a/b?utm_source=x&id=2"),
      (2L, "https://site.example.com/a/b/"),
      (3L, "https://site.example.com/a/b"),
      (4L, "https://site.example.com/other"))
      .toDF("doc_id", "url")
    val out = Text.canonicalUrlDedup(urls).orderBy("doc_id").collect()
    val canon = out.map(_.getString(1))
    assert(canon(0) === canon(1) && canon(1) === canon(2))
    assert(canon(3) !== canon(0))
    assert(out.map(r => r.getLong(r.fieldIndex("keep"))).toSeq === Seq(1L, 0L, 0L, 1L))
    assert(out.head.getLong(out.head.fieldIndex("n_variants")) === 3L)
  }

  // ---- dailyVolumeAnomalies ------------------------------------------------

  test("dailyVolumeAnomalies: an outage day flags; normal days don't; outliers don't drag the baseline") {
    // 9 normal days (100 +/- 2 events) + one outage day (5 events)
    val rows = (0 until 9).flatMap { d =>
      (0 until 100 + (d % 3)).map(i => (d.toLong * 86400000000L + i, 1L))
    } ++ (0 until 5).map(i => (9L * 86400000000L + i, 1L))
    val ev = rows.toDF("ts_us", "user_id")
    val out = EventOps.dailyVolumeAnomalies(ev, "ts_us", 3.0)
      .orderBy("day").collect()
    assert(out.length === 10)
    assert(out.last.getLong(out.last.fieldIndex("anomaly")) === 1L,
      "the 5-event day must flag")
    assert(out.init.forall(_.getLong(out.head.fieldIndex("anomaly")) === 0L),
      "normal days must not flag — median/MAD ignores the outage day")
  }

  test("dailyVolumeAnomalies: constant volume (MAD 0) yields NULL z, zero flags, no fault") {
    val rows = (0 until 3).flatMap { d =>
      (0 until 10).map(i => (d.toLong * 86400000000L + i, 1L)) }
    val out = EventOps.dailyVolumeAnomalies(rows.toDF("ts_us", "user_id"), "ts_us", 3.0)
      .collect()
    assert(out.forall(_.isNullAt(out.head.fieldIndex("robust_z_r"))))
    assert(out.forall(_.getLong(out.head.fieldIndex("anomaly")) === 0L))
  }

  // ---- perplexityBuckets ---------------------------------------------------

  test("perplexityBuckets: per-source thirds; the common-token doc heads, rare-token doc tails") {
    import graft.ops.Corpus
    // 'c' is corpus-common, 'r1/r2/r3' rare: doc 1 is most fluent
    val docs = Seq(
      (1L, "c c c", "s"), (2L, "c c r1", "s"), (3L, "r2 r3 c", "s"))
      .toDF("doc_id", "text", "source")
    val out = Corpus.perplexityBuckets(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(r.fieldIndex("bucket"))).toMap
    assert(out === Map(1L -> "head", 2L -> "middle", 3L -> "tail"))
  }

  test("perplexityBuckets: bucket thresholds adapt per source (the CCNet point)") {
    import graft.ops.Corpus
    // source B is uniformly less fluent than A's WORST doc, yet still
    // gets its own head — a global cut would have dropped all of B
    val docs = Seq(
      (1L, "c c c c", "a"), (2L, "c c c r1", "a"), (3L, "c c r2 r3", "a"),
      (4L, "r4 r5 c", "b"), (5L, "r6 r7 r8", "b"), (6L, "r9 r10 r11", "b"))
      .toDF("doc_id", "text", "source")
    val out = Corpus.perplexityBuckets(docs).collect()
      .map(r => (r.getLong(0), r.getString(r.fieldIndex("bucket"))))
    assert(out.count(_._2 == "head") === 2, "each source contributes its own head")
    assert(out.toMap.apply(4L) === "head")
  }

  // ---- applyChangelog ------------------------------------------------------

  test("applyChangelog: last writer wins, deletes remove, untouched keys pass through") {
    import graft.ops.Mutations
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val changes = Seq(
      (1L, "U", 1L, 11L), (1L, "U", 2L, 12L),   // seq 2 wins
      (2L, "D", 1L, 0L),                         // delete key 2
      (4L, "I", 1L, 40L))                        // insert new key
      .toDF("k", "op", "seq", "v")
    val out = Mutations.applyChangelog(base, changes, "k", "seq")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out === Array((1L, 12L), (3L, 30L), (4L, 40L)))
  }

  test("applyChangelog: a same-sequence insert+delete converges to absent (delete outranks)") {
    import graft.ops.Mutations
    val base = spark.emptyDataFrame.withColumn("k", lit(0L)).withColumn("v", lit(0L))
      .filter(lit(false))
    val changes = Seq((5L, "I", 1L, 50L), (5L, "D", 1L, 0L)).toDF("k", "op", "seq", "v")
    assert(Mutations.applyChangelog(base, changes, "k", "seq").count() === 0L)
  }

  test("applyChangelog: replaying the same changelog is idempotent") {
    import graft.ops.Mutations
    val base = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val changes = Seq((1L, "U", 1L, 99L), (2L, "D", 1L, 0L)).toDF("k", "op", "seq", "v")
    val once = Mutations.applyChangelog(base, changes, "k", "seq")
    val twice = Mutations.applyChangelog(once, changes, "k", "seq")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(twice === Array((1L, 99L)))
  }

  // ---- compressionRatio ----------------------------------------------------
}
