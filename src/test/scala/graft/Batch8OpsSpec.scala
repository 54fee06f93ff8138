package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Relational, Text}

/** Batch-8 operator fixtures: date-spine gap fill, forward fill
  * (LOCF), and unigram-entropy lexical diversity — each pinned by a
  * hand-computed example including its edge cases (silent days, leading
  * nulls, single-token docs).
  */
class Batch8OpsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val us = 86400000000L // one day of microseconds

  test("gapFillDaily: silent middle days appear zero-filled, per key") {
    // key a: activity on day 0 and day 3 -> spine has days 1, 2 at n=0
    // key b: one day only -> single-row spine
    val ev = Seq(
      (1L, "a", 0L), (2L, "a", 3 * us), (3L, "a", 3 * us + 5L),
      (4L, "b", 1 * us)
    ).toDF("event_id", "k", "ts_us")
    val out = Relational.gapFillDaily(ev, "k", "ts_us")
      .orderBy("k", "day")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out === Array(
      ("a", "1970-01-01", 1L), ("a", "1970-01-02", 0L),
      ("a", "1970-01-03", 0L), ("a", "1970-01-04", 2L),
      ("b", "1970-01-02", 1L)))
  }

  test("gapFillDaily: null keys dropped; totals preserved on the spine") {
    val ev = Seq(
      (1L, Some("a"), 0L), (2L, None, 0L), (3L, Some("a"), 0L)
    ).toDF("event_id", "k", "ts_us")
    val out = Relational.gapFillDaily(ev, "k", "ts_us").collect()
    assert(out.length === 1)
    assert(out.head.getLong(2) === 2L)
  }

  test("forwardFill: nulls take the last prior value; leading null stays") {
    val df = Seq(
      (1L, "u", 1L, Option.empty[Double]), // leading null -> stays null
      (2L, "u", 2L, Some(5.0)),
      (3L, "u", 3L, None),                 // -> 5.0
      (4L, "u", 4L, Some(7.0)),
      (5L, "u", 5L, None),                 // -> 7.0
      (6L, "v", 1L, None)                  // other key: its own leading null
    ).toDF("event_id", "k", "ord", "v")
    val out = Relational.forwardFill(df, "k", Seq("ord"), "v")
      .orderBy("k", "ord")
      .collect().map(r => (r.getLong(0), Option(r.get(4)).map(_.asInstanceOf[Double])))
    assert(out === Array(
      (1L, None), (2L, Some(5.0)), (3L, Some(5.0)),
      (4L, Some(7.0)), (5L, Some(7.0)), (6L, None)))
  }

  test("tokenEntropy: uniform tokens hit ln(k); repetition scores 0") {
    val docs = Seq(
      (1L, "a b c d"),   // 4 distinct, uniform -> ln(4)
      (2L, "a a a a"),   // one token repeated -> 0
      (3L, "solo"),      // single token -> 0
      (4L, "")           // zero tokens -> absent
    ).toDF("doc_id", "text")
    val out = Text.tokenEntropy(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1) === Array(1L, 2L, 3L))
    assert(out(0)._2 === 4L)
    assert(out(0)._3 === math.rint(math.log(4) * 1e4) / 1e4)
    assert(out(1)._3 === 0.0)
    assert(out(2)._3 === 0.0)
  }

  test("tokenEntropy: skewed distribution sits strictly between 0 and ln(k)") {
    // counts {a:3, b:1}: H = ln(4) - (3 ln 3 + 0)/4
    val docs = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val h = Text.tokenEntropy(docs).collect().head.getDouble(2)
    val expected = math.log(4) - 3 * math.log(3) / 4
    assert(h === math.rint(expected * 1e4) / 1e4)
    assert(h > 0.0 && h < math.log(2) + 1e-9)
  }

  test("rollingDistinctDaily: multi-day users count once per window") {
    // user 10 active day0 AND day1 -> day1's trailing window counts it once;
    // day2 has no events but sits inside the span -> spine row, n=1 (both
    // day0/day1 users still inside the 7-day window)
    val ev = Seq(
      (1L, 10L, 0L), (2L, 10L, 1 * us), (3L, 20L, 1 * us),
      (4L, 30L, 3 * us)
    ).toDF("event_id", "user_id", "ts_us")
    val out = Relational.rollingDistinctDaily(ev, "user_id", "ts_us", windowDays = 7)
      .orderBy("day")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out === Array(
      ("1970-01-01", 1L), ("1970-01-02", 2L), ("1970-01-03", 2L),
      ("1970-01-04", 3L)))
  }

  test("rollingDistinctDaily: window slides off — old users age out") {
    val ev = Seq(
      (1L, 10L, 0L), (2L, 20L, 9 * us)
    ).toDF("event_id", "user_id", "ts_us")
    val out = Relational.rollingDistinctDaily(ev, "user_id", "ts_us", windowDays = 3)
      .orderBy("day")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // user 10 covers days 0-2; days 3-8 are zero; user 20 covers day 9
    assert(out.take(3) === Array(
      ("1970-01-01", 1L), ("1970-01-02", 1L), ("1970-01-03", 1L)))
    assert(out.slice(3, 9).forall(_._2 === 0L))
    assert(out.last === ("1970-01-10", 1L))
  }

  test("substringDupScores: cross-doc and self repeats flag positions; unique text scores 0") {
    // n=2 grams. doc 1: "a b c" -> grams "a b", "b c". doc 2: "a b d"
    // -> "a b", "b d". "a b" occurs twice (cross-doc) -> 1 dup position
    // in each; "b c"/"b d" unique. doc 3 repeats internally: "x y x y"
    // -> "x y", "y x", "x y": positions with gram "x y" (2 of 3) dup.
    // doc 4 all-unique; doc 5 too short (1 token) -> absent.
    val docs = Seq(
      (1L, "a b c"), (2L, "a b d"), (3L, "x y x y"),
      (4L, "p q r"), (5L, "solo")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupScores(docs, n = 2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out === Array(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 3L, 2L, 0.6667), (4L, 2L, 0L, 0.0)))
  }

  test("bpePairCounts after vocab pre-bucketing: repeated words weight pairs") {
    // "ab" x3 (across two docs) + "ba" x1: pair 'ab' = 3, 'ba' = 1
    val docs = Seq((1L, "ab ab"), (2L, "ab ba")).toDF("doc_id", "text")
    val out = Text.bpePairCounts(docs, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out === Array(("ab", 3L), ("ba", 1L)))
  }
}
