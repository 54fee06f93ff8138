package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Relational

/** Randomized equivalence: the merge-asof union+window plan must
  * produce exactly the brute-force definition — for every left row,
  * the right row maximizing (ts, tieBreak) among those with the same
  * key and ts <= left.ts — across random key skews, duplicate
  * timestamps, and empty sides.
  */
class AsofJoinProps extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("asofJoin equals the brute-force definition on randomized inputs") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 6) {
      val nKeys = 1 + rnd.nextInt(5)
      val left = (0 until 120).map { i =>
        (i.toLong, rnd.nextInt(nKeys).toLong, rnd.nextInt(30).toLong)
      } // (event_id, key, ts) — ts collisions guaranteed
      val right = (0 until 80).map { i =>
        (1000L + i, rnd.nextInt(nKeys).toLong, rnd.nextInt(30).toLong)
      }
      val lDf = left.toDF("event_id", "user_id", "ts_us")
        .select($"event_id", $"user_id", $"ts_us")
      val rDf = right.toDF("event_id", "user_id", "ts_us")
        .select($"user_id", $"ts_us", $"event_id")

      val got = Relational
        .asofJoin(lDf, rDf, "user_id", "ts_us", "event_id", Seq("ts_us", "event_id"))
        .select($"event_id", $"asof.ts_us", $"asof.event_id")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2)))))
        .toMap

      val expected = left.map { case (id, k, ts) =>
        val cands = right.filter(r => r._2 == k && r._3 <= ts)
        id -> (if (cands.isEmpty) None
               else Some {
                 val best = cands.maxBy(c => (c._3, c._1))
                 (best._3, best._1)
               })
      }.toMap

      assert(got === expected, s"trial $trial (nKeys=$nKeys)")
    }
  }

  test("asofJoin with an empty right side leaves every left row unmatched") {
    val left = Seq((1L, 1L, 5L)).toDF("event_id", "user_id", "ts_us")
    val right = Seq.empty[(Long, Long, Long)].toDF("user_id", "ts_us", "event_id")
    val out = Relational.asofJoin(left, right, "user_id", "ts_us", "event_id", Seq("event_id"))
    assert(out.count() === 1)
    assert(out.filter($"asof".isNotNull).count() === 0)
  }
}
