package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Register-only batch sketch forms (round 12) — the TRUE fixed-state
  * paths: HLL registers folded straight off raw rows (no distinct),
  * CMS counters folded straight off raw increments (no per-key
  * collapse). These suites pin the raw forms' outputs BIT-IDENTICAL
  * to the audit twins' (hllDistinct / cmsHeavyHitters), which is the
  * mergeability/duplicate-insensitivity claim made in the Scaladoc:
  * max(rho) doesn't care how often a key is seen, and counter sums
  * from raw increments equal counter sums from pre-counted keys.
  */
class SketchesRawSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.ops.Sketches

  // duplicate-laden input: each key appears 1 + (i % 5) times
  private lazy val dupRows = Seq("a", "b", "c").flatMap { g =>
    (0 until 500).flatMap(i => Seq.fill(1 + i % 5)((g, s"$g-key-$i")))
  }
  private lazy val dupDf = dupRows.toDF("g", "k")

  test("hllRegistersOnly: estimate bit-identical to the audit form's, duplicates ignored") {
    val audit = Sketches.hllDistinct(dupDf, "g", "k")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val raw = Sketches.hllRegistersOnly(dupDf, "g", "k")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(raw.keySet === audit.keySet)
    for ((g, est) <- raw) assert(est === audit(g), s"group $g estimate diverged")
  }

  test("hllRegistersOnly: single-occurrence input estimates identically to duplicated input") {
    // the duplicate-insensitivity property itself, stated directly
    val once = dupRows.distinct.toDF("g", "k")
    val a = Sketches.hllRegistersOnly(once, "g", "k")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = Sketches.hllRegistersOnly(dupDf, "g", "k")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a === b)
  }

  test("thetaSetOpsRaw: estimates bit-identical to the audited twin's; " +
      "no exact columns; plan free of key-keyed self-joins") {
    val audit = Sketches.thetaSetOps(dupDf, "g", "k", k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    val rawDf = Sketches.thetaSetOpsRaw(dupDf, "g", "k", k = 64)
    assert(rawDf.columns.toSeq === Seq("type_a", "type_b", "theta_common",
      "n_retained_a", "n_retained_b",
      "union_est_r", "inter_est_r", "diff_ab_est_r"))
    val raw = rawDf
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    assert(raw === audit)
    // retained-sample audit identity: est · θ / 2^32 recovers counts
    rawDf.collect().foreach { r =>
      val scale = r.getLong(2).toDouble / 4294967296.0
      assert(math.round(r.getDouble(7) * scale) ===
        r.getLong(3) - math.round(r.getDouble(6) * scale))
    }
    // the raw PLAN must not self-join the key universe: exactly one
    // join (the G x G broadcast pair frame), none of them key-keyed
    val plan = rawDf.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("n_ex"), "exact audit leaked into raw")
    val joins = rawDf.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size === 1,
      s"raw theta plan must have ONLY the pair cross-join, got ${joins.size}")
  }

  test("cmsCountersFromRaw: each hash row's counters sum to the raw row count") {
    val n = dupRows.size.toLong
    val sums = Sketches.cmsCountersFromRaw(dupDf, "k")
      .groupBy(col("j")).agg(sum(col("c")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums.keySet === Set(0L, 1L, 2L, 3L))
    assert(sums.values.forall(_ === n), s"per-row counter mass must equal $n: $sums")
  }

  test("bloomBits sizes for the target false-positive rate; undersized saturates") {
    assert(Sketches.bloomBits(8000) === 98914) // the q_bloom_dedup literal
    assert(Sketches.bloomBits(100) > Sketches.bloomBits(10))
    // sized filter: plant 2000 history keys, probe 2000 fresh ones —
    // fp rate should be near 1%, far from the saturated regime
    val hist = (0 until 2000).map(i => (i.toLong, s"k$i")).toDF("event_id", "bk0")
    val fresh = (0 until 2000).map(i => (10000L + i, s"fresh$i")).toDF("event_id", "bk0")
    val sized = Sketches.bloomDedupFlags(hist, fresh, col("bk0"), "event_id",
        m = Sketches.bloomBits(2000))
      .collect()
    val fpSized = sized.count(_.getBoolean(3))
    assert(sized.forall(!_.getBoolean(2)), "fresh keys can never be actually_seen")
    assert(fpSized <= 80, s"sized filter fp out of band: $fpSized/2000 (expect ~20)")
    // the r11 default saturates at this cardinality: nearly everything
    // reads maybe_seen — correct, but the pre-filter prices nothing
    val saturated = Sketches.bloomDedupFlags(hist, fresh, col("bk0"), "event_id", m = 1024)
      .collect().count(_.getBoolean(1))
    assert(saturated >= 1800, s"expected the 1024-bit filter to saturate: $saturated/2000")
  }

  test("bloomBits fails loudly past Int-addressable sizes (r12 ADVICE)") {
    // at k=3 / 1% fpp the bit count crosses Int.MaxValue near n=173M;
    // past that the 32-bit position hash can't address the filter —
    // the operator must refuse, not silently hand back a saturating
    // truncation
    val e = intercept[IllegalArgumentException](Sketches.bloomBits(200L * 1000 * 1000))
    assert(e.getMessage.contains("partition the key space"))
    // just under the cliff still sizes
    assert(Sketches.bloomBits(170L * 1000 * 1000) > 2000000000)
  }
}
