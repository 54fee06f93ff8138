package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Mergeable-sketch operators — the fixed-state substitutes a 100 TB
  * engine uses where exact answers need unbounded memory: HyperLogLog
  * distinct counts (Flajolet et al., AofA 2007), count-min frequency
  * estimates (Cormode & Muthukrishnan, J.Alg 2005), Bloom-filter
  * membership pre-filters (Bloom, CACM 1970), and HDR-histogram
  * log-linear quantiles (Tene's HdrHistogram; the DDSketch/t-digest
  * family's integer-exact cousin). Every sketch here is DETERMINISTIC
  * and engine-reproducible: hashes derive from md5 prefixes (the
  * repo-wide oracle-bridge convention — swap for xxhash64 at 100 TB,
  * see Dedup's hash note) and bucket math is integer-only
  * (`length(bin(x))` = exact binary log), so a DuckDB oracle can
  * restate every register, counter, bit, and bucket bit-for-bit.
  *
  * Scale shapes: an HLL group's state is m registers, a CMS is d·w
  * counters, a Bloom filter m bits — all map-side combinable (max /
  * sum / or) and broadcastable, which is exactly why they replace
  * exact distinct/frequency/membership at scale.
  */
object Sketches {

  /** 32-bit hash from an md5 prefix: chunk 0 = hex chars 1-8,
    * chunk 1 = 9-16 — both engines state it identically.
    */
  private[graft] def h32(c: Column, chunk: Int): Column =
    conv(substring(md5(c.cast("binary")), 1 + 8 * chunk, 8), 16, 10).cast("long")

  /** Slot `seed` of a string key in a `width`-slot table: the first 32
    * bits of md5("seed|key") mod width — a count-min row's bucket and a
    * Bloom hash's bit position. Folding the seed into the md5 INPUT
    * makes every seed an independent full digest, not a chunk of one.
    */
  private[graft] def hashSlot(seed: Column, key: Column, width: Int): Column =
    h32(concat(seed.cast("string"), lit("|"), key), 0) % width

  private val hllM = 64

  /** A string key's HLL register as (idx, rho) columns: idx = h₁ mod 64
    * (m = 64 registers, p = 6), rho = the leading-zero count of the
    * 32-bit h₂ + 1 (via `33 − length(bin(w))` — exact integer binary
    * log, no float boundary).
    */
  private[graft] def hllRegister(k: Column): (Column, Column) = {
    val w = h32(k, 1)
    (h32(k, 0) % hllM, when(w === 0L, lit(33L)).otherwise(lit(33L) - length(bin(w))))
  }

  /** The HLL estimate of a register frame (one row per hit register,
    * column `mj`) grouped by `keys`: α·m²/Z with the m = 64 bias
    * constant α = 0.709 and Z = Σ 2^−mj over all m registers (a
    * never-hit register adds 2⁰), or the small-range linear count
    * m·ln(m/V) when that is ≤ 2.5m and V > 0 registers were never hit.
    * Unrounded, in column `est`; `audit` aggregates ride the same fold.
    */
  private[graft] def hllEstimate(regs: DataFrame, keys: Seq[String],
                                 audit: Column*): DataFrame = {
    // registers never hit (mj >= 1 when present)
    val v = lit(hllM.toDouble) - count(lit(1))
    val aggs = audit ++ Seq(
      (lit(0.709 * hllM * hllM) / (v + sum(pow(lit(2.0), -col("mj"))))).as("__e"),
      v.as("__v"))
    regs.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .withColumn("est",
        when(col("__e") <= 2.5 * hllM && col("__v") > 0,
          lit(hllM.toDouble) * log(lit(hllM.toDouble) / col("__v")))
          .otherwise(col("__e")))
      .drop("__e", "__v")
  }

  /** HyperLogLog distinct count per group: each key's register
    * ([[hllRegister]]), per-register MAX, and the α / linear-counting
    * estimate ([[hllEstimate]]). The exact distinct count rides the
    * same single exchange chain — each distinct key lands in exactly
    * one register, so Σ per-register key-counts = the exact answer —
    * making the relative error a free output column instead of a
    * second aggregation pass.
    *
    * Shape: distinct (group, key) → (group, idx) register fold →
    * (group) estimate fold. One exchange chain; register state is 64
    * values per group at ANY cardinality — the whole point.
    */
  def hllDistinct(df: DataFrame, groupCol: String, keyCol: String): DataFrame = {
    val (idx, rho) = hllRegister(col("k"))
    val regs = df
      .filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).as("g"), col(keyCol).cast("string").as("k"))
      .distinct()
      .select(col("g"), idx.as("idx"), rho.as("rho"))
      .groupBy(col("g"), col("idx"))
      .agg(max(col("rho")).as("mj"), count(lit(1)).as("nk"))
    hllEstimate(regs, Seq("g"), sum(col("nk")).as("n_exact"))
      .select(col("g").as(groupCol), col("n_exact"), round(col("est"), 4).as("hll_est_r"))
      .withColumn("rel_err_r",
        round(abs(col("hll_est_r") - col("n_exact")) / col("n_exact"), 4))
  }

  /** Register-only batch HLL — the TRUE fixed-state path: registers
    * fold DIRECTLY from raw rows with no `.distinct()` pre-collapse,
    * because `max(rho)` is duplicate-insensitive (a key's (idx, rho)
    * is a pure function of the key, so seeing it twice changes
    * nothing). This is the form a 100 TB scan runs — one map-side
    * combinable aggregate over the raw stream, state = m registers
    * per group, no exact audit column and no distinct shuffle of the
    * key universe. [[hllDistinct]] is the demo/audit twin (exact count
    * riding along); SketchesSpec pins this form's estimate
    * bit-identical to the audit form's.
    *
    * Returns (group, hll_est_r) only — the honest sketch output.
    */
  def hllRegistersOnly(df: DataFrame, groupCol: String, keyCol: String): DataFrame = {
    val (idx, rho) = hllRegister(col(keyCol).cast("string"))
    val regs = df.filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).as("g"), idx.as("idx"), rho.as("rho"))
      .groupBy(col("g"), col("idx"))
      .agg(max(col("rho")).as("mj"))
    hllEstimate(regs, Seq("g"))
      .select(col("g").as(groupCol), round(col("est"), 4).as("hll_est_r"))
  }

  /** Register-only batch count-min — counters fold DIRECTLY from raw
    * increments (each raw row adds 1 to one bucket per hash row), no
    * exact per-key count frame: one map-side combinable aggregate,
    * state = d·w counters total at ANY key cardinality. Estimates for
    * a bounded probe-key frame then read min-over-d from the
    * broadcast counter frame. [[cmsHeavyHitters]] is the demo/audit
    * twin (exact counts riding along); SketchesSpec pins the counter
    * frames bit-identical.
    */
  def cmsCountersFromRaw(df: DataFrame, keyCol: String,
                         d: Int = 4, w: Int = 64): DataFrame =
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("k"),
        explode(sequence(lit(0L), lit((d - 1).toLong))).as("j"))
      .withColumn("b", hashSlot(col("j"), col("k"), w))
      .groupBy(col("j"), col("b"))
      .agg(sum(lit(1L)).as("c"))

  /** HLL set algebra — audience overlap between groups WITHOUT the
    * exact intersection join: union registers are per-index MAXIMA of
    * the member groups' registers (the mergeability that makes HLL a
    * distributed sketch at all), so |A∩B| estimates by
    * inclusion-exclusion est(A) + est(B) − est(A∪B). The exact
    * intersection (a key self-join — the thing the sketch avoids at
    * 100 TB) rides along as the audit column; estimates are
    * [[hllEstimate]]'s, summed
    * UNROUNDED before the final 4dp round. Inclusion-exclusion error
    * compounds three estimates, so small overlaps can read negative —
    * the documented sketch behavior, not a defect.
    *
    * Shape: one distinct (group, key) collapse feeds the per-group
    * register fold and the exact audit join; everything PAIR-wise
    * happens on the already-folded G·64-row register frame — union
    * registers are `max(mj)` across the two member groups' register
    * rows (max is associative, so folding per group first is
    * bit-identical to folding the raw keys per pair), which is the
    * mergeability property itself. The key frame is touched exactly
    * once per group, never per pair; the group-pair frame is
    * |groups|² (tiny) and broadcasts.
    */
  def hllOverlap(df: DataFrame, groupCol: String, keyCol: String): DataFrame = {
    val dk = graft.CacheScope.cached(df
      .filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).as("g"), col(keyCol).cast("string").as("k"))
      .distinct())
    val (idx, rho) = hllRegister(col("k"))
    // per-group register frame: G·64 rows, the sketch's entire state
    val sregs = graft.CacheScope.cached(dk.select(col("g"), idx.as("idx"), rho.as("rho"))
      .groupBy(col("g"), col("idx")).agg(max(col("rho")).as("mj")))
    val single = hllEstimate(sregs, Seq("g"))
    val gs = dk.select(col("g")).distinct()
    val pairs = gs.select(col("g").as("ga"))
      .crossJoin(gs.select(col("g").as("gb")))
      .filter(col("ga") < col("gb"))
    // union registers: tag the FOLDED register frame (not the key
    // frame) with each pair its group belongs to, take max(mj) per
    // (pair, idx) — bit-identical to re-folding the keys per pair
    val tagged = sregs.join(broadcast(pairs),
      col("g") === col("ga") || col("g") === col("gb"))
    val estAb = hllEstimate(
      tagged.groupBy(col("ga"), col("gb"), col("idx")).agg(max(col("mj")).as("mj")),
      Seq("ga", "gb")).withColumnRenamed("est", "est_ab")
    val exact = dk.select(col("g").as("ga"), col("k"))
      .join(dk.select(col("g").as("gb"), col("k")), Seq("k"))
      .filter(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("n"))
    pairs
      .join(single.select(col("g").as("ga"), col("est").as("ea")), Seq("ga"))
      .join(single.select(col("g").as("gb"), col("est").as("eb")), Seq("gb"))
      .join(estAb, Seq("ga", "gb"))
      .join(exact, Seq("ga", "gb"), "left")
      .select(
        col("ga").as("type_a"), col("gb").as("type_b"),
        coalesce(col("n"), lit(0L)).as("n_exact_overlap"),
        round(col("ea") + col("eb") - col("est_ab"), 4).as("hll_overlap_r"))
  }

  /** Group-level MinHash Jaccard — the audience-similarity twin of
    * [[hllOverlap]]: each group's key SET folds to a p-permutation
    * signature (per-permutation MIN of the keys' hashes — MinHash's
    * mergeability: union signature = elementwise min, so signatures
    * combine map-side like every sketch here), and a pair's Jaccard
    * estimates as the fraction of EQUAL signature components
    * (Broder 1997). The exact Jaccard (the key self-join the sketch
    * avoids at 100 TB) rides as the audit column. State per group is
    * p longs at ANY cardinality.
    *
    * Shape: one distinct (group, key) collapse → (group, perm) min
    * fold (G·p rows) → broadcast pair comparison. The key universe is
    * touched once per group, never per pair (the [[hllOverlap]]
    * lesson applied from the start).
    */
  def minhashGroupJaccard(df: DataFrame, groupCol: String, keyCol: String,
                          nPerms: Int = 16): DataFrame = {
    val dk = graft.CacheScope.cached(df
      .filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).as("g"), col(keyCol).cast("string").as("k"))
      .distinct())
    val sig = graft.CacheScope.cached(dk
      .select(col("g"), col("k"),
        explode(sequence(lit(0), lit(nPerms - 1))).as("p"))
      .withColumn("h", h32(concat(col("p").cast("string"), lit("|"), col("k")), 0))
      .groupBy(col("g"), col("p")).agg(min(col("h")).as("mh")))
    // every (ga < gb) pair materializes with all p perms in the
    // signature self-join, so `est` IS the pair frame — no separate
    // crossJoin pair build needed
    val est = sig.select(col("g").as("ga"), col("p"), col("mh").as("mha"))
      .join(sig.select(col("g").as("gb"), col("p"), col("mh").as("mhb")), Seq("p"))
      .filter(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb"))
      .agg(
        sum(when(col("mha") === col("mhb"), 1L).otherwise(0L)).as("n_eq"),
        round(avg(when(col("mha") === col("mhb"), 1.0).otherwise(0.0)), 4)
          .as("jac_est_r"))
    val exact = dk.select(col("g").as("ga"), col("k"))
      .join(dk.select(col("g").as("gb"), col("k")), Seq("k"))
      .filter(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("n_inter"))
    val sizes = dk.groupBy(col("g")).agg(count(lit(1)).as("n"))
    est
      .join(broadcast(sizes.select(col("g").as("ga"), col("n").as("na"))), Seq("ga"))
      .join(broadcast(sizes.select(col("g").as("gb"), col("n").as("nb"))), Seq("gb"))
      .join(exact, Seq("ga", "gb"), "left")
      .select(
        col("ga").as("type_a"), col("gb").as("type_b"),
        col("n_eq"),
        col("jac_est_r"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))), 4)
          .as("jac_exact_r"))
  }

  /** Theta/KMV sketch SET ALGEBRA — the set-operation gap the rest of
    * the family can't cover: HLL unions beautifully but intersects
    * only via inclusion-exclusion (error explodes for small overlaps),
    * and MinHash gives Jaccard, not cardinalities. A KMV ("k minimum
    * values", Bar-Yossef et al., RANDOM 2002; the Theta sketch of
    * Dasgupta et al., SIGMOD 2016 is its production form) keeps each
    * group's k SMALLEST distinct key hashes; θ = the k-th smallest
    * hash as a fraction of the hash space, and any subset of the
    * retained sample below a common θ estimates its cardinality as
    * count/θ — which makes UNION, INTERSECTION, and DIFFERENCE all
    * first-class: filter both samples to θ = min(θa, θb) and count.
    *
    * Deterministic md5 hashing (the family convention), so a DuckDB
    * oracle restates every retained hash and estimate bit-for-bit.
    * Groups with fewer than k distinct hashes are in EXACT mode
    * (θ = 1, the sample IS the set). Sampling-mode sketches retain
    * k−1 values strictly below θ, so est = (k−1)/θ — the classic
    * unbiased KMV estimator.
    *
    * Shape: one distinct (group, key) collapse → distinct (group, h)
    * → per-group bottom-k (a partitioned rank window) → G rows of
    * k-sized hash ARRAYS that broadcast into the pair frame; set ops
    * are array HOFs over ≤k elements. State per group is k longs at
    * ANY cardinality; the key universe is touched once per group,
    * never per pair (the hllOverlap lesson). The exact union /
    * intersection (the self-join the sketch avoids at 100 TB) rides
    * as audit columns.
    */
  def thetaSetOps(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int = 64): DataFrame = {
    require(k >= 2, "theta sketch needs k >= 2")
    val dk = graft.CacheScope.cached(df
      .filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).as("g"), col(keyCol).cast("string").as("k"))
      .distinct())
    val pairs = thetaPairEstimates(thetaSketchFrame(dk, k))
    val exact = dk.select(col("g").as("ga"), col("k"))
      .join(dk.select(col("g").as("gb"), col("k")), Seq("k"))
      .filter(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("n_ex_i"))
    val sizes = dk.groupBy(col("g")).agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(sizes.select(col("g").as("ga"), col("n").as("na"))), Seq("ga"))
      .join(broadcast(sizes.select(col("g").as("gb"), col("n").as("nb"))), Seq("gb"))
      .join(exact, Seq("ga", "gb"), "left")
      .select(
        col("ga").as("type_a"), col("gb").as("type_b"),
        (col("na") + col("nb") - coalesce(col("n_ex_i"), lit(0L))).as("n_exact_union"),
        coalesce(col("n_ex_i"), lit(0L)).as("n_exact_inter"),
        round(col("n_u") * col("scale"), 4).as("union_est_r"),
        round(col("n_i") * col("scale"), 4).as("inter_est_r"),
        round((size(col("a2")).cast("long") - col("n_i")) * col("scale"), 4)
          .as("diff_ab_est_r"))
  }

  /** PRODUCTION (audit-free) theta form — the declared 100 TB query,
    * mirroring the [[hllRegistersOnly]]/[[cmsCountersFromRaw]]
    * precedent: the same bottom-k sketches and the same pairwise
    * union/intersection/difference ESTIMATES, with no exact self-join
    * on the key universe and no per-group exact sizes — the quantities
    * the audited twin [[thetaSetOps]] carries only for the correctness
    * gate. θ (hash units) and the retained-sample sizes ride instead:
    * they are the sketch's own state, and publishing them makes the
    * estimate auditable from the sketch alone (est·θ/2³² recovers the
    * retained counts). SketchesRawSpec pins the estimate columns
    * bit-identical to the audited twin's; PlanShapeSpec pins the raw
    * plan free of any key-keyed self-join.
    */
  def thetaSetOpsRaw(df: DataFrame, groupCol: String, keyCol: String,
                     k: Int = 64): DataFrame = {
    require(k >= 2, "theta sketch needs k >= 2")
    val dk = df
      .filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).as("g"), col(keyCol).cast("string").as("k"))
      .distinct()
    thetaPairEstimates(thetaSketchFrame(dk, k))
      .select(
        col("ga").as("type_a"), col("gb").as("type_b"),
        col("thp").cast("long").as("theta_common"),
        size(col("a2")).cast("long").as("n_retained_a"),
        size(col("b2")).cast("long").as("n_retained_b"),
        round(col("n_u") * col("scale"), 4).as("union_est_r"),
        round(col("n_i") * col("scale"), 4).as("inter_est_r"),
        round((size(col("a2")).cast("long") - col("n_i")) * col("scale"), 4)
          .as("diff_ab_est_r"))
  }

  private val thetaHashSpace = 4294967296.0 // 2^32, h32's range

  /** One row per group: the sorted bottom-k DISTINCT key-hash array +
    * θ in hash units (2^32 = exact mode: every hash retained counts).
    * Two keys colliding in 32 bits count once — part of the sketch's
    * stated error. Shared by the audited and raw forms so the sketch
    * definition cannot drift.
    */
  private def thetaSketchFrame(dk: DataFrame, k: Int): DataFrame = {
    val hx = dk.select(col("g"), h32(col("k"), 0).as("h")).distinct()
    val wk = Window.partitionBy(col("g")).orderBy(col("h").asc)
    val sk = hx.withColumn("rnk", row_number().over(wk)).filter(col("rnk") <= k)
    sk.groupBy(col("g"))
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("n_sk"))
      .withColumn("th",
        when(col("n_sk") < k, lit(thetaHashSpace))
          .otherwise(element_at(col("hs"), k).cast("double")))
  }

  /** Pairwise sketch-only estimates: both samples filtered to the
    * COMMON θ — the theta-sketch move that makes the three set
    * estimates share one denominator. G² broadcast pair frame over
    * ≤k-element array HOFs; the key universe is never touched.
    */
  private def thetaPairEstimates(sketches: DataFrame): DataFrame =
    sketches.select(
        col("g").as("ga"), col("hs").as("hsa"), col("th").as("tha"))
      .crossJoin(broadcast(sketches.select(
        col("g").as("gb"), col("hs").as("hsb"), col("th").as("thb"))))
      .filter(col("ga") < col("gb"))
      .withColumn("thp", least(col("tha"), col("thb")))
      .withColumn("a2", filter(col("hsa"), h => h.cast("double") < col("thp")))
      .withColumn("b2", filter(col("hsb"), h => h.cast("double") < col("thp")))
      .withColumn("n_i", size(array_intersect(col("a2"), col("b2"))).cast("long"))
      .withColumn("n_u", (size(col("a2")) + size(col("b2"))).cast("long") - col("n_i"))
      .withColumn("scale", lit(thetaHashSpace) / col("thp"))

  /** Count-min heavy hitters: d=4 hash rows × w=64 counters; a key's
    * estimate is the MIN over its d counters, which can only
    * OVERcount (collisions add, never subtract) — the one-sided error
    * that makes CMS safe for hot-key detection. Counters build from
    * the per-key count frame (each key adds its full count to one
    * bucket per row), estimates join back bucket-wise, and the top-k
    * window ranks by (estimate desc, key) so ties are deterministic.
    *
    * Shape: one key aggregate (map-side combinable), a d·w = 256-row
    * counter frame folded from it and broadcast back, one rank window
    * over the key frame. At 100 TB the counter frame is STILL 256
    * rows — that is the sketch contract.
    */
  def cmsHeavyHitters(df: DataFrame, keyCol: String, topK: Int,
                      d: Int = 4, w: Int = 64): DataFrame = {
    val tc = graft.CacheScope.cached(
      df.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol).cast("string").as("k"))
        .agg(count(lit(1)).as("cnt")))
    val hashed = tc.select(col("k"), col("cnt"),
      explode(sequence(lit(0), lit(d - 1))).as("j"))
      .withColumn("b", hashSlot(col("j"), col("k"), w))
    val counters = hashed.groupBy(col("j"), col("b"))
      .agg(sum(col("cnt")).as("c"))
    val est = hashed
      .join(broadcast(counters), Seq("j", "b"))
      .groupBy(col("k"))
      .agg(max(col("cnt")).as("cnt"), min(col("c")).as("cms_est"))
    // top-k via orderBy+limit (TakeOrderedAndProject — bounded state at
    // any key cardinality); the rank window then runs over the
    // ALREADY-CUT topK rows, never the full key frame
    val top = est.orderBy(col("cms_est").desc, col("k").asc).limit(topK)
    val rank = Window.orderBy(col("cms_est").desc, col("k").asc)
    top
      .withColumn("rnk", row_number().over(rank).cast("long"))
      .select(col("k").as(keyCol), col("cnt"), col("cms_est"),
        (col("cms_est") - col("cnt")).as("overshoot"), col("rnk"))
  }

  /** Bloom sizing from the expected key count: m = ceil(k·n / x)
    * where x = −ln(1 − fpp^(1/k)) solves (1 − e^−x)^k = fpp — the
    * bits a k-hash filter needs to hold n keys at the target
    * false-positive rate (for k=3, fpp=1%: m ≈ 12.4·n). An undersized
    * filter stays CORRECT (no false negatives ever) but saturates —
    * reads near-all-ones and prices nothing — so callers size from
    * the expected history cardinality, not a fixed default.
    */
  def bloomBits(expectedKeys: Long, k: Int = 3, fpp: Double = 0.01): Int = {
    val x = -math.log(1.0 - math.pow(fpp, 1.0 / k))
    val m = math.ceil(k * expectedKeys / x)
    // Fail LOUDLY instead of Double.toInt's silent saturation at
    // Int.MaxValue (reached near n ≈ 173M at k=3/1%): a saturated
    // filter silently degrades the promised FP rate, and a >2^31-bit
    // single filter is the wrong object anyway — the 32-bit position
    // hash can't address it. Past this size, shard the key space and
    // hold one filter per shard (each sized by this function).
    require(m <= Int.MaxValue.toDouble,
      s"bloom filter for $expectedKeys keys needs ${m.toLong} bits > Int.MaxValue; " +
        "partition the key space and size one filter per shard instead")
    m.toInt
  }

  /** Bloom-filter dedup pre-filter — the 100 TB first line of an
    * incremental pipeline: the HISTORY's natural keys set k bits each
    * in an m-bit filter (size m from the expected history cardinality
    * via [[bloomBits]] — see its saturation note); a BATCH row whose
    * bits are not all set is DEFINITELY new (no false negatives — the
    * property the spec pins), and only the "maybe seen" remainder
    * pays the exact verification join. Bits materialize as a
    * ≤min(m, k·n)-row frame and broadcast; the exact check is a key
    * semi-join flagged per row.
    *
    * Output per batch row: the bloom verdict, the exact verdict, and
    * the false-positive flag — so the operator doubles as its own
    * false-positive-rate audit.
    */
  def bloomDedupFlags(history: DataFrame, batch: DataFrame,
                      keyExpr: Column, idCol: String,
                      m: Int, k: Int = 3): DataFrame = {
    // any k works: each hash index is an independent digest (hashSlot)
    require(k >= 1 && m >= 2, "bloom filter needs at least one hash and two bits")
    def positions(df: DataFrame, extra: Seq[Column]): DataFrame = df
      .select((extra :+ keyExpr.cast("string").as("bk")): _*)
      .withColumn("i", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("pos", hashSlot(col("i"), col("bk"), m))
    val bits = positions(history, Seq.empty).select(col("pos")).distinct()
    val histKeys = history.select(keyExpr.cast("string").as("bk")).distinct()
    positions(batch, Seq(col(idCol)))
      .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
      .groupBy(col(idCol), col("bk"))
      .agg((count(col("hit")) === k).as("maybe_seen"))
      .join(broadcast(histKeys.withColumn("seen", lit(true))), Seq("bk"), "left")
      .select(col(idCol),
        col("maybe_seen"),
        coalesce(col("seen"), lit(false)).as("actually_seen"),
        (col("maybe_seen") && !coalesce(col("seen"), lit(false))).as("is_fp"))
  }

  /** HDR-histogram log-linear quantiles (integer-exact DDSketch
    * cousin): values quantize to cents, bucket = 8·bitlength + the 3
    * sub-bits under the leading one (values < 16 cents keep their own
    * bucket) — a ~±6% relative-error grid whose bucketing is PURE
    * INTEGER math (`length(bin(x))`, shifts), so both engines bucket
    * bit-identically with no ln() boundary hazard. Quantile q reads
    * the first bucket whose cumulative count reaches ceil(q·n) and
    * reports the bucket midpoint.
    *
    * Shape: one (group, bucket) aggregate — bounded at ~8·64 buckets
    * per group at any scale — then window folds over that bounded
    * frame (the PlanShapeSpec bounded-frame tier).
    */
  def hdrQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                   qs: Seq[Double]): DataFrame = {
    val bucketed = hdrBucketFrame(df, groupCol, valueCol)
    val wCum = Window.partitionBy(col("g")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wN = Window.partitionBy(col("g"))
    val cum = bucketed
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wN))
    cum.groupBy(col("g"))
      .agg(max(col("n")).as("n"), hdrQCols(qs): _*)
      .withColumnRenamed("g", groupCol)
  }

  /** The (g, bucket, c, rep) frame both HDR forms fold from: values
    * quantize to cents ([[hdrBucketed]]).
    */
  private def hdrBucketFrame(df: DataFrame, groupCol: String,
                             valueCol: String): DataFrame = df
    .filter(col(groupCol).isNotNull && col(valueCol).isNotNull && col(valueCol) >= 0)
    .select(col(groupCol).as("g"), floor(col(valueCol) * 100).cast("long").as("vc"))
    .transform(hdrBucketed)
    .groupBy(col("g"), col("bucket"))
    .agg(count(lit(1)).as("c"), max(col("rep")).as("rep"))

  /** Adds each row's HDR `bucket` and representative `rep` (the bucket
    * midpoint, in value units) to a frame of non-negative cents `vc`:
    * bucket = 8·bitlength + the 3 sub-bits under the leading one
    * (values < 16 cents keep their own bucket). mant = the top 4 bits
    * (leading one included, so 8..15); guarded to vc >= 16 so the
    * shift amount blen−4 is never negative (expr form: the Scala
    * shiftright API only takes a literal count, the SQL builtin takes
    * a column).
    */
  private[graft] def hdrBucketed(vc: DataFrame): DataFrame = vc
    .withColumn("blen", length(bin(col("vc"))).cast("long"))
    .withColumn("mant",
      when(col("vc") >= 16,
        expr("shiftright(vc, cast(blen - 4 as int))")).otherwise(lit(0L)))
    .withColumn("bucket",
      when(col("vc") < 16, col("vc"))
        .otherwise(col("blen") * 8 + (col("mant") - 8)))
    .withColumn("rep",
      when(col("vc") < 16, col("vc").cast("double") / 100.0)
        .otherwise(
          (expr("shiftleft(mant, cast(blen - 4 as int))").cast("double") +
            expr("shiftleft(mant + 1, cast(blen - 4 as int))").cast("double"))
            / 2.0 / 100.0))

  private def hdrQCols(qs: Seq[Double]): Seq[Column] = qs.map { q =>
    val tag = (q * 100).round.toInt
    round(min(when(col("cum") >= ceil(lit(q) * col("n")), col("rep"))), 4)
      .as(s"p${tag}_est_r")
  }

  /** HDR MERGE — the mergeability the histogram family exists for:
    * per-group bucket frames (each a bounded sketch a shard or a day
    * would persist) combine into the GLOBAL quantiles by summing
    * counts per bucket — no raw-data rescan, and because the bucket
    * of a value is group-independent the merged answer is
    * BIT-IDENTICAL to bucketing all rows directly (SketchesRawSpec
    * pins it). At 100 TB this is how cross-shard/cross-day p99 is
    * served: merge ~520-row sketches, never the events.
    *
    * The cumulative fold runs over the merged ≤~520-row bucket frame —
    * the PlanShapeSpec bounded-frame tier (a global-orderBy window on
    * a bucket-vocabulary-sized input, same tier as the day-count
    * windows).
    */
  def hdrMergedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                         qs: Seq[Double]): DataFrame = {
    val merged = hdrBucketFrame(df, groupCol, valueCol)
      .groupBy(col("bucket"))
      .agg(sum(col("c")).as("c"), max(col("rep")).as("rep"))
    // the grand total folds as a window over the SAME bounded frame —
    // a separate broadcast-build job for the scalar would cost one more job
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = merged
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    cum.agg(max(col("n")).as("n"), hdrQCols(qs): _*)
  }
}
