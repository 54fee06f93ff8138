package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Capability-closure relational operators over the star schema
  * (SURVEY.md §2.6-2.8). The reference's pipeline is single-table, but
  * its sink exists to serve exactly these shapes (secondary indexes on
  * user/date/name, `/root/reference/extract_bq.py:206-209`), so they are
  * part of the declared engine contract.
  *
  * Scale rules applied throughout: dimension tables (customer, part —
  * O(100k) rows even at SF100) are explicitly `broadcast()` so the fact
  * side never shuffles for the join; window functions partition on
  * high-cardinality keys so the one unavoidable shuffle is well spread.
  */
object Relational {

  /** Inner equi-join fact→dim. Broadcast-hash: no shuffle of `orders`. */
  def ordersWithCustomer(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"), "inner")

  /** Left outer join fact→dim, broadcast. */
  def lineitemWithPart(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem.join(broadcast(part), col("l_partkey") === col("p_partkey"), "left")

  /** Left-semi "customers having orders". The probe side keys are
    * distinct-ed then broadcast, so the big `orders` table is reduced
    * map-side before any join — at 100 TB this is the difference
    * between a broadcast and a full sort-merge shuffle.
    */
  def customersWithOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(
      broadcast(orders.select("o_custkey").distinct()),
      col("c_custkey") === col("o_custkey"), "left_semi")

  /** row_number per user ordered by time — "nth event per user". */
  def rankPerUser(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    events.select(
      col("user_id"), col("event_id"),
      row_number().over(w).cast("long").as("rn"))
  }

  /** lag per user — inter-event gap in micros. */
  def interEventGap(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    events.select(
      col("user_id"), col("event_id"), col("ts_us"),
      (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"))
  }

  /** Tumbling 1-hour wall-clock window × event_type counts — the
    * canonical events-table aggregation (maps to Structured Streaming's
    * `window()` unchanged; epoch-aligned so the window start equals
    * hour truncation).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts_ts", timestamp_micros(col("ts_us")))
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))

  /** Rollup over (event_type, event_date): per-type-per-day, per-type,
    * grand total — one pass, partial aggregation map-side.
    */
  def rollupTypeDate(events: DataFrame): DataFrame =
    events
      .withColumn("event_date", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
      .rollup(col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("n"))

  /** Skew-safe equi-join for when the build side is too big to
    * broadcast AND the probe side has hot keys: each probe row gets a
    * uniform salt in [0, salt), the build side is replicated once per
    * salt value, and the join key becomes (key, salt) — a hot key's
    * rows now spread over `salt` reducers instead of one straggler.
    *
    * Spark's AQE skew-join handles the common case automatically
    * (`spark.sql.adaptive.skewJoin.enabled`, on by default); this
    * explicit form is for deterministic plans, pre-AQE engines, or
    * skew that AQE's split heuristics miss. The salt assignment is
    * row-arbitrary on the probe side — join OUTPUT is identical to the
    * unsalted join regardless of assignment (pinned by spec).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, probeKey: String,
                 buildKey: String, salt: Int): DataFrame = {
    val saltedProbe = probe.withColumn(
      "__salt", pmod(monotonically_increasing_id(), lit(salt.toLong)).cast("int"))
    val saltedBuild = build.withColumn(
      "__salt", explode(sequence(lit(0), lit(salt - 1))))
    saltedProbe
      .join(saltedBuild,
        saltedProbe(probeKey) === saltedBuild(buildKey) &&
          saltedProbe("__salt") === saltedBuild("__salt"))
      .drop("__salt")
  }

  /** Distinct-user counts per event type. Exact count-distinct shuffles
    * (user_id, event_type) once; at 100 TB prefer
    * `approx_count_distinct` (HLL, no second shuffle) when ±2% is
    * acceptable — kept exact here because the oracle hash-compares.
    */
  def distinctUsersPerType(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))

  /** The 100 TB form of [[distinctUsersPerType]]: HyperLogLog++ sketch
    * (`approx_count_distinct`) — one shuffle of fixed-size sketches
    * instead of a second expand-shuffle on (group, user), at a bounded
    * relative error (`rsd`, default 5%). Not oracle-checked (sketch
    * internals differ across engines); the spec pins the error bound
    * against the exact count.
    */
  def approxDistinctUsersPerType(events: DataFrame, rsd: Double = 0.05): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users_approx"))

  /** As-of join: for every `left` row, the single most recent `right`
    * row with the same `key` and `right.ts <= left.ts` (latest ts wins;
    * ties on ts broken by the largest `tieBreak`). The
    * last-purchase-before-click / latest-dimension-version-as-of-fact
    * operator (DuckDB spells it ASOF JOIN; Spark has no built-in).
    *
    * Shape: tag both inputs, union them, and run ONE `last(_, ignoreNulls)`
    * window pass ordered by (ts, side, tieBreak) — right rows sort
    * before left rows at equal ts, so an exactly-simultaneous right row
    * is visible to the left row. This is the scalable MERGE_ASOF plan:
    * one shuffle on `key` and one sort, versus the naive
    * inequality-join + row_number, which expands |left|x|right-per-key|
    * rows before filtering (the DuckDB oracle does exactly that —
    * fine at test scale, quadratic per key at 100 TB).
    *
    * Returns all `left` columns plus a nullable `asof` struct of
    * `rightCols` (null when no right row precedes the left row).
    * `tieBreak` must make (key, ts, tieBreak) unique on the right, or
    * the winner is ambiguous. Null keys never match (mirrors equi-join
    * semantics) — filter them out upstream.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               tieBreak: String, rightCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = right.select(
      col(key), col(ts),
      struct(rightCols.map(col): _*).as("__rpay"),
      lit(0).as("__side"))
    val l = left.withColumn("__side", lit(1))
    // left columns absent on the right side arrive as nulls
    val all = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("__side").asc,
        col("__rpay").getField(tieBreak).asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all
      .withColumn("asof", last(col("__rpay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__rpay")
  }

  /** Forward as-of join: for every `left` row, the EARLIEST `right`
    * row with the same `key` and `right.ts >= left.ts` (ties on ts to
    * the smallest `tieBreak`) — "next maintenance window", "next
    * price tick". Same union+window shape as [[asofJoin]], with the
    * scan direction reversed: ordered by ts DESC, right rows first at
    * equal ts, tieBreak DESC, so the running `last` seen at a left
    * row is the minimal (ts, tieBreak) at-or-after it.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String, ts: String,
                      tieBreak: String, rightCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = right.select(
      col(key), col(ts),
      struct(rightCols.map(col): _*).as("__rpay"),
      lit(0).as("__side"))
    val l = left.withColumn("__side", lit(1))
    val all = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).desc, col("__side").asc,
        col("__rpay").getField(tieBreak).desc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all
      .withColumn("asof", last(col("__rpay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__rpay")
  }

  /** Range (interval) join: match each fact row to every interval with
    * `lo <= factTs < hi`, via fixed-width binning. Each interval
    * explodes into the bins it covers; facts compute their bin; the
    * pair meets on a BIN EQUI-JOIN and the exact range predicate
    * filters the edges. Spark's planner would otherwise fall back to
    * BroadcastNestedLoopJoin for a pure inequality join — O(n*m)
    * comparisons; binning makes it a hash join on bin with only
    * intra-bin candidates. Choose `binWidth` near the typical interval
    * length: each interval then covers ~2 bins, so the candidate set is
    * ~2x the true matches regardless of scale. The interval side is
    * broadcast when small (the common case: calendars, campaigns,
    * maintenance windows); at large |intervals| drop the hint and both
    * sides shuffle on `_bin`.
    */
  def rangeJoinBinned(facts: DataFrame, factTs: String,
                      intervals: DataFrame, lo: String, hi: String,
                      binWidth: Long): DataFrame = {
    // floor, not int-cast: cast truncates toward zero, which mis-bins
    // negative domains (pre-epoch timestamps, signed offsets)
    val fb = facts.withColumn("__bin", floor(col(factTs) / binWidth).cast("long"))
    val ib = intervals.withColumn("__bin",
      explode(sequence(floor(col(lo) / binWidth).cast("long"),
        floor((col(hi) - 1) / binWidth).cast("long"))))
    fb.join(broadcast(ib), Seq("__bin"))
      .filter(col(factTs) >= col(lo) && col(factTs) < col(hi))
      .drop("__bin")
  }

  /** Rows a single executor can safely hold for a partition-less
    * window (≤ ~4M rows × ~50 B ≈ 200 MB) — the size gate
    * [[bandedNtile]] uses to pick its execution path, the same
    * size-based strategy call Spark makes for broadcast-vs-shuffle
    * joins.
    */
  val NtileWindowMaxRows: Long = 4L * 1000 * 1000

  /** Exact equal-count banding (`ntile` semantics, ties broken by the
    * caller's unique key suffix) that never funnels an unbounded input
    * through one task.
    *
    * `Window.orderBy` with no partition — what a naive ntile compiles
    * to — moves EVERY row through a single partition (window functions
    * do NOT range-partition the way `Dataset.orderBy` does), the
    * classic scale-killer at tens of millions of rows. This operator
    * picks per input size, both paths producing IDENTICAL output
    * (parity-pinned by RelationalOpsSpec):
    *
    *  - rows ≤ `maxWindowRows` (bounded; default [[NtileWindowMaxRows]]):
    *    the plain window — cheapest at interactive size, and safe
    *    because the bound caps the single task's working set;
    *  - larger: the exact global rank of [[scaleRowNumber]]
    *    (range-partitioned, never one task), so the band arithmetic
    *    below reproduces ntile bit-for-bit — no approx-quantile
    *    drift, the oracle stays hash-green.
    *
    * The rank→band arithmetic is ntile's contract: with N rows and n
    * bands, the first N % n bands get ⌈N/n⌉ rows, the rest ⌊N/n⌋.
    * Requires (orderKeys) to be a unique total order — every declared
    * caller suffixes its unique id.
    */
  /** Test hook: forces every [[bandedNtile]] call through the
    * range-repartition path so composite operators (RFM) can pin
    * path parity without threading a threshold parameter through.
    */
  @volatile private[graft] var testForceScaleNtile: Boolean = false

  def bandedNtile(df: DataFrame, n: Int, orderKeys: Seq[Column], out: String,
                  maxWindowRows: Long = NtileWindowMaxRows,
                  knownSize: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The size probe reads the input once uncached: on the window path
    // the input is then read exactly once more, so a cache would cost
    // more than the recompute (measured +0.2 s on q_ntile at sf0.1);
    // the scale path below caches its range-partitioned frame, which
    // the offset count and the rank both read (scaleRowNumber). Composite
    // callers that band the same frame repeatedly (RFM's three
    // dimensions) pass `knownSize` so the probe job runs once, not
    // once per dimension — a row count is row-preserving under
    // withColumn, so the first probe stays valid for every pass.
    val total = knownSize.getOrElse(df.count())
    if (total <= maxWindowRows && !testForceScaleNtile) {
      df.withColumn(out,
        ntile(n).over(Window.orderBy(orderKeys: _*)).cast("long"))
    } else {
      val rank = col("__rank")
      // exact ntile arithmetic from (rank, N): ceilDiv stays exact in
      // double math for N < 2^52
      def ceilDiv(a: Column, b: Long): Column =
        floor((a + (b - 1)) / lit(b.toDouble)).cast("long")
      val q = total / n; val rem = total % n
      val band =
        if (q == 0) rank // fewer rows than bands: one row per band
        else if (rem == 0) ceilDiv(rank, q)
        else when(rank <= rem * (q + 1), ceilDiv(rank, q + 1))
          .otherwise(lit(rem) + ceilDiv(rank - rem * (q + 1), q))
      scaleRowNumber(df, orderKeys, "__rank")
        .withColumn(out, band.cast("long")).drop("__rank")
    }
  }

  /** Exact global `row_number` over `orderKeys` that never funnels an
    * unbounded input through one task: range-partition on the order
    * keys (monotone, balanced partitions), rank locally, then add
    * per-partition offsets from a bounded one-row-per-partition count
    * collected to the driver. Global rank = offset + local rank is
    * EXACT for any monotone partitioning, so the result is
    * bit-identical to the partition-less window it replaces.
    * [[bandedNtile]]'s scale path bands this rank; Text.zipfFit ranks
    * its vocabulary with it. Requires `orderKeys` to be a total order
    * over the input.
    */
  def scaleRowNumber(df: DataFrame, orderKeys: Seq[Column], out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = df.sparkSession.sparkContext.defaultParallelism
    // only the ranged frame is cached: the offset count and the rank
    // both read it; caching the input too would hold a second full copy
    // of the rows to save the range sampler's one extra read
    val ranged = graft.CacheScope.cached(
      df.repartitionByRange(parts, orderKeys: _*)
        .withColumn("__pid", spark_partition_id()))
    // one row per partition — bounded by cluster parallelism, the
    // same documented collect family as broadcast model builds
    val cnt = ranged.groupBy(col("__pid")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = new Array[Long](parts)
    var acc = 0L
    (0 until parts).foreach { p => offsets(p) = acc; acc += cnt.getOrElse(p, 0L) }
    ranged.withColumn(out,
        element_at(typedlit(offsets.toSeq), col("__pid") + 1) +
          row_number().over(Window.partitionBy(col("__pid")).orderBy(orderKeys: _*)))
      .drop("__pid")
  }

  /** Equal-count bucketing (`ntile`) + per-bucket summary — the
    * decile/percentile-band report. The tile assignment is
    * [[bandedNtile]] ordered by (`valueCol`, `keyCol`): ntile is
    * rank-arithmetic, so the unique-key tiebreak makes bucket
    * boundaries engine-independent, and the banding never
    * single-partitions an unbounded input (see [[bandedNtile]] — a
    * partition-less window would; the old comment here claiming Spark
    * range-partitions window sorts was wrong, only `Dataset.orderBy`
    * does). The per-bucket aggregate is an ordinary partial-agged
    * groupBy.
    */
  def ntileStats(df: DataFrame, valueCol: String, keyCol: String, n: Int,
                 knownSize: Option[Long] = None): DataFrame =
    bandedNtile(df, n, Seq(col(valueCol), col(keyCol)), "tile",
      knownSize = knownSize)
      .groupBy(col("tile"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(min(col(valueCol)), 4).as("lo"),
        round(max(col(valueCol)), 4).as("hi"),
        round(avg(col(valueCol)), 4).as("mean"))

  /** Daily activity per key with a full DATE SPINE: every calendar day
    * between each key's first and last active day appears, zero-filled
    * when silent — the gap-fill step every time-series report needs
    * before charting or rate math (a plain groupBy silently drops the
    * quiet days).
    *
    * Shape: one aggregation to daily counts, one tiny per-key min/max
    * agg, `sequence()`+`explode` to generate the spine (a Generator on
    * the POST-aggregation table — |keys|·|days| rows, not the raw
    * corpus), and a spine⟕daily join. Both join sides are aggregates
    * (≤ |keys|·|days| rows each), so at 100 TB the join is
    * broadcast-sized no matter how big the raw event table was; the
    * only corpus-sized work is the first groupBy, which partial-aggs
    * map-side to the (key, day) domain.
    */
  def gapFillDaily(events: DataFrame, keyCol: String, tsUsCol: String): DataFrame = {
    val daily = events
      .filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol), to_date(timestamp_micros(col(tsUsCol))).as("d"))
      .agg(count(lit(1)).as("n"))
    val spine = daily
      .groupBy(col(keyCol))
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(col(keyCol), explode(sequence(col("lo"), col("hi"))).as("d"))
    spine
      .join(daily, Seq(keyCol, "d"), "left")
      .select(
        col(keyCol),
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Forward fill (last observation carried forward): replace NULLs in
    * `valueCol` with the most recent non-NULL value in the same
    * `partCol` group under the `ordCols` order; leading NULLs (no prior
    * observation) stay NULL. The standard sensor/price-series repair.
    *
    * `last(_, ignoreNulls = true)` over ROWS UNBOUNDED PRECEDING is
    * Spark's native LOCF — one window shuffle keyed by the partition
    * column, no self-join, no driver state. At 100 TB the partition key
    * (user/device/series id) is high-cardinality, so the single
    * shuffle-and-sort spreads evenly; that is the same cost bound as
    * any per-key ordered scan, i.e. optimal for this semantics.
    */
  def forwardFill(df: DataFrame, partCol: String, ordCols: Seq[String],
                  valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(partCol))
      .orderBy(ordCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(s"${valueCol}_fill", last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Trailing `windowDays`-day distinct count per calendar day (the
    * "7-day active users" metric). Distinct-over-a-sliding-window does
    * NOT decompose into per-day counts (users active on several days
    * must count once), so the exact form first shrinks the corpus to
    * DISTINCT (id, day) pairs, then expands each pair to the
    * `windowDays` report days it covers — an equi-join shape end to
    * end (explode + groupBy), never an inequality join (which would
    * plan as a nested-loop at scale). Silent days inside the span
    * report 0 via the same date-spine trick as [[gapFillDaily]].
    *
    * Cost: the only corpus-sized pass is the first distinct; the
    * ×windowDays expansion runs on active PAIRS (≪ raw events), and the
    * final count groups by day — tiny. For 100 TB or 90-day windows,
    * use [[rollingDistinctHllDaily]]: per-day HLL sketches (fixed bytes
    * per day) merged over the window — per-day cost becomes
    * sketch-merge instead of pair-expansion, at ~2% error.
    */
  def rollingDistinctDaily(events: DataFrame, idCol: String, tsUsCol: String,
                           windowDays: Int): DataFrame = {
    val ud = events
      .filter(col(idCol).isNotNull)
      .select(to_date(timestamp_micros(col(tsUsCol))).as("d"), col(idCol))
      .distinct()
    val expanded = ud.select(
      col(idCol),
      explode(sequence(col("d"), date_add(col("d"), windowDays - 1))).as("rd"))
    val spine = ud.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("rd"))
    spine
      .join(expanded, Seq("rd"), "left")
      .groupBy(col("rd"))
      .agg(count_distinct(col(idCol)).as("n_ids"))
      .select(date_format(col("rd"), "yyyy-MM-dd").as("day"), col("n_ids"))
  }

  /** Sketch form of [[rollingDistinctDaily]]: one Apache DataSketches
    * HLL per (day) — a single corpus pass producing |days| fixed-size
    * binaries — then each report day unions the sketches of its
    * trailing window and reads the estimate. The union runs on the
    * tiny per-day table, so a 90-day window over years of data costs
    * |days|·window sketch merges, independent of corpus size — the
    * standard streaming-warehouse shape for sliding distinct counts.
    */
  def rollingDistinctHllDaily(events: DataFrame, idCol: String, tsUsCol: String,
                              windowDays: Int): DataFrame = {
    val daily = events
      .filter(col(idCol).isNotNull)
      .groupBy(to_date(timestamp_micros(col(tsUsCol))).as("d"))
      .agg(hll_sketch_agg(col(idCol)).as("sk"))
    val expanded = daily.select(
      col("sk"), explode(sequence(col("d"), date_add(col("d"), windowDays - 1))).as("rd"))
    val spine = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("rd"))
    spine
      .join(expanded, Seq("rd"), "left")
      .groupBy(col("rd"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_est"))
      .select(date_format(col("rd"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_est"), lit(0L)).as("n_est"))
  }

  /** Per-group linear trend: OLS slope/intercept/R² of `yCol` against
    * `xCol` via the built-in regression aggregates. These are plain
    * algebraic aggregates (sums of x, y, xy, x², y²) — map-side
    * combinable, one shuffle of |groups| rows, so the trend over 100 TB
    * of telemetry costs exactly one aggregation pass.
    */
  def trendPerGroup(df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        round(regr_slope(col(yCol), col(xCol)), 4).as("slope_r"),
        round(regr_intercept(col(yCol), col(xCol)), 4).as("intercept_r"),
        round(regr_r2(col(yCol), col(xCol)), 4).as("r2_r"))

  /** Robust per-group outlier flagging via the median absolute
    * deviation: robust_z = (x − median) / (1.4826·MAD). Unlike the
    * z-score form ([[stddev]]-based q_outliers), a handful of extreme
    * values cannot drag the threshold — the standard intake gate for
    * heavy-tailed metrics. Two grouped exact-percentile passes over the
    * fact table; the per-group medians/MADs (|groups| rows) broadcast
    * back, so the fact side never shuffles. At 100 TB swap the exact
    * percentile for approx_percentile — same plan shape.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  cutoff: Double): DataFrame = {
    // med/MAD as two stacked group-partitioned windows: ONE exchange on
    // the group key and one job end-to-end. The former two broadcast
    // group-stat frames cost a job launch each and bought nothing —
    // exact percentile buffers a group's values wherever it runs, so
    // the window has the same memory shape as the aggregate, and both
    // are bounded by the largest group either way (at 100 TB a skewed
    // group needs approx_percentile under both formulations).
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    df
      // NULL group keys are dropped, preserving the operator's original
      // contract: the pre-window form equi-joined per-group stats back
      // onto the facts, and a NULL key never matches an equi-join —
      // whereas Window.partitionBy would give NULL its own partition
      // and let those rows reach the output with a med/MAD
      .filter(col(groupCol).isNotNull)
      .withColumn("med", expr(s"percentile($valueCol, 0.5)").over(wg))
      .withColumn("mad", expr(s"percentile(abs($valueCol - med), 0.5)").over(wg))
      // a zero-MAD group (≥50% identical values) would put ±Inf/NaN in
      // robust_z and flag every non-median row; NULL it instead so the
      // cutoff filter drops the group — the same null-guard pattern as
      // abTest, and it keeps Spark's NaN ordering out of the result
      .withColumn("robust_z",
        when(col("mad") > 0,
          (col(valueCol) - col("med")) / (lit(1.4826) * col("mad"))))
      .filter(abs(col("robust_z")) > cutoff)
  }

  /** Trailing exponentially-weighted moving average per key: over the
    * last `frame` rows, ewma = Σ αʲ·x₍ₜ₋ⱼ₎ / Σ αʲ (j = rows back).
    * EWMA's recursive definition doesn't fit a SQL window directly, but
    * its `frame`-truncated form is an ordered-frame aggregate: collect
    * the (row_number, value) pairs of the frame, fold the weighted sums
    * with a HOF. One key-partitioned sort shuffle — identical cost to
    * any other window here; the truncation error is αᶠʳᵃᵐᵉ (< 0.4% at
    * α=0.5, frame=8), which is also why the unbounded recursion isn't
    * worth a custom operator.
    */
  def ewma(df: DataFrame, keyCol: String, orderCol: String, tieCol: String,
           valueCol: String, alpha: Double, frame: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol), col(tieCol))
    val wf = w.rowsBetween(-(frame - 1), Window.currentRow)
    df.withColumn("rn", row_number().over(w))
      .withColumn("fr", collect_list(struct(col("rn"), col(valueCol).as("v"))).over(wf))
      .withColumn("num", aggregate(col("fr"), lit(0.0),
        (acc, e) => acc + e.getField("v") * pow(lit(alpha), col("rn") - e.getField("rn"))))
      .withColumn("den", aggregate(col("fr"), lit(0.0),
        (acc, e) => acc + pow(lit(alpha), col("rn") - e.getField("rn"))))
      .withColumn("ewma_r", round(col("num") / col("den"), 4))
      .drop("fr", "num", "den", "rn")
  }

  /** Key-distribution skew profiler — the "do I need to salt this
    * join?" diagnostic. Per-key counts, each hot key's share of the
    * table and its multiple of the mean key load; the hottest `topK`
    * keys returned. One aggregation (map-side combine ⇒ shuffle rows =
    * |keys|) plus a broadcast of the 1-row global stats; TakeOrdered
    * for the top-k. A key showing x_avg ≫ 1 is exactly the one
    * [[saltedJoin]] exists for.
    */
  def keySkewProfile(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    val perKey = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val totals = perKey.agg(
      sum(col("n")).as("total_n"), count(lit(1)).as("n_keys"))
    perKey.crossJoin(broadcast(totals))
      .select(
        col(keyCol),
        col("n"),
        round(col("n") / col("total_n"), 6).as("share_r"),
        round(col("n") * col("n_keys") / col("total_n"), 4).as("x_avg_r"))
      .orderBy(col("n").desc, col(keyCol).asc)
      .limit(topK)
  }

  /** k-anonymity release gate: aggregate over quasi-identifier columns
    * and mark every group backed by fewer than `k` distinct subjects
    * as suppressed — the standard privacy floor (Sweeney 2002) a
    * training-data or analytics release applies before publishing
    * grouped counts (a (event_type, day) cell naming 2 users re-
    * identifies them; a cell naming 200 doesn't). The aggregate VALUES
    * of suppressed cells are withheld (nulled), not just flagged, so
    * downstream consumers cannot accidentally publish them; the flag
    * plus the suppressed-row count keep the release auditable.
    *
    * Shape: one aggregate keyed by the QI columns; count_distinct of
    * the subject column is the only non-algebraic piece (exact here;
    * at 100 TB approx_count_distinct's ±2% suffices for a ≥k floor
    * check EXCEPT near the boundary — production keeps exact distinct
    * on the QI shuffle it already pays). No second shuffle.
    */
  def kAnonymize(df: DataFrame, qiCols: Seq[String], subjectCol: String,
                 valueCol: String, k: Int): DataFrame = {
    val grouped = df.filter(col(subjectCol).isNotNull)
      .groupBy(qiCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col(subjectCol)).as("n_subjects"),
        round(sum(col(valueCol)), 4).as("sum_v"))
    grouped.select(
      qiCols.map(col) ++ Seq(
        col("n_rows"),
        col("n_subjects"),
        when(col("n_subjects") >= k, col("sum_v")).as("sum_v_released"),
        when(col("n_subjects") >= k, 0L).otherwise(1L).as("suppressed")): _*)
  }

  /** l-diversity release gate — the homogeneity-attack fix on top of
    * [[kAnonymize]] (Machanavajjhala et al., ICDE 2006): a QI group
    * can be k-anonymous yet leak everything if all k subjects SHARE
    * the sensitive value ("every 55-year-old in 02139 has cancer"), so
    * release additionally requires ≥ `l` DISTINCT sensitive values in
    * the group. Groups failing either bar are emitted with their
    * aggregate withheld (NULL) and a suppressed flag — never silently
    * dropped, so the release audit sees what was withheld and why.
    *
    * Shape: one QI-keyed aggregate; both distinct counts partial-
    * aggregate map-side. Same 100 TB shape as [[kAnonymize]] — the
    * output is |QI groups|-sized, never data-sized.
    */
  def lDiversity(df: DataFrame, qiCols: Seq[String], subjectCol: String,
                 sensitiveCol: String, valueCol: String, k: Int, l: Int): DataFrame = {
    val grouped = df.filter(col(subjectCol).isNotNull)
      .groupBy(qiCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col(subjectCol)).as("n_subjects"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"),
        round(sum(col(valueCol)), 4).as("sum_v"))
    val released = col("n_subjects") >= k && col("n_sensitive") >= l
    grouped.select(
      qiCols.map(col) ++ Seq(
        col("n_rows"),
        col("n_subjects"),
        col("n_sensitive"),
        when(released, col("sum_v")).as("sum_v_released"),
        when(released, 0L).otherwise(1L).as("suppressed")): _*)
  }

  /** Differentially-private count release (Laplace mechanism,
    * sensitivity 1 for a count query): each group's true count is
    * published with additive noise drawn from Laplace(1/ε) by
    * inverse-CDF over a uniform u ∈ (−0.5, 0.5). The uniform is
    * DETERMINISTIC — u = (h + 0.5)/2³² − 0.5 from an md5 of the group
    * key (the +0.5 keeps u strictly inside the open interval, so
    * ln(1−2|u|) never hits −∞) — which makes the release reproducible
    * and oracle-restatable; a production release swaps the seed
    * stream for a CSPRNG draw and drops the `n_true` audit column
    * (publishing it would defeat the mechanism — it rides here only
    * for the correctness gate).
    *
    * PRIVACY BUDGET / COMPOSITION: each call spends ε ONCE on the
    * rows it touches. Repeated releases over the SAME underlying rows
    * (re-running with a new noise draw, releasing overlapping group-by
    * breakdowns of one table, or a count and a sum over the same
    * frame) compose ADDITIVELY — k releases at ε each are one release
    * at k·ε — so a real deployment tracks a cumulative per-dataset
    * budget and divides it across every query it will ever answer.
    * Releases over DISJOINT row sets (e.g. separate date partitions)
    * run in parallel composition and spend only max(ε), which is why
    * the partitioned-release pattern is the 100 TB-friendly one.
    *
    * Shape: ONE group-keyed aggregate (map-side combinable count) +
    * noise as a map-side expression over the |groups|-sized frame.
    * At 100 TB the output stays groups-sized; nothing else shuffles.
    */
  def dpNoisedCounts(df: DataFrame, groupCols: Seq[String],
                     epsilon: Double): DataFrame = {
    val noise = laplaceSeeded("dp", groupCols, b = 1.0 / epsilon)
    df.filter(groupCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_true"))
      .select(groupCols.map(col) ++ Seq(
        col("n_true"),
        round(col("n_true") + noise, 4).as("dp_n_r")): _*)
  }

  /** Differentially-private SUM release: each row's contribution is
    * CLAMPED to [0, clampHi] first — the clamp bounds the sensitivity
    * (one row can move the sum by at most clampHi), which is what
    * licenses Laplace(clampHi/ε) noise; without it a single outlier
    * row forces unbounded noise. The clamped true sum rides as the
    * audit column (a real release publishes only dp_sum_r — see
    * [[dpNoisedCounts]]'s seeded-noise note, which applies verbatim).
    *
    * Shape: one group-keyed aggregate, noise map-side over the
    * |groups|-sized frame — identical scale shape to the count form.
    */
  def dpNoisedSum(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  clampHi: Double, epsilon: Double): DataFrame = {
    val clamped = least(greatest(col(valueCol), lit(0.0)), lit(clampHi))
    val noise = laplaceSeeded("dps", groupCols, b = clampHi / epsilon)
    df.filter((groupCols.map(col(_).isNotNull) :+ col(valueCol).isNotNull).reduce(_ && _))
      .groupBy(groupCols.map(col): _*)
      .agg(round(sum(clamped), 4).as("sum_clamped_r"))
      .select(groupCols.map(col) ++ Seq(
        col("sum_clamped_r"),
        round(col("sum_clamped_r") + noise, 4).as("dp_sum_r")): _*)
  }

  /** Laplace(b) noise seeded deterministically from the group key:
    * inverse CDF over u = (h + 0.5)/2³² − 0.5 (strictly inside the
    * open interval — ln(1−2|u|) always finite), h = first 8 md5 hex
    * digits of "tag|group...". Deterministic so the release is
    * reproducible and oracle-restatable.
    */
  private def laplaceSeeded(tag: String, groupCols: Seq[String], b: Double): Column = {
    val key = concat_ws("|", lit(tag) +: groupCols.map(c => col(c).cast("string")): _*)
    val h = conv(substring(md5(key.cast("binary")), 1, 8), 16, 10).cast("double")
    val u = (h + 0.5) / 4294967296.0 - 0.5
    -(lit(b)) * signum(u) * log(lit(1.0) - abs(u) * 2.0)
  }
}
