package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Tables}
import graft.ops.{Corpus, Relational, Sketches}
import graft.Tables._
import graft.EntrySupport._

/** Warehouse relational forms: joins, set operations, windows,
  * grouping sets, statistics, skew handling and the mergeable sketches. */
private[graft] object RelationalQueries {

  /** Bottom-64 KMV/theta sketches per event type (`skk`, `meta`) and, per
    * type pair, each side's retained hashes under the pair threshold. */
  private val thetaSketchCtes: String =
    """dk AS (
      |  SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS k
      |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
      |hx AS (
      |  SELECT DISTINCT g, ('0x' || substr(md5(k), 1, 8))::BIGINT AS h FROM dk),
      |skr AS (
      |  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rnk FROM hx),
      |skk AS (SELECT g, h FROM skr WHERE rnk <= 64),
      |meta AS (
      |  SELECT g,
      |         CASE WHEN count(*) < 64 THEN CAST(4294967296 AS DOUBLE)
      |              ELSE CAST(max(h) AS DOUBLE) END AS th
      |  FROM skk GROUP BY 1),
      |pairs AS (
      |  SELECT a.g AS ga, b.g AS gb, least(a.th, b.th) AS thp
      |  FROM meta a, meta b WHERE a.g < b.g),
      |ra AS (
      |  SELECT p.ga, p.gb, CAST(count(*) AS BIGINT) AS na2
      |  FROM pairs p JOIN skk s ON s.g = p.ga AND CAST(s.h AS DOUBLE) < p.thp
      |  GROUP BY 1, 2),
      |rb AS (
      |  SELECT p.ga, p.gb, CAST(count(*) AS BIGINT) AS nb2
      |  FROM pairs p JOIN skk s ON s.g = p.gb AND CAST(s.h AS DOUBLE) < p.thp
      |  GROUP BY 1, 2)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q_join_inner", (s, dir) => {
      Relational.ordersWithCustomer(Tables.orders(s, dir), Tables.customer(s, dir))
        .select(col("o_orderkey"), col("c_name"), round(col("o_totalprice"), 4).as("total_r"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey, c_name, round(o_totalprice, 4) AS total_r
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    Query("q_join_left", (s, dir) => {
      Relational.lineitemWithPart(Tables.lineitem(s, dir), Tables.part(s, dir))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("p_name"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
        // l_partkey added so every output column is determined by the sort key.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    }, Sql(
      """SELECT l_orderkey, l_linenumber, l_partkey, p_name
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber, l_partkey""".stripMargin)),

    Query("q_join_semi", (s, dir) => {
      Relational.customersWithOrders(Tables.customer(s, dir), Tables.orders(s, dir))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin)),

    Query("q_window_rank", (s, dir) => {
      Relational.rankPerUser(Tables.events(s, dir))
        .orderBy(col("user_id").asc_nulls_first, col("rn"))
    }, Sql(
      """SELECT user_id, event_id,
        |       CAST(row_number() OVER (PARTITION BY user_id
        |                               ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
        |FROM events ORDER BY user_id NULLS FIRST, rn""".stripMargin)),

    Query("q_window_lag", (s, dir) => {
      Relational.interEventGap(Tables.events(s, dir))
        .orderBy(col("user_id").asc_nulls_first, col("ts_us"), col("event_id"))
    }, Sql(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |       epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |FROM events ORDER BY user_id NULLS FIRST, ts_us, event_id""".stripMargin)),

    Query("q_window_tumbling", (s, dir) => {
      Relational.hourlyCounts(Tables.events(s, dir))
        .orderBy(col("win_start"), col("event_type").asc_nulls_first)
    }, Sql(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type NULLS FIRST""".stripMargin)),

    Query("q_agg_stats", (s, dir) => {
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(
          round(stddev_samp(col("value")), 4).as("sd_value"),
          round(var_samp(col("value")), 4).as("var_value"),
          round(min(col("value")), 4).as("min_value"),
          round(max(col("value")), 4).as("max_value"))
        .orderBy(col("event_type").asc_nulls_first)
    }, Sql(
      """SELECT event_type,
        |       round(stddev_samp(value), 4) AS sd_value,
        |       round(var_samp(value), 4) AS var_value,
        |       round(min(value), 4) AS min_value,
        |       round(max(value), 4) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin)),

    Query("q_percentile", (s, dir) => {
      // Exact interpolated percentiles (both engines use linear
      // interpolation). At 100 TB swap for approx_percentile
      // (t-digest-style sketch, single pass, mergeable).
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"))
        .orderBy(col("event_type").asc_nulls_first)
    }, Sql(
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin)),

    Query("q_above_avg", (s, dir) => {
      // Scalar subquery through Catalyst's subquery rewriting (not a
      // driver-side collect): events with value above the global mean.
      Tables.events(s, dir).createOrReplaceTempView("ev_sub")
      s.sql(
        """SELECT event_id, round(value, 4) AS value_r FROM ev_sub
          |WHERE value > (SELECT avg(value) FROM ev_sub)
          |ORDER BY event_id""".stripMargin)
    }, Sql(
      """SELECT event_id, round(value, 4) AS value_r FROM events
        |WHERE value > (SELECT avg(value) FROM events)
        |ORDER BY event_id""".stripMargin)),

    Query("q_cube", (s, dir) => {
      Tables.events(s, dir)
        .withColumn("event_date", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
        .cube(col("event_type"), col("event_date"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("event_date").asc_nulls_first)
    }, Sql(
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n
        |FROM events
        |GROUP BY CUBE(event_type, strftime(ts, '%Y-%m-%d'))
        |ORDER BY event_type NULLS FIRST, event_date NULLS FIRST""".stripMargin)),

    Query("q_join_full", (s, dir) => {
      // Both sides partially unmatched so the FULL OUTER shape is real:
      // low custkeys exist only on the customer side, high ones only in
      // the per-customer order rollup.
      val a = Tables.customer(s, dir)
        .filter(col("c_custkey") <= 700).select(col("c_custkey"), col("c_name"))
      val b = Tables.orders(s, dir)
        .filter(col("o_custkey") >= 300)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      a.join(b, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), col("n_orders"))
        .orderBy(col("custkey"))
    }, Sql(
      """WITH a AS (
        |  SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 700),
        |b AS (
        |  SELECT o_custkey, count(*) AS n_orders FROM orders
        |  WHERE o_custkey >= 300 GROUP BY o_custkey)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders
        |FROM a FULL OUTER JOIN b ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin)),

    Query("q_window_moving", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      Tables.events(s, dir).select(
        col("user_id"), col("event_id"), col("ts_us"),
        round(avg(col("value")).over(w), 4).as("mov_avg"))
        .orderBy(col("user_id").asc_nulls_first, col("ts_us"), col("event_id"))
    }, Sql(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |       round(avg(value) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg
        |FROM events ORDER BY user_id NULLS FIRST, ts_us, event_id""".stripMargin)),

    Query("q_profile", (s, dir) => {
      // Single-pass data-quality profile: one aggregation computes
      // null counts, ranges, and exact distincts for the whole table —
      // the intake check a pipeline runs before trusting a new drop.
      Tables.events(s, dir).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"),
        sum(when(col("props").isNull || col("props") === "", 1L).otherwise(0L)).as("empty_props"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("ts_us")).as("min_ts_us"),
        max(col("ts_us")).as("max_ts_us"),
        round(min(col("value")), 4).as("min_value"),
        round(max(col("value")), 4).as("max_value"))
    }, Sql(
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user,
        |  CAST(sum(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS empty_props,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_type) AS n_types,
        |  min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us,
        |  round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
        |FROM events""".stripMargin)),

    Query("q_pivot", (s, dir) => {
      // Pivot long→wide: per user, one count column per event type.
      // The type vocabulary is supplied explicitly — at scale an
      // unspecified pivot triggers an extra distinct-values job.
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .orderBy(col("user_id").asc_nulls_first)
    }, Sql(
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id NULLS FIRST""".stripMargin)),

    Query("q_grouping_sets", (s, dir) => {
      Tables.events(s, dir)
        .withColumn("event_date", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
        .groupingSets(
          Seq(Seq(col("event_type")), Seq(col("event_date"))),
          col("event_type"), col("event_date"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("event_date").asc_nulls_first)
    }, Sql(
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (strftime(ts, '%Y-%m-%d')))
        |ORDER BY event_type NULLS FIRST, event_date NULLS FIRST""".stripMargin)),

    Query("q_asof_join", (s, dir) => {
      // Last purchase at-or-before each click, per user — the
      // attribution/funnel join. One shuffle + sort (merge-asof form),
      // never the |clicks|x|purchases-per-user| expansion.
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      Relational.asofJoin(clicks, purchases, "user_id", "ts_us", "event_id",
          Seq("ts_us", "event_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof.ts_us").as("p_ts_us"), col("asof.event_id").as("p_event_id"))
        .orderBy(col("event_id"))
    }, Sql(
      // The oracle states as-of semantics the direct (quadratic) way:
      // expand all qualifying purchases per click, keep rank 1 by
      // (ts DESC, event_id DESC). The engine's union+window plan must
      // produce exactly this winner.
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.event_id, c.user_id, c.ts_us,
        |         p.ts_us AS p_ts_us, p.event_id AS p_event_id,
        |         row_number() OVER (PARTITION BY c.event_id
        |                            ORDER BY p.ts_us DESC, p.event_id DESC) AS rn
        |  FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.ts_us <= c.ts_us)
        |SELECT event_id, user_id, ts_us, p_ts_us, p_event_id
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    Query("q_range_join", (s, dir) => {
      // Events into overlapping 36h maintenance windows (one per day):
      // bin-equi-join + residual filter, not a nested-loop inequality join.
      val day = 86400000000L
      val start = 1704412800000000L // 2024-01-05 00:00 UTC, micros
      val win = s.range(20).select(
        col("id").as("win_id"),
        (lit(start) + col("id") * day).as("lo"),
        (lit(start) + col("id") * day + 36L * 3600000000L).as("hi"))
      Relational.rangeJoinBinned(
          Tables.events(s, dir).select(col("event_id"), col("ts_us")),
          "ts_us", win, "lo", "hi", day)
        .select(col("event_id"), col("win_id"), col("ts_us"))
        .orderBy(col("event_id"), col("win_id"))
    }, Sql(
      """WITH win AS (
        |  SELECT CAST(i AS BIGINT) AS win_id,
        |         1704412800000000 + i * 86400000000 AS lo,
        |         1704412800000000 + i * 86400000000 + 129600000000 AS hi
        |  FROM range(20) t(i))
        |SELECT e.event_id, w.win_id, epoch_us(e.ts) AS ts_us
        |FROM events e JOIN win w
        |  ON epoch_us(e.ts) >= w.lo AND epoch_us(e.ts) < w.hi
        |ORDER BY e.event_id, w.win_id""".stripMargin)),

    Query("q_unpivot", (s, dir) => {
      // Wide→long reshape (melt): stack() emits 4 rows per input row in
      // one codegen'd projection — no join, no shuffle, no UDF.
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .selectExpr("l_orderkey", "l_linenumber", "l_partkey",
          """stack(4,
            |  'discount', round(l_discount, 4),
            |  'extendedprice', round(l_extendedprice, 4),
            |  'quantity', round(l_quantity, 4),
            |  'tax', round(l_tax, 4)) AS (metric, val)""".stripMargin)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("metric"), col("val"))
    }, Sql(
      """WITH m AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |         'discount' AS metric, round(l_discount, 4) AS val
        |  FROM lineitem WHERE l_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |         'extendedprice', round(l_extendedprice, 4)
        |  FROM lineitem WHERE l_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |         'quantity', round(l_quantity, 4)
        |  FROM lineitem WHERE l_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |         'tax', round(l_tax, 4)
        |  FROM lineitem WHERE l_orderkey % 10 = 0)
        |SELECT l_orderkey, l_linenumber, l_partkey, metric, val
        |FROM m ORDER BY l_orderkey, l_linenumber, l_partkey, metric, val""".stripMargin)),

    Query("q_outliers", (s, dir) => {
      // Z-score anomaly flagging: per-type moments once, broadcast
      // back against the stream — the stats-join-back intake check
      // (contrast q_above_avg's single global scalar subquery).
      val ev = Tables.events(s, dir)
      val stats = ev.groupBy(col("event_type")).agg(
        avg(col("value")).as("__mu"), stddev_samp(col("value")).as("__sd"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("value") - col("__mu")) / col("__sd"))
        .filter(abs(col("z")) > 2.5)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).as("value_r"), round(col("z"), 4).as("z_r"))
        .orderBy(col("event_id"))
    }, Sql(
      """WITH st AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, round(e.value, 4) AS value_r,
        |       round((e.value - st.mu) / st.sd, 4) AS z_r
        |FROM events e JOIN st USING (event_type)
        |WHERE abs((e.value - st.mu) / st.sd) > 2.5
        |ORDER BY e.event_id""".stripMargin)),

    Query("q_corr", (s, dir) => {
      // Bivariate stats per group: correlation and sample covariance
      // between the metric and the extracted numeric param — one
      // partial-aggregated pass (corr/covar state is a fixed tuple of
      // moments, mergeable like any sketch).
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(corr(col("value"), col("k")), 4).as("corr_vk"),
          round(covar_samp(col("value"), col("k")), 4).as("covar_vk"))
        .orderBy(col("event_type").asc_nulls_first)
    }, Sql(
      """WITH d AS (
        |  SELECT event_type, value,
        |         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |       round(corr(value, k), 4) AS corr_vk,
        |       round(covar_samp(value, k), 4) AS covar_vk
        |FROM d WHERE k IS NOT NULL
        |GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin)),

    Query("q_histogram", (s, dir) => {
      // Fixed-width binned distribution — the intake profile's
      // histogram twin. Bin id is computed map-side; one aggregation.
      Tables.events(s, dir)
        .select(floor(col("value") / 25.0).cast("long").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"))
        .withColumn("lo", round(col("bin") * 25.0, 4))
        .orderBy(col("bin"))
    }, Sql(
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS n,
        |       round(CAST(floor(value / 25.0) AS BIGINT) * 25.0, 4) AS lo
        |FROM events GROUP BY 1 ORDER BY bin""".stripMargin)),

    Query("q_drift", (s, dir) => {
      // Distribution drift between two periods, one scan: conditional
      // counts per type, shares against period totals (broadcast back),
      // absolute share delta as the drift signal.
      val side = when(col("ts_us") < D2024_01_10_US, "a")
        .when(col("ts_us") < D2024_01_20_US, "b")
      val tagged = Tables.events(s, dir).withColumn("side", side)
        .filter(col("side").isNotNull)
      val perType = tagged.groupBy(col("event_type")).agg(
        sum(when(col("side") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("side") === "b", 1L).otherwise(0L)).as("n_b"))
      val totals = perType.agg(
        sum(col("n_a")).cast("double").as("__ta"),
        sum(col("n_b")).cast("double").as("__tb"))
      perType.crossJoin(broadcast(totals))
        .select(
          col("event_type"), col("n_a"), col("n_b"),
          round(col("n_a") / col("__ta"), 4).as("share_a"),
          round(col("n_b") / col("__tb"), 4).as("share_b"),
          round(abs(col("n_a") / col("__ta") - col("n_b") / col("__tb")), 4).as("drift"))
        .orderBy(col("event_type").asc_nulls_first)
    }, Sql(
      """WITH tagged AS (
        |  SELECT event_type,
        |         CASE WHEN epoch_us(ts) < 1704844800000000 THEN 'a'
        |              WHEN epoch_us(ts) < 1705708800000000 THEN 'b' END AS side
        |  FROM events),
        |per_type AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM tagged WHERE side IS NOT NULL GROUP BY event_type),
        |tot AS (
        |  SELECT CAST(sum(n_a) AS DOUBLE) AS ta, CAST(sum(n_b) AS DOUBLE) AS tb
        |  FROM per_type)
        |SELECT event_type, n_a, n_b,
        |       round(n_a / tot.ta, 4) AS share_a,
        |       round(n_b / tot.tb, 4) AS share_b,
        |       round(abs(n_a / tot.ta - n_b / tot.tb), 4) AS drift
        |FROM per_type, tot
        |ORDER BY event_type NULLS FIRST""".stripMargin)),

    Query("q_window_range", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // RANGE frame (value-based, not row-based): trailing 1-hour sum
      // per user — rows at equal ts share one frame, and gaps in time
      // shrink the window. Complements the ROWS frames in
      // q_window_moving.
      val hourUs = 3600000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-hourUs, Window.currentRow)
      Tables.events(s, dir).select(
        col("user_id"), col("event_id"), col("ts_us"),
        round(sum(col("value")).over(w), 4).as("hour_sum"))
        .orderBy(col("user_id").asc_nulls_first, col("ts_us"), col("event_id"))
    }, Sql(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |       round(sum(value) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(ts)
        |         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS hour_sum
        |FROM events
        |ORDER BY user_id NULLS FIRST, ts_us, event_id""".stripMargin)),

    Query("q_argmax", (s, dir) => {
      // Argmax aggregates: per event type, WHICH event carried the
      // max/min value (max_by/min_by, one aggregation pass — no
      // self-join back against the max). Ties broken deterministically
      // by taking the larger (event_id-tagged) struct.
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          max_by(col("event_id"), struct(col("value"), col("event_id"))).as("max_event_id"),
          min_by(col("event_id"), struct(col("value"), col("event_id"))).as("min_event_id"),
          round(max(col("value")), 4).as("max_value"))
        .orderBy(col("event_type").asc_nulls_first)
    }, Sql(
      // arg-extrema stated via rank windows (portable form of
      // max_by/min_by with the same lexicographic tie-break)
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id DESC) AS rmax,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value ASC, event_id ASC) AS rmin
        |  FROM events)
        |SELECT event_type,
        |       max(CASE WHEN rmax = 1 THEN event_id END) AS max_event_id,
        |       min(CASE WHEN rmin = 1 THEN event_id END) AS min_event_id,
        |       round(max(value), 4) AS max_value
        |FROM r GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin)),

    Query("q_ntile", (s, dir) => {
      Relational.ntileStats(
          Tables.orders(s, dir), "o_totalprice", "o_orderkey", n = 10,
          knownSize = Some(tableCountLocal(s, dir, "orders")))
        .orderBy(col("tile"))
    }, Sql(
      """WITH t AS (
        |  SELECT o_totalprice,
        |         CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS tile
        |  FROM orders)
        |SELECT tile, count(*) AS n_rows,
        |       round(min(o_totalprice), 4) AS lo,
        |       round(max(o_totalprice), 4) AS hi,
        |       round(avg(o_totalprice), 4) AS mean
        |FROM t GROUP BY tile ORDER BY tile""".stripMargin)),

    Query("q_window_pct", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // distribution-position windows: percent_rank (rank-based) and
      // cume_dist (inclusive-count based) per event type — the
      // "where does this value sit" analytics surface q_ntile bands.
      // Scale note: event_type is LOW-cardinality, so each partition
      // is corpus-sized/|types| — one sort per type. At 100 TB compute
      // positions from a binned CDF instead (q_histogram's shape:
      // bin counts + a running sum over the tiny bin table) and keep
      // this exact window for verification samples.
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir)
        .select(
          col("event_id"), col("event_type"),
          round(col("value"), 4).as("value_r"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, event_type,
        |       round(value, 4) AS value_r,
        |       round(percent_rank() OVER (PARTITION BY event_type
        |                                  ORDER BY value, event_id), 6) AS pct_rank,
        |       round(cume_dist() OVER (PARTITION BY event_type
        |                               ORDER BY value, event_id), 6) AS cume
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_join_right", (s, dir) => {
      // RIGHT outer: every customer appears even without orders in the
      // date slice — the mirror of q_join_left, kept as its own row so
      // the join surface is complete left/right/full/semi/anti/inner
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"), "right")
        .select(
          col("c_custkey"), col("c_name"),
          col("o_orderkey"),
          round(col("o_totalprice"), 4).as("price_r"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    }, Sql(
      """SELECT c_custkey, c_name, o_orderkey,
        |       round(o_totalprice, 4) AS price_r
        |FROM (SELECT * FROM orders
        |      WHERE o_orderdate >= TIMESTAMP '2000-06-01') o
        |RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY c_custkey, o_orderkey ASC NULLS FIRST""".stripMargin)),

    Query("q_intersect", (s, dir) => {
      // INTERSECT = distinct set semantics in both engines. Spark plans
      // this as a left-semi join over pre-aggregated sides — the same
      // cost bound as q_join_semi, no row explosion.
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase").select(col("user_id"))
        .intersect(
          ev.filter(col("event_type") === "error").select(col("user_id")))
        .orderBy(col("user_id").asc_nulls_first)
    }, Sql(
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id NULLS FIRST""".stripMargin)),

    Query("q_except", (s, dir) => {
      // EXCEPT (distinct) — signed-up users who never purchased: the
      // set-difference completion of the union/intersect surface.
      // Plans as a left-anti join, mirror of q_upsert_anti.
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "signup").select(col("user_id"))
        .except(
          ev.filter(col("event_type") === "purchase").select(col("user_id")))
        .orderBy(col("user_id").asc_nulls_first)
    }, Sql(
      """SELECT user_id FROM events WHERE event_type = 'signup'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id NULLS FIRST""".stripMargin)),

    Query("q_cross_join", (s, dir) => {
      // Explicit cartesian of two TINY dims (5×25 rows) — the template
      // expansion shape (every region × every nation scaffold). Spark
      // requires crossJoin to be spelled out, which is the right
      // guard: an accidental cartesian of fact tables at 100 TB is a
      // job-killer, so the API makes intent explicit and the small
      // side broadcasts.
      Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))
        .crossJoin(broadcast(
          Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))))
        .orderBy(col("r_regionkey"), col("n_nationkey"))
    }, Sql(
      """SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin)),

    Query("q_window_firstlast", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Frame-edge value windows: each event annotated with its user's
      // first, latest-so-far, and second event type. first/nth need the
      // full frame (UNBOUNDED FOLLOWING for last would be the naive
      // form — using the growing frame for "latest so far" keeps the
      // streaming-compatible shape); one shuffle keyed by user_id.
      val wFull = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wGrow = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .select(
          col("event_id"), col("user_id"), col("ts_us"),
          first(col("event_type")).over(wGrow).as("first_type"),
          last(col("event_type")).over(wGrow).as("latest_type"),
          nth_value(col("event_type"), 2).over(wFull).as("second_type"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  first_value(event_type) OVER w_grow AS first_type,
        |  last_value(event_type) OVER w_grow AS latest_type,
        |  nth_value(event_type, 2) OVER w_full AS second_type
        |FROM events WHERE user_id IS NOT NULL
        |WINDOW
        |  w_grow AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  w_full AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin)),

    Query("q_gap_fill", (s, dir) => {
      Relational.gapFillDaily(Tables.events(s, dir), "event_type", "ts_us")
        .orderBy(col("event_type"), col("day"))
    }, Sql(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |span AS (
        |  SELECT event_type, min(d) AS lo, max(d) AS hi
        |  FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT event_type,
        |         CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM span)
        |SELECT s.event_type, strftime(s.d, '%Y-%m-%d') AS day,
        |       coalesce(n, 0) AS n
        |FROM spine s LEFT JOIN daily USING (event_type, d)
        |ORDER BY event_type, day""".stripMargin)),

    Query("q_locf", (s, dir) => {
      // Deterministic nulls are injected (every third event "dropped
      // its reading"), then repaired by forward fill — both halves
      // mirrored in the oracle. Leading nulls stay null.
      val withGaps = Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .withColumn("v_gap",
          when(col("event_id") % 3 === 0, lit(null).cast("double"))
            .otherwise(col("value")))
      Relational.forwardFill(withGaps, "user_id", Seq("ts_us", "event_id"), "v_gap")
        .select(
          col("event_id"), col("user_id"), col("ts_us"),
          round(col("v_gap"), 4).as("v_gap_r"),
          round(col("v_gap_fill"), 4).as("v_fill_r"))
        .orderBy(col("event_id"))
    }, Sql(
      """WITH g AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |         CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v_gap
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT event_id, user_id, ts_us,
        |  round(v_gap, 4) AS v_gap_r,
        |  round(last_value(v_gap IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_fill_r
        |FROM g ORDER BY event_id""".stripMargin)),

    Query("q_rolling_distinct", (s, dir) => {
      // trailing 7-day active users per day
      Relational.rollingDistinctDaily(Tables.events(s, dir), "user_id", "ts_us",
          windowDays = 7)
        .orderBy(col("day"))
    }, Sql(
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        |  FROM events WHERE user_id IS NOT NULL),
        |exp AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
        |                                     INTERVAL 1 DAY)) AS DATE) AS rd
        |  FROM ud),
        |b AS (SELECT min(d) AS lo, max(d) AS hi FROM ud),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS rd
        |  FROM b)
        |SELECT strftime(s.rd, '%Y-%m-%d') AS day,
        |       count(DISTINCT e.user_id) AS n_ids
        |FROM spine s LEFT JOIN exp e USING (rd)
        |GROUP BY s.rd ORDER BY day""".stripMargin)),

    Query("q_window_median", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Exact interpolated median over a trailing 5-row frame per user
      // — the robust-smoothing twin of q_window_moving's mean (a single
      // spike moves the mean but not the median). percentile() is an
      // ordered-frame aggregate: per row it sees O(frame)=5 values, so
      // the cost is one user-keyed sort like every other window here.
      // At 100 TB with WIDE frames swap in approx_percentile sketches
      // per tumbling bucket instead (q_window_tumbling's shape).
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .select(
          col("event_id"), col("user_id"), col("ts_us"),
          round(col("value"), 4).as("value_r"),
          round(expr("percentile(value, 0.5)").over(w), 4).as("med_r"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |       round(value, 4) AS value_r,
        |       round(quantile_cont(value, 0.5) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS med_r
        |FROM events WHERE user_id IS NOT NULL
        |ORDER BY event_id""".stripMargin)),

    Query("q_safe_cast", (s, dir) => {
      // Intake hygiene: a deterministically-dirtied numeric-string
      // column (N/A markers, empties) re-parsed with try_cast — the
      // malformed-row triage every external feed needs. try_cast is
      // the codegen'd, non-throwing form: bad cells become NULL and
      // are COUNTED per type, never killing the job (ANSI-mode cast
      // would throw on the first 'N/A' at row 3 billion).
      val dirty = when(col("event_id") % 7 === 0, lit("N/A"))
        .when(col("event_id") % 11 === 0, lit(""))
        .otherwise(col("value").cast("string"))
      Tables.events(s, dir)
        .select(col("event_type"), dirty.as("raw"))
        .select(col("event_type"), col("raw"),
          expr("try_cast(raw AS double)").as("parsed"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("parsed").isNull, 1L).otherwise(0L)).as("n_bad"),
          round(avg(col("parsed")), 4).as("avg_ok_r"))
        .orderBy(col("event_type"))
    }, Sql(
      """WITH d AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 7 = 0 THEN 'N/A'
        |              WHEN event_id % 11 = 0 THEN ''
        |              ELSE CAST(value AS VARCHAR) END AS raw
        |  FROM events)
        |SELECT event_type, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN try_cast(raw AS DOUBLE) IS NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |       round(avg(try_cast(raw AS DOUBLE)), 4) AS avg_ok_r
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Query("q_regression", (s, dir) => {
      // Per-type linear trend of value over time (days since the
      // watermark epoch) — "is this metric drifting, and how fast".
      Relational.trendPerGroup(
          Tables.events(s, dir).withColumn(
            "x", (col("ts_us") - lit(D2024_01_10_US)) / lit(8.64e10)),
          "event_type", "x", "value")
        .orderBy(col("event_type"))
    }, Sql(
      """WITH e AS (
        |  SELECT event_type,
        |         (epoch_us(ts) - 1704844800000000) / 86400000000.0 AS x,
        |         value AS y
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |       round(regr_slope(y, x), 4) AS slope_r,
        |       round(regr_intercept(y, x), 4) AS intercept_r,
        |       round(regr_r2(y, x), 4) AS r2_r
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Query("q_mad_outliers", (s, dir) => {
      Relational.madOutliers(Tables.events(s, dir), "event_type", "value", 3.0)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).as("value_r"),
          round(col("robust_z"), 4).as("robust_z_r"))
        .orderBy(col("event_id"))
    }, Sql(
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM e GROUP BY 1),
        |d AS (
        |  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM e JOIN m USING (event_type) GROUP BY event_type)
        |SELECT event_id, event_type, round(value, 4) AS value_r,
        |       round(CASE WHEN mad > 0
        |                  THEN (value - med) / (1.4826 * mad) END, 4) AS robust_z_r
        |FROM e JOIN m USING (event_type) JOIN d USING (event_type)
        |WHERE abs(CASE WHEN mad > 0
        |               THEN (value - med) / (1.4826 * mad) END) > 3
        |ORDER BY event_id""".stripMargin)),

    Query("q_key_skew", (s, dir) => {
      Relational.keySkewProfile(Tables.events(s, dir), "user_id", 20)
        .orderBy(col("n").desc, col("user_id").asc)
    }, Sql(
      """WITH k AS (
        |  SELECT user_id, count(*) AS n
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |t AS (SELECT sum(n) AS total_n, count(*) AS n_keys FROM k)
        |SELECT user_id, n,
        |       round(n / total_n, 6) AS share_r,
        |       round(n * n_keys / total_n, 4) AS x_avg_r
        |FROM k CROSS JOIN t
        |ORDER BY n DESC, user_id ASC LIMIT 20""".stripMargin)),

    Query("q_ewma", (s, dir) => {
      Relational.ewma(
          Tables.events(s, dir).filter(col("user_id").isNotNull),
          "user_id", "ts_us", "event_id", "value", alpha = 0.5, frame = 8)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("value"), 4).as("value_r"), col("ewma_r"))
        .orderBy(col("event_id"))
    }, Sql(
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
        |  FROM e)
        |SELECT a.event_id, a.user_id, a.ts_us,
        |       round(a.value, 4) AS value_r,
        |       round(sum(b.value * power(0.5, a.rn - b.rn)) /
        |             sum(power(0.5, a.rn - b.rn)), 4) AS ewma_r
        |FROM r a JOIN r b
        |  ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 7 AND a.rn
        |GROUP BY a.event_id, a.user_id, a.ts_us, a.value
        |ORDER BY a.event_id""".stripMargin)),

    Query("q_winsorize", (s, dir) => {
      Corpus.winsorize(Tables.events(s, dir), "event_type", "value", 0.05, 0.95)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).as("value_r"), col("clipped_r"))
        .orderBy(col("event_id"))
    }, Sql(
      """WITH b AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.05) AS lo,
        |         quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT event_id, event_type, round(value, 4) AS value_r,
        |       round(least(greatest(value, lo), hi), 4) AS clipped_r
        |FROM events JOIN b USING (event_type)
        |ORDER BY event_id""".stripMargin)),

    Query("q_topk_groups", (s, dir) => {
      // top-5 events by value per event type, THROUGH the bounded-state
      // TopKAggregator (ops/TopK.scala) — the custom Aggregator itself
      // passes the oracle gate; the oracle states the same result the
      // window-rank way. Ordering on the raw double; rounding is
      // output-only so tie-breaks agree bit-for-bit across engines.
      graft.ops.TopK.topKPerGroupTyped(
          Tables.events(s, dir).select(
            col("event_type"), col("value"), col("event_id")),
          "event_type", "value", "event_id", k = 5)
        .select(col("event_type"), col("rnk"),
          round(col("value"), 4).as("value_r"), col("event_id"))
        .orderBy(col("event_type"), col("rnk"))
    }, Sql(
      """WITH r AS (
        |  SELECT event_type, value, event_id,
        |         CAST(row_number() OVER (
        |           PARTITION BY event_type
        |           ORDER BY value DESC, event_id ASC) AS BIGINT) AS rnk
        |  FROM events)
        |SELECT event_type, rnk, round(value, 4) AS value_r, event_id
        |FROM r WHERE rnk <= 5
        |ORDER BY event_type, rnk""".stripMargin)),

    Query("q_k_anonymity", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn(
        "day", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
      Relational.kAnonymize(ev, Seq("event_type", "day"), "user_id", "value", 55)
        .orderBy(col("event_type"), col("day"))
    }, Sql(
      """WITH g AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS n_rows,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_subjects,
        |         round(sum(value), 4) AS sum_v
        |  FROM events WHERE user_id IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT event_type, day, n_rows, n_subjects,
        |       CASE WHEN n_subjects >= 55 THEN sum_v END AS sum_v_released,
        |       CAST(CASE WHEN n_subjects >= 55 THEN 0 ELSE 1 END AS BIGINT)
        |         AS suppressed
        |FROM g ORDER BY event_type, day""".stripMargin)),

    Query("q_l_diversity", (s, dir) => {
      // QI = (event_type, day); subject = user_id; sensitive = the
      // coarse value band floor(value/100). The value distribution is
      // right-skewed (bands 2-4 per group), so k = 50 and l = 3 each
      // suppress a REAL subset of groups — both gates are exercised
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
        .withColumn("v_band", floor(col("value") / 100).cast("long"))
      Relational.lDiversity(ev, Seq("event_type", "day"), "user_id", "v_band",
          "value", k = 50, l = 3)
        .orderBy(col("event_type"), col("day"))
    }, Sql(
      """WITH g AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         count(*) AS n_rows,
        |         count(DISTINCT user_id) AS n_subjects,
        |         count(DISTINCT CAST(floor(value / 100) AS BIGINT)) AS n_sensitive,
        |         round(sum(value), 4) AS sum_v
        |  FROM events WHERE user_id IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT event_type, day, n_rows, n_subjects, n_sensitive,
        |       CASE WHEN n_subjects >= 50 AND n_sensitive >= 3
        |            THEN sum_v END AS sum_v_released,
        |       CAST(CASE WHEN n_subjects >= 50 AND n_sensitive >= 3
        |            THEN 0 ELSE 1 END AS BIGINT) AS suppressed
        |FROM g ORDER BY event_type, day""".stripMargin)),

    Query("q_salted_join", (s, dir) => {
      // events ⋈ per-event-type stats dim: 5 dim rows = EVERY key is
      // hot, the worst case a plain shuffle join degenerates on. The
      // salted plan fans each key 8 ways; the oracle is the UNSALTED
      // join — identical result set is the operator's contract
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy(col("event_type").as("et")).agg(
        count(lit(1)).as("n_t"),
        round(sum(col("value")), 4).as("sum_v_r"))
      Relational.saltedJoin(
          ev.select(col("event_id"), col("event_type")),
          dim, probeKey = "event_type", buildKey = "et", salt = 8)
        .select(col("event_id"), col("event_type"), col("n_t"), col("sum_v_r"))
        .orderBy(col("event_id"))
    }, Sql(
      // the salted plan's contract: result set IDENTICAL to the plain
      // unsalted join — so the oracle IS the plain join
      """WITH dim AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_t,
        |         round(sum(value), 4) AS sum_v_r
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, d.n_t, d.sum_v_r
        |FROM events e JOIN dim d USING (event_type)
        |ORDER BY e.event_id""".stripMargin)),

    // Mergeable sketches: the fixed-state substitutes for exact
    // distinct/frequency/membership/quantile at 100 TB, each
    // deterministic and oracle-restatable.
    Query("q_sketch_hll", (s, dir) => {
      // HyperLogLog distinct users per event type (m=64 registers),
      // exact count riding the same register fold for a free error column
      Sketches.hllDistinct(Tables.events(s, dir), "event_type", "user_id")
        .orderBy(col("event_type"))
    }, Sql(
      // every register, counter, bit, and bucket restated from first
      // principles: md5-prefix hashes, integer binary log via
      // length(bin(x)), doubles forced with CAST(... AS DOUBLE) so no
      // DuckDB DECIMAL arithmetic sneaks in
      """WITH dk AS (
        |  SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS k
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |hx AS (
        |  SELECT g,
        |         ('0x' || substr(md5(k), 1, 8))::BIGINT % 64 AS idx,
        |         ('0x' || substr(md5(k), 9, 8))::BIGINT AS w2
        |  FROM dk),
        |regs AS (
        |  SELECT g, idx,
        |         max(CASE WHEN w2 = 0 THEN 33 ELSE 33 - length(bin(w2)) END) AS mj,
        |         CAST(count(*) AS BIGINT) AS nk
        |  FROM hx GROUP BY 1, 2),
        |est AS (
        |  SELECT g, CAST(sum(nk) AS BIGINT) AS n_exact,
        |         CAST(0.709 AS DOUBLE) * 64 * 64
        |           / ((CAST(64 AS DOUBLE) - count(*))
        |              + sum(power(CAST(2 AS DOUBLE), -mj))) AS e,
        |         CAST(64 AS DOUBLE) - count(*) AS v
        |  FROM regs GROUP BY 1),
        |fin AS (
        |  SELECT g, n_exact,
        |         round(CASE WHEN e <= 160 AND v > 0
        |                    THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
        |                    ELSE e END, 4) AS hll_est_r
        |  FROM est)
        |SELECT g AS event_type, n_exact, hll_est_r,
        |       round(abs(hll_est_r - n_exact) / n_exact, 4) AS rel_err_r
        |FROM fin ORDER BY event_type""".stripMargin)),

    Query("q_sketch_cms", (s, dir) => {
      // count-min heavy hitters over user activity: estimates can only
      // OVERcount, the property that makes the sketch safe for hot-key
      // detection (see q_key_skew for the exact twin)
      Sketches.cmsHeavyHitters(Tables.events(s, dir), "user_id", topK = 20)
        .orderBy(col("rnk"))
    }, Sql(
      """WITH tc AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |hx AS (
        |  SELECT k, cnt, u.j,
        |         ('0x' || substr(md5(CAST(u.j AS VARCHAR) || '|' || k), 1, 8))::BIGINT % 64 AS b
        |  FROM tc, (SELECT unnest(generate_series(0, 3)) AS j) u),
        |counters AS (SELECT j, b, CAST(sum(cnt) AS BIGINT) AS c FROM hx GROUP BY 1, 2),
        |est AS (
        |  SELECT k, max(cnt) AS cnt, min(c) AS cms_est
        |  FROM hx JOIN counters USING (j, b) GROUP BY 1),
        |top AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY cms_est DESC, k) AS BIGINT) AS rnk
        |  FROM est)
        |SELECT k AS user_id, cnt, cms_est, cms_est - cnt AS overshoot, rnk
        |FROM top WHERE rnk <= 20 ORDER BY rnk""".stripMargin)),

    Query("q_bloom_dedup", (s, dir) => {
      // Bloom pre-filter for incremental dedup: history keys set the
      // bits, the new batch pays the exact verification join only where
      // the filter says "maybe" — no false negatives by construction.
      // m sized for the declared scale (sf0.1 history ≈ 7.5k distinct
      // user|type keys → expect 8k): bloomBits(8000, k=3, 1% FP) =
      // 98,914 bits. A 1024-bit filter saturates at ~250 keys and
      // read near-all-ones — correct but pricing nothing.
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      val key = concat(col("user_id").cast("string"), lit("|"),
        coalesce(col("event_type"), lit("")))
      Sketches.bloomDedupFlags(
          ev.filter(col("ts_us") < Tables.D2024_01_15_US),
          ev.filter(col("ts_us") >= Tables.D2024_01_15_US),
          key, "event_id", m = Sketches.bloomBits(8000))
        .orderBy(col("event_id"))
    }, Sql(
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us,
        |         CAST(user_id AS VARCHAR) || '|' || coalesce(event_type, '') AS bk
        |  FROM events WHERE user_id IS NOT NULL),
        |hist AS (SELECT DISTINCT bk FROM ev WHERE ts_us < 1705276800000000),
        |bits AS (
        |  SELECT DISTINCT
        |         ('0x' || substr(md5(CAST(u.i AS VARCHAR) || '|' || bk), 1, 8))::BIGINT % 98914 AS pos
        |  FROM hist, (SELECT unnest(generate_series(0, 2)) AS i) u),
        |batch AS (SELECT event_id, bk FROM ev WHERE ts_us >= 1705276800000000),
        |bpos AS (
        |  SELECT event_id, bk,
        |         ('0x' || substr(md5(CAST(u.i AS VARCHAR) || '|' || bk), 1, 8))::BIGINT % 98914 AS pos
        |  FROM batch, (SELECT unnest(generate_series(0, 2)) AS i) u),
        |mb AS (
        |  SELECT event_id, bk, count(h.hit) = 3 AS maybe_seen
        |  FROM bpos LEFT JOIN (SELECT pos, 1 AS hit FROM bits) h USING (pos)
        |  GROUP BY 1, 2),
        |fin AS (
        |  SELECT m.event_id, m.maybe_seen, coalesce(hk.seen, false) AS actually_seen
        |  FROM mb m LEFT JOIN (SELECT bk, true AS seen FROM hist) hk USING (bk))
        |SELECT event_id, maybe_seen, actually_seen,
        |       maybe_seen AND NOT actually_seen AS is_fp
        |FROM fin ORDER BY event_id""".stripMargin)),

    Query("q_sketch_overlap", (s, dir) => {
      // HLL set algebra: per-pair audience overlap from MERGED registers
      // (union = per-index max — the mergeability property), exact
      // intersection join riding along as the audit column
      Sketches.hllOverlap(Tables.events(s, dir), "event_type", "user_id")
        .orderBy(col("type_a"), col("type_b"))
    }, Sql(
      """WITH dk AS (
        |  SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS k
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |hx AS (
        |  SELECT g, k,
        |         ('0x' || substr(md5(k), 1, 8))::BIGINT % 64 AS idx,
        |         CASE WHEN ('0x' || substr(md5(k), 9, 8))::BIGINT = 0 THEN 33
        |              ELSE 33 - length(bin(('0x' || substr(md5(k), 9, 8))::BIGINT))
        |         END AS rho
        |  FROM dk),
        |sregs AS (SELECT g, idx, max(rho) AS mj FROM hx GROUP BY 1, 2),
        |sest0 AS (
        |  SELECT g,
        |         CAST(0.709 AS DOUBLE) * 64 * 64
        |           / ((CAST(64 AS DOUBLE) - count(*))
        |              + sum(power(CAST(2 AS DOUBLE), -mj))) AS e,
        |         CAST(64 AS DOUBLE) - count(*) AS v
        |  FROM sregs GROUP BY 1),
        |sest AS (
        |  SELECT g, CASE WHEN e <= 160 AND v > 0
        |                 THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
        |                 ELSE e END AS est
        |  FROM sest0),
        |gs AS (SELECT DISTINCT g FROM dk),
        |pr AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
        |tg AS (
        |  SELECT pr.ga, pr.gb, hx.idx, hx.rho
        |  FROM pr JOIN hx ON hx.g = pr.ga OR hx.g = pr.gb),
        |pregs AS (SELECT ga, gb, idx, max(rho) AS mj FROM tg GROUP BY 1, 2, 3),
        |pest0 AS (
        |  SELECT ga, gb,
        |         CAST(0.709 AS DOUBLE) * 64 * 64
        |           / ((CAST(64 AS DOUBLE) - count(*))
        |              + sum(power(CAST(2 AS DOUBLE), -mj))) AS e,
        |         CAST(64 AS DOUBLE) - count(*) AS v
        |  FROM pregs GROUP BY 1, 2),
        |pest AS (
        |  SELECT ga, gb, CASE WHEN e <= 160 AND v > 0
        |                      THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
        |                      ELSE e END AS est_ab
        |  FROM pest0),
        |ex AS (
        |  SELECT x.g AS ga, y.g AS gb, CAST(count(*) AS BIGINT) AS n
        |  FROM dk x JOIN dk y ON x.k = y.k AND x.g < y.g GROUP BY 1, 2)
        |SELECT pr.ga AS type_a, pr.gb AS type_b,
        |       coalesce(ex.n, 0) AS n_exact_overlap,
        |       round(sa.est + sb.est - pest.est_ab, 4) AS hll_overlap_r
        |FROM pr
        |JOIN sest sa ON sa.g = pr.ga
        |JOIN sest sb ON sb.g = pr.gb
        |JOIN pest USING (ga, gb)
        |LEFT JOIN ex USING (ga, gb)
        |ORDER BY type_a, type_b""".stripMargin)),

    Query("q_sketch_quantile", (s, dir) => {
      // HDR-histogram log-linear quantiles per event type — integer-only
      // bucket math (binary log via length(bin)), so both engines bucket
      // bit-identically with no ln() boundary hazard
      Sketches.hdrQuantiles(Tables.events(s, dir), "event_type", "value",
          Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"))
    }, Sql(
      """WITH b0 AS (
        |  SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) AS vc
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND value >= 0),
        |b1 AS (
        |  SELECT g, vc, CAST(length(bin(vc)) AS BIGINT) AS blen,
        |         CASE WHEN vc >= 16
        |              THEN vc >> CAST(length(bin(vc)) - 4 AS INT) ELSE 0 END AS mant
        |  FROM b0),
        |b2 AS (
        |  SELECT g,
        |         CASE WHEN vc < 16 THEN vc ELSE blen * 8 + (mant - 8) END AS bucket,
        |         CASE WHEN vc < 16 THEN CAST(vc AS DOUBLE) / 100
        |              ELSE (CAST(mant << CAST(blen - 4 AS INT) AS DOUBLE)
        |                    + CAST((mant + 1) << CAST(blen - 4 AS INT) AS DOUBLE))
        |                   / 2 / 100 END AS rep
        |  FROM b1),
        |bk AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS c, max(rep) AS rep
        |       FROM b2 GROUP BY 1, 2),
        |cm AS (
        |  SELECT g, rep, cum, n FROM (
        |    SELECT g, bucket, rep, c,
        |           sum(c) OVER (PARTITION BY g ORDER BY bucket
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |           sum(c) OVER (PARTITION BY g) AS n
        |    FROM bk))
        |SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n,
        |       round(min(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n) THEN rep END), 4) AS p50_est_r,
        |       round(min(CASE WHEN cum >= ceil(CAST(0.9 AS DOUBLE) * n) THEN rep END), 4) AS p90_est_r,
        |       round(min(CASE WHEN cum >= ceil(CAST(0.99 AS DOUBLE) * n) THEN rep END), 4) AS p99_est_r
        |FROM cm GROUP BY g ORDER BY event_type""".stripMargin)),

    Query("q_sketch_hll_raw", (s, dir) => {
      // register-only batch HLL: registers fold straight off
      // the RAW rows — max(rho) is duplicate-insensitive, so there is no
      // distinct shuffle of the key universe and no exact audit column.
      // This is the fixed-state path a 100 TB scan actually runs; the
      // audit twin is q_sketch_hll, and SketchesRawSpec pins the two
      // estimates bit-identical.
      Sketches.hllRegistersOnly(Tables.events(s, dir), "event_type", "user_id")
        .orderBy(col("event_type"))
    }, Sql(
      // register-only HLL: same register math as q_sketch_hll but folded
      // from RAW rows (no DISTINCT — max(rho) is duplicate-insensitive),
      // output is the honest sketch estimate alone
      """WITH hx AS (
        |  SELECT event_type AS g,
        |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS idx,
        |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT AS w2
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |regs AS (
        |  SELECT g, idx,
        |         max(CASE WHEN w2 = 0 THEN 33 ELSE 33 - length(bin(w2)) END) AS mj
        |  FROM hx GROUP BY 1, 2),
        |est AS (
        |  SELECT g,
        |         CAST(0.709 AS DOUBLE) * 64 * 64
        |           / ((CAST(64 AS DOUBLE) - count(*))
        |              + sum(power(CAST(2 AS DOUBLE), -mj))) AS e,
        |         CAST(64 AS DOUBLE) - count(*) AS v
        |  FROM regs GROUP BY 1)
        |SELECT g AS event_type,
        |       round(CASE WHEN e <= 160 AND v > 0
        |                  THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
        |                  ELSE e END, 4) AS hll_est_r
        |FROM est ORDER BY event_type""".stripMargin)),

    Query("q_dp_counts", (s, dir) => {
      // differentially-private count release (Laplace mechanism):
      // per (event_type, day) counts published with
      // deterministic seeded Laplace noise — reproducible, oracle-
      // restatable; the true count rides only for the correctness gate
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
      Relational.dpNoisedCounts(ev, Seq("event_type", "day"), epsilon = 1.0)
        .orderBy(col("event_type"), col("day"))
    }, Sql(
      // DP count release: deterministic seeded Laplace noise restated
      // from the same md5 seed — u strictly inside (-0.5, 0.5) via the
      // +0.5 offset, so ln(1-2|u|) is always finite
      """WITH g AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(count(*) AS BIGINT) AS n_true
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |n AS (
        |  SELECT event_type, day, n_true,
        |         (CAST(('0x' || substr(md5('dp|' || event_type || '|' || day), 1, 8))::BIGINT AS DOUBLE)
        |            + CAST(0.5 AS DOUBLE)) / CAST(4294967296 AS DOUBLE)
        |           - CAST(0.5 AS DOUBLE) AS u
        |  FROM g)
        |SELECT event_type, day, n_true,
        |       round(n_true
        |             - (CASE WHEN u >= 0 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)
        |               * ln(CAST(1 AS DOUBLE) - 2 * abs(u)), 4) AS dp_n_r
        |FROM n ORDER BY event_type, day""".stripMargin)),

    Query("q_minhash_union", (s, dir) => {
      // group-level MinHash Jaccard: per-event-type audience
      // signatures (16-perm min fold — union = elementwise min, the
      // MinHash mergeability), pairwise Jaccard estimated from equal
      // components with the exact Jaccard riding as audit
      Sketches.minhashGroupJaccard(Tables.events(s, dir), "event_type", "user_id")
        .orderBy(col("type_a"), col("type_b"))
    }, Sql(
      // group-level MinHash: 16-perm signatures restated, Jaccard
      // estimate = fraction of equal components, exact Jaccard audit
      """WITH dk AS (
        |  SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS k
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |sig AS (
        |  SELECT g, u.p,
        |         min(('0x' || substr(md5(CAST(u.p AS VARCHAR) || '|' || k), 1, 8))::BIGINT) AS mh
        |  FROM dk, (SELECT unnest(generate_series(0, 15)) AS p) u
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT a.g AS ga, b.g AS gb,
        |         CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_eq,
        |         round(avg(CASE WHEN a.mh = b.mh THEN CAST(1 AS DOUBLE)
        |                        ELSE CAST(0 AS DOUBLE) END), 4) AS jac_est_r
        |  FROM sig a JOIN sig b ON a.p = b.p AND a.g < b.g
        |  GROUP BY 1, 2),
        |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM dk GROUP BY 1),
        |ex AS (
        |  SELECT x.g AS ga, y.g AS gb, CAST(count(*) AS BIGINT) AS n_inter
        |  FROM dk x JOIN dk y ON x.k = y.k AND x.g < y.g GROUP BY 1, 2)
        |SELECT est.ga AS type_a, est.gb AS type_b, est.n_eq, est.jac_est_r,
        |       round(CAST(coalesce(ex.n_inter, 0) AS DOUBLE)
        |             / (sa.n + sb.n - coalesce(ex.n_inter, 0)), 4) AS jac_exact_r
        |FROM est
        |JOIN sz sa ON sa.g = est.ga
        |JOIN sz sb ON sb.g = est.gb
        |LEFT JOIN ex ON ex.ga = est.ga AND ex.gb = est.gb
        |ORDER BY type_a, type_b""".stripMargin)),

    Query("q_sketch_theta", (s, dir) => {
      // KMV/Theta sketch set algebra: per-event-type
      // audience sketches (bottom-64 distinct key hashes), pairwise
      // UNION / INTERSECTION / DIFFERENCE cardinality estimates below
      // the common theta — the set-op gap HLL (union-only inclusion-
      // exclusion) and MinHash (Jaccard-only) leave open; exact
      // union/intersection ride as audit columns
      Sketches.thetaSetOps(Tables.events(s, dir), "event_type", "user_id",
          k = 64)
        .orderBy(col("type_a"), col("type_b"))
    }, Sql(
      // Theta/KMV set algebra: bottom-64 distinct hashes per group
      // restated, pairwise union/intersect/difference estimates below
      // the common theta, exact set sizes as audit. Every arithmetic
      // step CAST to DOUBLE (the DuckDB DECIMAL-literal trap).
      s"""WITH $thetaSketchCtes,
        |ri AS (
        |  SELECT p.ga, p.gb, CAST(count(*) AS BIGINT) AS n_i
        |  FROM pairs p
        |  JOIN skk sa ON sa.g = p.ga AND CAST(sa.h AS DOUBLE) < p.thp
        |  JOIN skk sb ON sb.g = p.gb AND sb.h = sa.h
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT) AS n_ex_i
        |  FROM dk a JOIN dk b ON a.k = b.k AND a.g < b.g
        |  GROUP BY 1, 2),
        |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM dk GROUP BY 1)
        |SELECT p.ga AS type_a, p.gb AS type_b,
        |       CAST(sza.n + szb.n - coalesce(ex.n_ex_i, 0) AS BIGINT) AS n_exact_union,
        |       CAST(coalesce(ex.n_ex_i, 0) AS BIGINT) AS n_exact_inter,
        |       round(CAST(coalesce(ra.na2, 0) + coalesce(rb.nb2, 0)
        |                  - coalesce(ri.n_i, 0) AS DOUBLE)
        |             * CAST(4294967296 AS DOUBLE) / p.thp, 4) AS union_est_r,
        |       round(CAST(coalesce(ri.n_i, 0) AS DOUBLE)
        |             * CAST(4294967296 AS DOUBLE) / p.thp, 4) AS inter_est_r,
        |       round(CAST(coalesce(ra.na2, 0) - coalesce(ri.n_i, 0) AS DOUBLE)
        |             * CAST(4294967296 AS DOUBLE) / p.thp, 4) AS diff_ab_est_r
        |FROM pairs p
        |JOIN sz sza ON sza.g = p.ga
        |JOIN sz szb ON szb.g = p.gb
        |LEFT JOIN ex ON ex.ga = p.ga AND ex.gb = p.gb
        |LEFT JOIN ra ON ra.ga = p.ga AND ra.gb = p.gb
        |LEFT JOIN rb ON rb.ga = p.ga AND rb.gb = p.gb
        |LEFT JOIN ri ON ri.ga = p.ga AND ri.gb = p.gb
        |ORDER BY type_a, type_b""".stripMargin)),

    Query("q_sketch_theta_raw", (s, dir) => {
      // PRODUCTION theta form: the same bottom-64 sketches
      // and set estimates with NO exact key-universe self-join — the
      // declared 100 TB query, extending the hll_raw/cms_raw precedent
      // to set algebra; the audit twin is q_sketch_theta, and
      // SketchesRawSpec pins the estimates bit-identical
      Sketches.thetaSetOpsRaw(Tables.events(s, dir), "event_type", "user_id",
          k = 64)
        .orderBy(col("type_a"), col("type_b"))
    }, Sql(
      // production theta form: the same sketch chain with the exact
      // audit CTEs (ex, sz) dropped — the oracle restates only the
      // bottom-k-derived estimates, like the engine
      s"""WITH $thetaSketchCtes,
        |ri AS (
        |  SELECT p.ga, p.gb, CAST(count(*) AS BIGINT) AS n_i
        |  FROM pairs p
        |  JOIN skk sa ON sa.g = p.ga AND CAST(sa.h AS DOUBLE) < p.thp
        |  JOIN skk sb ON sb.g = p.gb AND sb.h = sa.h
        |  GROUP BY 1, 2)
        |SELECT p.ga AS type_a, p.gb AS type_b,
        |       CAST(p.thp AS BIGINT) AS theta_common,
        |       CAST(coalesce(ra.na2, 0) AS BIGINT) AS n_retained_a,
        |       CAST(coalesce(rb.nb2, 0) AS BIGINT) AS n_retained_b,
        |       round(CAST(coalesce(ra.na2, 0) + coalesce(rb.nb2, 0)
        |                  - coalesce(ri.n_i, 0) AS DOUBLE)
        |             * CAST(4294967296 AS DOUBLE) / p.thp, 4) AS union_est_r,
        |       round(CAST(coalesce(ri.n_i, 0) AS DOUBLE)
        |             * CAST(4294967296 AS DOUBLE) / p.thp, 4) AS inter_est_r,
        |       round(CAST(coalesce(ra.na2, 0) - coalesce(ri.n_i, 0) AS DOUBLE)
        |             * CAST(4294967296 AS DOUBLE) / p.thp, 4) AS diff_ab_est_r
        |FROM pairs p
        |LEFT JOIN ra ON ra.ga = p.ga AND ra.gb = p.gb
        |LEFT JOIN rb ON rb.ga = p.ga AND rb.gb = p.gb
        |LEFT JOIN ri ON ri.ga = p.ga AND ri.gb = p.gb
        |ORDER BY type_a, type_b""".stripMargin)),

    Query("q_dp_sum", (s, dir) => {
      // DP sum release: per-row contribution clamped to
      // [0, 100] — the clamp bounds sensitivity, licensing the
      // Laplace(clampHi/epsilon) noise; same seeded-noise convention
      // as q_dp_counts
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
      Relational.dpNoisedSum(ev, Seq("event_type", "day"), "value",
          clampHi = 100.0, epsilon = 1.0)
        .orderBy(col("event_type"), col("day"))
    }, Sql(
      // DP sum release: clamp to [0, 100] bounds the sensitivity; same
      // seeded inverse-CDF noise as q_dp_counts with b = clampHi/epsilon
      """WITH g AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         round(sum(least(greatest(CAST(value AS DOUBLE), CAST(0 AS DOUBLE)),
        |                         CAST(100 AS DOUBLE))), 4) AS sum_clamped_r
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |n AS (
        |  SELECT event_type, day, sum_clamped_r,
        |         (CAST(('0x' || substr(md5('dps|' || event_type || '|' || day), 1, 8))::BIGINT AS DOUBLE)
        |            + CAST(0.5 AS DOUBLE)) / CAST(4294967296 AS DOUBLE)
        |           - CAST(0.5 AS DOUBLE) AS u
        |  FROM g)
        |SELECT event_type, day, sum_clamped_r,
        |       round(sum_clamped_r
        |             - (CASE WHEN u >= 0 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)
        |               * CAST(100 AS DOUBLE) * ln(CAST(1 AS DOUBLE) - 2 * abs(u)), 4) AS dp_sum_r
        |FROM n ORDER BY event_type, day""".stripMargin)),

    Query("q_sketch_hdr_merge", (s, dir) => {
      // HDR sketch MERGE: global quantiles served by summing
      // the per-group bucket frames — no raw rescan; bit-identical to
      // direct global bucketing because the bucket of a value is
      // group-independent (SketchesRawSpec pins it)
      Sketches.hdrMergedQuantiles(Tables.events(s, dir), "event_type", "value",
          Seq(0.5, 0.9, 0.99))
        .orderBy(col("n"))
    }, Sql(
      // HDR merge: the merged-bucket answer is restated as DIRECT global
      // bucketing — bit-identical because bucketing is group-independent
      """WITH b0 AS (
        |  SELECT CAST(floor(value * 100) AS BIGINT) AS vc
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND value >= 0),
        |b1 AS (
        |  SELECT vc, CAST(length(bin(vc)) AS BIGINT) AS blen,
        |         CASE WHEN vc >= 16
        |              THEN vc >> CAST(length(bin(vc)) - 4 AS INT) ELSE 0 END AS mant
        |  FROM b0),
        |b2 AS (
        |  SELECT CASE WHEN vc < 16 THEN vc ELSE blen * 8 + (mant - 8) END AS bucket,
        |         CASE WHEN vc < 16 THEN CAST(vc AS DOUBLE) / 100
        |              ELSE (CAST(mant << CAST(blen - 4 AS INT) AS DOUBLE)
        |                    + CAST((mant + 1) << CAST(blen - 4 AS INT) AS DOUBLE))
        |                   / 2 / 100 END AS rep
        |  FROM b1),
        |bk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c, max(rep) AS rep
        |       FROM b2 GROUP BY 1),
        |cm AS (
        |  SELECT rep, cum, n FROM (
        |    SELECT bucket, rep, c,
        |           sum(c) OVER (ORDER BY bucket
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |           sum(c) OVER () AS n
        |    FROM bk))
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |       round(min(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n) THEN rep END), 4) AS p50_est_r,
        |       round(min(CASE WHEN cum >= ceil(CAST(0.9 AS DOUBLE) * n) THEN rep END), 4) AS p90_est_r,
        |       round(min(CASE WHEN cum >= ceil(CAST(0.99 AS DOUBLE) * n) THEN rep END), 4) AS p99_est_r
        |FROM cm""".stripMargin)),

    Query("q_bucket_join", (s, dir) => {
      // co-located join over bucketed layout: orders and
      // customer are 8-bucket tables on the join key, so the
      // per-customer pre-aggregate needs NO exchange, the sort-merge
      // join needs NO exchange on either side, and only the final
      // nation-sized fold shuffles — BucketJoinSpec pins the plan has
      // zero custkey exchanges. The MERGE hint keeps the demo honest
      // (broadcast would hide the layout win at sf0.1; at real scale
      // neither side broadcasts).
      val (o, c) = bucketedOrdersCustomer(s, dir)
      o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("tp"))
        .hint("MERGE")
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(
          sum(col("n_orders")).as("n_orders"),
          count(lit(1)).as("n_customers"),
          round(sum(col("tp")), 2).as("total_r"))
        .orderBy(col("nationkey"))
    }, Sql(
      // bucketed co-located join: the LAYOUT differs (bucketed files vs
      // raw parquet), the relational answer must not — per-customer
      // collapse, customer join, nation fold
      """WITH pc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |         sum(o_totalprice) AS tp
        |  FROM orders GROUP BY 1)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |       CAST(sum(n_orders) AS BIGINT) AS n_orders,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       round(CAST(sum(tp) AS DOUBLE), 2) AS total_r
        |FROM pc JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY nationkey""".stripMargin)),

    Query("q_sketch_cms_raw", (s, dir) => {
      // register-only batch CMS: the d·w = 256-counter frame
      // folds straight off raw increments (each row adds 1 to one bucket
      // per hash row) — no exact per-key collapse anywhere. This frame IS
      // the mergeable sketch state a downstream union/estimate consumes;
      // the audit twin is q_sketch_cms, and SketchesRawSpec pins the
      // counter frames bit-identical.
      Sketches.cmsCountersFromRaw(Tables.events(s, dir), "user_id")
        .orderBy(col("j"), col("b"))
    }, Sql(
      // register-only CMS: the 4×64 counter frame from raw increments —
      // integer-exact, restated bucket for bucket
      """WITH hx AS (
        |  SELECT u.j,
        |         ('0x' || substr(md5(CAST(u.j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS b
        |  FROM events, (SELECT unnest(generate_series(0, 3)) AS j) u
        |  WHERE user_id IS NOT NULL)
        |SELECT j, b, CAST(count(*) AS BIGINT) AS c
        |FROM hx GROUP BY 1, 2 ORDER BY j, b""".stripMargin))
  )
}
