package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Tables}
import graft.ops.{EventOps, Relational, TimeFns}
import graft.Tables._
import graft.EntrySupport._

/** The reference pipeline over `events`: scan, filter, params extraction,
  * natural-key dedup, date handling, sessions, GA4 extraction and the
  * behavioural analytics built on them. */
private[graft] object EventQueries {

  val all: Seq[Query] = Seq(
    Query("q_scan_events", (s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"), col("ts_us"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value_r"), col("props"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |       round(value, 4) AS value_r, props
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_prune_dates", (s, dir) => {
      // Filter the date-partitioned store (the reference's sharded
      // events_YYYYMMDD family) on its PARTITION column: the scan's
      // PartitionFilters prune whole day-directories at planning time —
      // at 100 TB this is the difference between reading 10 days and
      // reading 10 years.
      readStore(EventsByDate, s, dir)
        .filter(col("event_date") >= "2024-01-10" && col("event_date") < "2024-01-20")
        .select(col("event_id"), col("ts_us"), col("event_date").cast("string").as("event_date"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, epoch_us(ts) AS ts_us, strftime(ts, '%Y-%m-%d') AS event_date
        |FROM events
        |WHERE epoch_us(ts) >= 1704844800000000 AND epoch_us(ts) < 1705708800000000
        |ORDER BY event_id""".stripMargin)),

    Query("q_project", (s, dir) => {
      EventOps.project(Tables.events(s, dir)).orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, props,
        |       strftime(ts, '%Y-%m-%d') AS event_date
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_filter_nonnull", (s, dir) => {
      EventOps.filterNonNull(Tables.events(s, dir))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, user_id, event_type FROM events
        |WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND event_type <> ''
        |ORDER BY event_id""".stripMargin)),

    Query("q_filter_in", (s, dir) => {
      EventOps.filterIn(Tables.events(s, dir), Seq("click", "view", "purchase"))
        .select(col("event_id"), col("event_type"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, event_type FROM events
        |WHERE event_type IN ('click', 'view', 'purchase')
        |ORDER BY event_id""".stripMargin)),

    Query("q_filter_gt_watermark", (s, dir) => {
      EventOps.newerThan(Tables.events(s, dir), D2024_01_15_US)
        .select(col("event_id"), col("ts_us"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
        |WHERE epoch_us(ts) > 1705276800000000
        |ORDER BY event_id""".stripMargin)),

    Query("q_params_extract", (s, dir) => {
      EventOps.extractJsonLong(Tables.events(s, dir), "props", "k", "param_k")
        .select(col("event_id"), col("user_id"), col("param_k"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, user_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS param_k
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_sort_desc", (s, dir) => {
      Tables.events(s, dir).select(col("event_id"), col("ts_us"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
    }, Sql(
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
        |ORDER BY ts_us DESC, event_id DESC""".stripMargin)),

    Query("q_sort_asc", (s, dir) => {
      Tables.events(s, dir).select(col("event_id"), col("ts_us"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
    }, Sql(
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
        |ORDER BY ts_us ASC, event_id ASC""".stripMargin)),

    Query("q_topk", (s, dir) => {
      Tables.events(s, dir)
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(100)
        .select(col("event_id"), round(col("value"), 4).as("value_r"))
    }, Sql(
      """SELECT event_id, round(value, 4) AS value_r FROM events
        |ORDER BY value DESC, event_id ASC LIMIT 100""".stripMargin)),

    Query("q_agg_max", (s, dir) => {
      Tables.events(s, dir).agg(max(col("ts_us")).as("max_ts_us"))
    }, Sql(
      "SELECT max(epoch_us(ts)) AS max_ts_us FROM events")),

    Query("q_agg_count", (s, dir) => {
      Tables.events(s, dir).agg(count(lit(1)).as("n_rows"))
    }, Sql(
      "SELECT count(*) AS n_rows FROM events")),

    Query("q_agg_group", (s, dir) => {
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"),
          round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("event_type").asc_nulls_first)
    }, Sql(
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
        |       round(avg(value), 4) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin)),

    Query("q_agg_distinct", (s, dir) => {
      Relational.distinctUsersPerType(Tables.events(s, dir))
        .orderBy(col("event_type").asc_nulls_first)
    }, Sql(
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin)),

    Query("q_rollup", (s, dir) => {
      Relational.rollupTypeDate(Tables.events(s, dir))
        .orderBy(col("event_type").asc_nulls_first, col("event_date").asc_nulls_first)
    }, Sql(
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n
        |FROM events
        |GROUP BY ROLLUP(event_type, strftime(ts, '%Y-%m-%d'))
        |ORDER BY event_type NULLS FIRST, event_date NULLS FIRST""".stripMargin)),

    Query("q_dedup_key", (s, dir) => {
      EventOps.dedupFirstWrite(
        Tables.events(s, dir), Seq("user_id", "event_type"), "ts_us", "event_id")
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
        // explicit null placement: Spark asc defaults NULLS FIRST but
        // DuckDB defaults NULLS LAST — pin both sides (user_id is nullable)
        .orderBy(col("user_id").asc_nulls_first, col("event_type").asc_nulls_first)
    }, Sql(
      """SELECT user_id, event_type, event_id, ts_us FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id NULLS FIRST, event_type NULLS FIRST""".stripMargin)),

    Query("q_union", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
      val a = ev.filter(col("ts_us") < D2024_01_10_US)
      val b = ev.filter(col("ts_us") >= D2024_01_10_US && col("ts_us") < D2024_01_20_US)
      a.unionByName(b).orderBy(col("event_id"))
    }, Sql(
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events)
        |SELECT * FROM (
        |  SELECT * FROM ev WHERE ts_us < 1704844800000000
        |  UNION ALL
        |  SELECT * FROM ev WHERE ts_us >= 1704844800000000 AND ts_us < 1705708800000000
        |) ORDER BY event_id""".stripMargin)),

    Query("q_date_parse", (s, dir) => {
      val ts = timestamp_micros(col("ts_us"))
      val raw = when(col("event_id") % 4 === 0, date_format(ts, "yyyy-MM-dd"))
        .when(col("event_id") % 4 === 1, date_format(ts, "yyyy/MM/dd"))
        .when(col("event_id") % 4 === 2, date_format(ts, "dd-MM-yyyy"))
        .otherwise(date_format(ts, "dd/MM/yyyy"))
      Tables.events(s, dir)
        .withColumn("raw", raw)
        .select(
          col("event_id"), col("raw"),
          date_format(TimeFns.parseMultiFormat(col("raw")), "yyyy-MM-dd").as("parsed"))
        .orderBy(col("event_id"))
    }, Sql(
      """WITH raw AS (
        |  SELECT event_id,
        |         CASE CAST(event_id % 4 AS INTEGER)
        |           WHEN 0 THEN strftime(ts, '%Y-%m-%d')
        |           WHEN 1 THEN strftime(ts, '%Y/%m/%d')
        |           WHEN 2 THEN strftime(ts, '%d-%m-%Y')
        |           ELSE strftime(ts, '%d/%m/%Y') END AS raw
        |  FROM events)
        |SELECT event_id, raw,
        |       strftime(coalesce(
        |         try_strptime(raw, '%Y-%m-%d'), try_strptime(raw, '%Y/%m/%d'),
        |         try_strptime(raw, '%d-%m-%Y'), try_strptime(raw, '%d/%m/%Y')),
        |         '%Y-%m-%d') AS parsed
        |FROM raw ORDER BY event_id""".stripMargin)),

    Query("q_date_format", (s, dir) => {
      val ts = timestamp_micros(col("ts_us"))
      Tables.events(s, dir).select(
        col("event_id"),
        TimeFns.toSuffix(ts).as("ymd"),
        TimeFns.toIso(ts).as("iso"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, strftime(ts, '%Y%m%d') AS ymd,
        |       strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_date_arith", (s, dir) => {
      TimeFns.dateKitchenSink(Tables.events(s, dir))
        .select(col("event_id"), col("minus_7d"), col("plus_36h"), col("days_since"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id,
        |       strftime(ts - INTERVAL 7 DAY, '%Y-%m-%d %H:%M:%S') AS minus_7d,
        |       strftime(ts + INTERVAL 36 HOUR, '%Y-%m-%d %H:%M:%S') AS plus_36h,
        |       CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
        |         AS days_since
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_epoch_micros", (s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        col("ts_us"),
        date_format(TimeFns.microsToTs(col("ts_us")), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        TimeFns.tsToMicros(TimeFns.microsToTs(col("ts_us"))).as("roundtrip_us"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, epoch_us(ts) AS ts_us,
        |       strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d %H:%M:%S') AS ts_str,
        |       epoch_us(make_timestamp(epoch_us(ts))) AS roundtrip_us
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Gap-based sessionization: a >30-minute silence starts a new
      // session; session index = running count of session starts. The
      // streaming twin is session_window(ts, "30 minutes").
      val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(byTime))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_session")).over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("session_idx"))
        .orderBy(col("user_id").asc_nulls_first, col("ts_us"), col("event_id"))
    }, Sql(
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         lag(epoch_us(ts), 1) OVER (
        |           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_us,
        |         CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM g)
        |SELECT user_id, event_id, ts_us,
        |       CAST(sum(new_session) OVER (
        |         PARTITION BY user_id ORDER BY ts_us, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS session_idx
        |FROM f ORDER BY user_id NULLS FIRST, ts_us, event_id""".stripMargin)),

    Query("q_session_window", (s, dir) => {
      // Native session_window operator: events merge while gaps stay
      // under 30 minutes; window end = last event + gap. The oracle
      // reproduces the same sessions from first principles (lag +
      // running session index).
      Tables.events(s, dir)
        .withColumn("ts_ts", timestamp_micros(col("ts_us")))
        .groupBy(col("user_id"), session_window(col("ts_ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(
          col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
          col("n"))
        .orderBy(col("user_id").asc_nulls_first, col("sess_start"))
    }, Sql(
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         lag(epoch_us(ts), 1) OVER (
        |           PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts_us,
        |         CASE WHEN prev_ts IS NULL OR ts_us - prev_ts >= 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM g),
        |s AS (
        |  SELECT user_id, ts_us,
        |         sum(new_session) OVER (
        |           PARTITION BY user_id ORDER BY ts_us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM f)
        |SELECT user_id,
        |       strftime(make_timestamp(min(ts_us)), '%Y-%m-%d %H:%M:%S') AS sess_start,
        |       strftime(make_timestamp(max(ts_us) + 1800000000), '%Y-%m-%d %H:%M:%S')
        |         AS sess_end,
        |       count(*) AS n
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id NULLS FIRST, sess_start""".stripMargin)),

    Query("q_ga4_extract", (s, dir) => {
      // The reference's real N1 shape, oracle-checked end to end:
      // ARRAY<STRUCT> scan from parquet → HOF filter + try_element_at(-1)
      // (last-match-wins, null-array-safe). The oracle states the
      // expected values from first principles (it knows how the table
      // was derived), so the nested extraction is independently checked.
      ga4Table(s, dir)
        .select(
          col("event_id"),
          EventOps.extractParam(col("event_params"), "k").as("param_k"),
          EventOps.extractParam(col("event_params"), "page").as("page"))
        .orderBy(col("event_id"))
    }, Sql(
      // First-principles expectation for the GA4 nested extraction: the
      // oracle never touches event_params — it re-states, per event_id % 5
      // shape, what last-match-wins extraction over the derived
      // ARRAY<STRUCT> must return (see ga4Frame's shape table).
      """SELECT event_id,
        |  CASE
        |    WHEN event_id % 5 IN (1, 4) THEN json_extract_string(props, '$.k')
        |    WHEN event_id % 5 = 2
        |      THEN CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS VARCHAR)
        |    ELSE NULL END AS param_k,
        |  CASE event_id % 5
        |    WHEN 1 THEN 'home' WHEN 3 THEN 'search' WHEN 4 THEN 'cart'
        |    ELSE NULL END AS page
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_user_paths", (s, dir) => {
      // Per-user ordered journey string: collect_list into an
      // array_sort'd struct (ts, id, type) — deterministic without a
      // pre-shuffle sort, one aggregation exchange total.
      Tables.events(s, dir).filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("event_type")))),
              x => x.getField("event_type")), ">").as("path"))
        .orderBy(col("user_id"))
    }, Sql(
      """SELECT user_id, count(*) AS n_events,
        |       string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Query("q_retention", (s, dir) => {
      // Cohort retention: users grouped by first-seen week, counted in
      // each later week they were active. Two aggregations + one join
      // on user — the cohort table is groups-sized, so at scale it
      // broadcasts back against per-user activity.
      val weekUs = 7L * 86400000000L
      val base = 1704067200000000L // 2024-01-01
      val wk = ((col("ts_us") - base) / weekUs).cast("long")
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id"), wk.as("wk"))
      val cohorts = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      val active = ev.distinct()
      active.join(broadcast(cohorts), Seq("user_id"))
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("wk_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("wk_offset"))
    }, Sql(
      """WITH ev AS (
        |  SELECT user_id,
        |         CAST(floor((epoch_us(ts) - 1704067200000000) / 604800000000.0) AS BIGINT) AS wk
        |  FROM events WHERE user_id IS NOT NULL),
        |cohorts AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, wk FROM ev)
        |SELECT c.cohort, a.wk - c.cohort AS wk_offset,
        |       count(DISTINCT a.user_id) AS n_users
        |FROM active a JOIN cohorts c USING (user_id)
        |GROUP BY c.cohort, a.wk - c.cohort
        |ORDER BY cohort, wk_offset""".stripMargin)),

    Query("q_funnel", (s, dir) => {
      // click → view → purchase progression per user: one shuffle +
      // map-side fold, vs the oracle's per-step self-join form.
      EventOps.funnelStages(
          Tables.events(s, dir).filter(col("user_id").isNotNull),
          "ts_us", "event_type", Seq("click", "view", "purchase"))
        .orderBy(col("user_id"))
    }, Sql(
      // The relational funnel definition: min eligible timestamp per
      // step, each step restricted to strictly-after the previous — one
      // aggregation per step (the form whose equivalence with the
      // engine's single-pass fold is the point of the check).
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |s1 AS (
        |  SELECT user_id, min(ts_us) AS t1 FROM u
        |  WHERE event_type = 'click' GROUP BY user_id),
        |s2 AS (
        |  SELECT u.user_id, min(u.ts_us) AS t2 FROM u
        |  JOIN s1 USING (user_id)
        |  WHERE u.event_type = 'view' AND u.ts_us > s1.t1 GROUP BY u.user_id),
        |s3 AS (
        |  SELECT u.user_id, min(u.ts_us) AS t3 FROM u
        |  JOIN s2 USING (user_id)
        |  WHERE u.event_type = 'purchase' AND u.ts_us > s2.t2 GROUP BY u.user_id)
        |SELECT b.user_id, s1.t1, s2.t2, s3.t3,
        |       CAST(CASE WHEN s1.user_id IS NULL THEN 0 ELSE 1 END
        |          + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
        |          + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS stages
        |FROM (SELECT DISTINCT user_id FROM u) b
        |LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin)),

    Query("q_attribution", (s, dir) => {
      EventOps.lastTouchAttribution(
          Tables.events(s, dir), "ts_us", "event_type",
          touchType = "click", convType = "purchase")
        .orderBy(col("event_id"))
    }, Sql(
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |w AS (
        |  SELECT event_id, user_id, ts_us, event_type,
        |         max(CASE WHEN event_type = 'click' THEN ts_us END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS last_touch_ts
        |  FROM e)
        |SELECT event_id, user_id, ts_us, last_touch_ts,
        |       ts_us - last_touch_ts AS gap_us
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),

    Query("q_regex_extract", (s, dir) => {
      // Pattern extraction over the raw props payload: first integer
      // run, all integer runs, and the match count — the log-scraping
      // primitive (regexp_extract/_all are codegen'd; no UDF). Empty
      // matches normalized to NULL so both engines agree on the
      // no-match representation.
      Tables.events(s, dir)
        .select(
          col("event_id"),
          nullif(regexp_extract(col("props"), "[0-9]+", 0), lit("")).as("first_num"),
          array_join(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)), ",")
            .as("all_nums"),
          size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
            .cast("long").as("n_nums"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id,
        |  nullif(coalesce(regexp_extract(props, '[0-9]+'), ''), '') AS first_num,
        |  list_aggregate(regexp_extract_all(props, '[0-9]+'), 'string_agg', ',')
        |    AS all_nums,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_nums
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_markov", (s, dir) => {
      EventOps.transitionMatrix(Tables.events(s, dir), "ts_us", "event_type")
        .orderBy(col("state"), col("next_state"))
    }, Sql(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |p AS (
        |  SELECT event_type AS state,
        |         lead(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts_us, event_id) AS next_state
        |  FROM e),
        |c AS (
        |  SELECT state, next_state, count(*) AS n
        |  FROM p WHERE next_state IS NOT NULL GROUP BY 1, 2)
        |SELECT state, next_state, n,
        |       round(n / sum(n) OVER (PARTITION BY state), 4) AS p_r
        |FROM c ORDER BY state, next_state""".stripMargin)),

    Query("q_cooccur", (s, dir) => {
      // container day as an integer epoch-day: session tz is pinned
      // UTC, so `ts_us div 86400e6` partitions identically to the
      // formatted yyyy-MM-dd string (the oracle's strftime day) while
      // skipping a per-row formatter — the key is internal to the
      // grouping and never reaches the output
      val ev = Tables.events(s, dir).withColumn(
        "day", expr("ts_us div 86400000000"))
      EventOps.cooccurrence(ev, Seq(col("user_id"), col("day")), "event_type")
        .orderBy(col("t_a"), col("t_b"))
    }, Sql(
      """WITH e AS (
        |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |s AS (SELECT event_type AS t, count(*) AS n_t FROM e GROUP BY 1),
        |tot AS (SELECT count(*) AS n_c FROM (SELECT DISTINCT user_id, day FROM e)),
        |p AS (
        |  SELECT a.event_type AS t_a, b.event_type AS t_b, count(*) AS n_ab
        |  FROM e a JOIN e b
        |    ON a.user_id = b.user_id AND a.day = b.day
        |   AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT t_a, t_b, n_ab,
        |       round(n_ab * n_c / (sa.n_t * sb.n_t), 4) AS lift_r
        |FROM p JOIN s sa ON sa.t = p.t_a JOIN s sb ON sb.t = p.t_b
        |CROSS JOIN tot
        |ORDER BY t_a, t_b""".stripMargin)),

    Query("q_ab_test", (s, dir) => {
      // conversion = a high-value purchase (plain "any purchase" is
      // degenerate on this data — every user has one)
      EventOps.abTest(Tables.events(s, dir),
        col("event_type") === "purchase" && col("value") > 150)
    }, Sql(
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' AND value > 150
        |                  THEN 1 ELSE 0 END) AS conv,
        |         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS bucket
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN bucket = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN bucket = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN bucket = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN bucket = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM u)
        |SELECT n_a, n_b, conv_a, conv_b,
        |       round(conv_a / n_a, 4) AS rate_a_r,
        |       round(conv_b / n_b, 4) AS rate_b_r,
        |       CASE WHEN (conv_a + conv_b) > 0 AND (conv_a + conv_b) < (n_a + n_b)
        |            THEN round((conv_a / n_a - conv_b / n_b) /
        |                 sqrt(((conv_a + conv_b) / (n_a + n_b)) *
        |                      (1 - (conv_a + conv_b) / (n_a + n_b)) *
        |                      (1.0 / n_a + 1.0 / n_b)), 4)
        |            END AS z_r
        |FROM c""".stripMargin)),

    Query("q_seasonality", (s, dir) => {
      EventOps.seasonality(Tables.events(s, dir), "ts_us")
        .orderBy(col("dow"), col("hod"))
    }, Sql(
      """WITH c AS (
        |  SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |         CAST(extract(hour FROM ts) AS BIGINT) AS hod,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT dow, hod, n,
        |       round(n / sum(n) OVER (PARTITION BY dow), 4) AS share_r
        |FROM c ORDER BY dow, hod""".stripMargin)),

    Query("q_json_keys", (s, dir) => {
      // dirty the feed: every 5th row carries a different shape (extra
      // tag key, no k), every 11th is malformed and parses to nothing
      val raw = when(col("event_id") % 11 === 0, lit("{not json"))
        .when(col("event_id") % 5 === 0,
          concat(lit("{\"tag\": \""), col("event_type"), lit("\", \"n\": "),
            (col("event_id") % 7).cast("string"), lit("}")))
        .otherwise(col("props"))
      EventOps.jsonKeyProfile(Tables.events(s, dir).select(raw.as("raw")), "raw")
        .orderBy(col("key"))
    }, Sql(
      """WITH r AS (
        |  SELECT CASE WHEN event_id % 11 = 0 THEN '{not json'
        |              WHEN event_id % 5 = 0 THEN '{"tag": "' || event_type ||
        |                   '", "n": ' || CAST(event_id % 7 AS VARCHAR) || '}'
        |              ELSE props END AS raw
        |  FROM events),
        |t AS (SELECT count(*) AS total FROM r),
        |kv AS (
        |  SELECT k AS key,
        |         json_extract_string(raw, '$.' || k) AS val
        |  FROM r, unnest(json_keys(
        |         CASE WHEN json_valid(raw) THEN raw ELSE '{}' END)) AS u(k))
        |SELECT key, count(*) AS n_rows,
        |       CAST(count(DISTINCT val) AS BIGINT) AS n_vals,
        |       round(count(*) / max(total), 4) AS share_r
        |FROM kv CROSS JOIN t
        |GROUP BY key ORDER BY key""".stripMargin)),

    Query("q_anomaly_days", (s, dir) => {
      EventOps.dailyVolumeAnomalies(Tables.events(s, dir), "ts_us", 3.0)
        .orderBy(col("day"))
    }, Sql(
      """WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |m AS (SELECT quantile_cont(n, 0.5) AS med FROM daily),
        |md AS (SELECT quantile_cont(abs(n - m.med), 0.5) AS mad FROM daily, m)
        |SELECT day, n, round(m.med, 4) AS med_r, round(md.mad, 4) AS mad_r,
        |       CASE WHEN md.mad > 0
        |            THEN round((n - m.med) / (1.4826 * md.mad), 4) END
        |         AS robust_z_r,
        |       CAST(CASE WHEN abs(CASE WHEN md.mad > 0
        |                  THEN round((n - m.med) / (1.4826 * md.mad), 4) END) > 3.0
        |            THEN 1 ELSE 0 END AS BIGINT) AS anomaly
        |FROM daily, m, md ORDER BY day""".stripMargin)),

    Query("q_recency_score", (s, dir) => {
      EventOps.recencyScore(Tables.events(s, dir),
          Tables.D2024_01_20_US, halflifeDays = 2.0)
        .orderBy(col("user_id"))
    }, Sql(
      """SELECT user_id,
        |       count(*) AS n_events,
        |       max(epoch_us(ts)) AS last_seen_us,
        |       round(sum(value / power(2, floor(
        |         ((1705708800000000 - epoch_us(ts)) / 86400000000.0) / 2.0))), 4)
        |         AS recency_score_r
        |FROM events
        |WHERE user_id IS NOT NULL AND epoch_us(ts) <= 1705708800000000
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Query("q_rfm", (s, dir) => {
      EventOps.rfmSegments(Tables.events(s, dir), Tables.D2024_01_20_US,
          knownUsers = Some(rfmUserCountLocal(s, dir, Tables.D2024_01_20_US)))
        .orderBy(col("user_id"))
    }, Sql(
      """WITH pu AS (
        |  SELECT user_id,
        |         CAST(floor((1705708800000000 - max(epoch_us(ts))) / 86400000000.0)
        |              AS BIGINT) AS recency_days,
        |         count(*) AS frequency,
        |         round(sum(value), 4) AS monetary_r
        |  FROM events
        |  WHERE user_id IS NOT NULL AND epoch_us(ts) <= 1705708800000000
        |  GROUP BY user_id)
        |SELECT user_id, recency_days, frequency, monetary_r,
        |       CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS BIGINT)
        |         AS r_band,
        |       CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
        |         AS f_band,
        |       CAST(ntile(5) OVER (ORDER BY monetary_r DESC, user_id) AS BIGINT)
        |         AS m_band,
        |       concat_ws('-',
        |         ntile(5) OVER (ORDER BY recency_days, user_id),
        |         ntile(5) OVER (ORDER BY frequency DESC, user_id),
        |         ntile(5) OVER (ORDER BY monetary_r DESC, user_id)) AS segment
        |FROM pu ORDER BY user_id""".stripMargin))
  )
}
