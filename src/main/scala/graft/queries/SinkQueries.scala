package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Tables}
import graft.ops.{EventOps, Mutations}
import graft.etl.Sinks
import graft.Tables._
import graft.EntrySupport._

/** Sinks and intake: write round-trips, upsert/merge history and the
  * dirty-feed readers. */
private[graft] object SinkQueries {

  val all: Seq[Query] = Seq(
    Query("q_upsert_anti", (s, dir) => {
      val ev = Tables.events(s, dir)
      val existing = ev.filter(col("event_id") % 3 === 0)
      val incoming = EventOps.newerThan(ev, D2024_01_15_US)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
      EventOps.newKeysOnly(incoming, existing, Seq("user_id", "ts_us", "event_type"))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
        .orderBy(col("event_id"))
    }, Sql(
      """WITH existing AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
        |  WHERE event_id % 3 = 0),
        |incoming AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events
        |  WHERE epoch_us(ts) > 1705276800000000)
        |SELECT i.event_id, i.user_id, i.ts_us, i.event_type FROM incoming i
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM existing e
        |  WHERE e.user_id = i.user_id AND e.ts_us = i.ts_us
        |    AND e.event_type = i.event_type)
        |ORDER BY i.event_id""".stripMargin)),

    Query("q_incremental", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
      // Phase 1: everything up to the split; its max ts becomes the
      // persisted watermark (a driver-side SCALAR read, mirroring the
      // reference checkpoint file — never a join against history).
      val batch1 = ev.filter(col("ts_us") <= D2024_01_15_US)
      val wmRow = batch1.agg(max(col("ts_us"))).head()
      val wm = if (wmRow.isNullAt(0)) Long.MinValue else wmRow.getLong(0)
      // Phase 2: strictly newer than the watermark.
      val batch2 = ev.filter(col("ts_us") > wm)
      batch1.unionByName(batch2).orderBy(col("event_id"))
    }, Sql(
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |batch1 AS (SELECT * FROM ev WHERE ts_us <= 1705276800000000),
        |wm AS (SELECT max(ts_us) AS m FROM batch1),
        |batch2 AS (SELECT * FROM ev WHERE ts_us > (SELECT m FROM wm))
        |SELECT * FROM (
        |  SELECT * FROM batch1 UNION ALL SELECT * FROM batch2
        |) ORDER BY event_id""".stripMargin)),

    Query("q_sink_csv", (s, dir) => {
      val out = EventOps.extractJsonLong(Tables.events(s, dir), "props", "k", "param_k")
        .select(
          col("event_id"), col("user_id"),
          date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd").as("event_date"),
          col("ts_us"), col("event_type"), col("param_k"))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_date", StringType), StructField("ts_us", LongType),
        StructField("event_type", StringType), StructField("param_k", LongType)))
      Sinks.roundTrip(out, tmpDir("csv", dir), schema, "csv", Map("header" -> "true"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d') AS event_date,
        |       epoch_us(ts) AS ts_us, event_type,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS param_k
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_sink_append", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
      val sink = tmpDir("append", dir)
      Sinks.overwrite(ev.filter(col("ts_us") < D2024_01_15_US), sink)
      Sinks.append(ev.filter(col("ts_us") >= D2024_01_15_US), sink)
      s.read.parquet(sink).orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_sink_json", (s, dir) => {
      // Third format surface: newline-delimited JSON out, schema'd read
      // back (inference would cost an extra pass and can widen types).
      val out = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
        round(col("value"), 4).as("value_r"))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts_us", LongType), StructField("event_type", StringType),
        StructField("value_r", DoubleType)))
      Sinks.roundTrip(out, tmpDir("json", dir), schema, "json").orderBy(col("event_id"))
    }, Sql(
      // Like q_sink_csv, the oracle restates the EXPECTED round-trip
      // content from the source table — an independent check that the
      // JSON write+read is lossless.
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
        |       round(value, 4) AS value_r
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_sink_orc", (s, dir) => {
      // Fourth format surface: ORC out + schema'd read back — same
      // columnar pushdown class as parquet, different container.
      val out = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
        round(col("value"), 4).as("value_r"))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts_us", LongType), StructField("event_type", StringType),
        StructField("value_r", DoubleType)))
      Sinks.roundTrip(out, tmpDir("orc", dir), schema, "orc").orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
        |       round(value, 4) AS value_r
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_sink_xml", (s, dir) => {
      // Fifth format surface: XML out (Spark 4's native spark-xml
      // datasource) + schema'd read back. Same lossless-content oracle
      // as the CSV/JSON/ORC sinks; markup-escaping fidelity is pinned
      // separately in SinksSpec. The write stays at the spread width —
      // the write+commit runs per sample, so extra files cost more
      // than the finer read-back parallelism returns (measured on
      // a 32-core host: 32-file round-trip 1.07 s vs 8-file 0.38 s).
      val out = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
        round(col("value"), 4).as("value_r"))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts_us", LongType), StructField("event_type", StringType),
        StructField("value_r", DoubleType)))
      Sinks.roundTrip(out, tmpDir("xml", dir), schema, "xml", Map("rowTag" -> "row")).orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
        |       round(value, 4) AS value_r
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_merge_update", (s, dir) => {
      // MERGE with update-matched semantics: the pre-watermark profile
      // snapshot merged with the post-watermark re-computation — keys
      // in both take the NEW values (WHEN MATCHED UPDATE), new keys
      // insert, untouched keys keep. Completes the upsert surface next
      // to q_upsert_anti's insert-only conflict-skip.
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      def profile(f: DataFrame): DataFrame = f.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        max(col("ts_us")).as("last_ts_us"),
        round(sum(col("value")), 4).as("sum_v_r"))
      Mutations.mergeUpsert(
          profile(ev.filter(col("ts_us") < D2024_01_15_US)),
          profile(ev.filter(col("ts_us") >= D2024_01_15_US)),
          Seq("user_id"))
        .orderBy(col("user_id"))
    }, Sql(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE user_id IS NOT NULL),
        |b AS (
        |  SELECT user_id, count(*) AS n_events, max(ts_us) AS last_ts_us,
        |         round(sum(value), 4) AS sum_v_r
        |  FROM e WHERE ts_us < 1705276800000000 GROUP BY 1),
        |u AS (
        |  SELECT user_id, count(*) AS n_events, max(ts_us) AS last_ts_us,
        |         round(sum(value), 4) AS sum_v_r
        |  FROM e WHERE ts_us >= 1705276800000000 GROUP BY 1)
        |SELECT b.user_id,
        |       CASE WHEN u.user_id IS NOT NULL THEN u.n_events ELSE b.n_events END AS n_events,
        |       CASE WHEN u.user_id IS NOT NULL THEN u.last_ts_us ELSE b.last_ts_us END AS last_ts_us,
        |       CASE WHEN u.user_id IS NOT NULL THEN u.sum_v_r ELSE b.sum_v_r END AS sum_v_r,
        |       CASE WHEN u.user_id IS NOT NULL THEN 'update' ELSE 'keep' END AS merge_action
        |FROM b LEFT JOIN u ON b.user_id = u.user_id
        |UNION ALL
        |SELECT u.user_id, u.n_events, u.last_ts_us, u.sum_v_r, 'insert' AS merge_action
        |FROM u LEFT JOIN b ON u.user_id = b.user_id WHERE b.user_id IS NULL
        |ORDER BY user_id""".stripMargin)),

    Query("q_scd2", (s, dir) => {
      // Type-2 dimension build from the event stream: per user, each
      // run of consecutive identical event_types is one version row
      // with [valid_from, valid_to) micros and an is_current flag —
      // the "keep history" counterpart of q_merge_update's overwrite.
      Mutations.scd2(
          Tables.events(s, dir).filter(col("user_id").isNotNull),
          "user_id", "event_type", "ts_us", "event_id")
        .orderBy(col("user_id"), col("version"))
    }, Sql(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |t AS (
        |  SELECT *, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        |  FROM e),
        |c AS (
        |  SELECT user_id, ts_us, event_id, event_type
        |  FROM t WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version, event_type,
        |       ts_us AS valid_from, lead(ts_us) OVER w AS valid_to,
        |       (lead(ts_us) OVER w IS NULL) AS is_current
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, version""".stripMargin)),

    Query("q_reconcile", (s, dir) => {
      val src = Tables.events(s, dir)
      // sink simulated with a deterministic loss (every 101st event)
      EventOps.reconcile(src, src.filter(col("event_id") % 101 =!= 0), "ts_us")
        .orderBy(col("day"))
    }, Sql(
      """WITH src AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS src_n,
        |         round(sum(value), 4) AS src_sum_r
        |  FROM events GROUP BY 1),
        |dst AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS dst_n,
        |         round(sum(value), 4) AS dst_sum_r
        |  FROM events WHERE event_id % 101 <> 0 GROUP BY 1)
        |SELECT day,
        |       coalesce(src_n, 0) AS src_n,
        |       coalesce(dst_n, 0) AS dst_n,
        |       coalesce(src_n, 0) - coalesce(dst_n, 0) AS missing_n,
        |       coalesce(src_sum_r, 0) AS src_sum_r,
        |       coalesce(dst_sum_r, 0) AS dst_sum_r
        |FROM src FULL OUTER JOIN dst USING (day)
        |ORDER BY day""".stripMargin)),

    Query("q_snapshot_diff", (s, dir) => {
      // old = pre-watermark profile; new = current, with every 53rd
      // user deterministically retired so `removed` rows exist too
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      def profile(f: DataFrame): DataFrame = f.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_v_r"))
      Mutations.snapshotDiff(
          profile(ev.filter(col("ts_us") < D2024_01_15_US)),
          profile(ev.filter(col("user_id") % 53 =!= 0)),
          Seq("user_id"), Seq("n_events", "sum_v_r"))
        .orderBy(col("user_id"))
    }, Sql(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE user_id IS NOT NULL),
        |o AS (
        |  SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_v_r
        |  FROM e WHERE ts_us < 1705276800000000 GROUP BY 1),
        |n AS (
        |  SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_v_r
        |  FROM e WHERE user_id % 53 <> 0 GROUP BY 1)
        |SELECT user_id,
        |       o.n_events AS old_n_events, o.sum_v_r AS old_sum_v_r,
        |       n.n_events AS new_n_events, n.sum_v_r AS new_sum_v_r,
        |       CASE WHEN o.user_id IS NULL THEN 'added'
        |            WHEN n.user_id IS NULL THEN 'removed'
        |            WHEN o.n_events IS NOT DISTINCT FROM n.n_events
        |             AND o.sum_v_r IS NOT DISTINCT FROM n.sum_v_r THEN 'same'
        |            ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n USING (user_id)
        |ORDER BY user_id""".stripMargin)),

    Query("q_json_intake", (s, dir) => {
      // PERMISSIVE intake of a deliberately-dirty JSONL feed: every
      // 13th line is broken JSON. Malformed LINES route to
      // _corrupt_record (the quarantine column) instead of failing the
      // read; the oracle knows the derivation, so it states the same
      // bucket counts straight from the clean table.
      val feed = materialize(DirtyJsonl, s, dir)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("user_id", LongType), StructField("ts_us", LongType)))
      Sinks.permissiveRead(s, feed, schema, "json")
        .groupBy(
          when(col("_corrupt_record").isNotNull, lit("corrupt"))
            .otherwise(col("event_type")).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }, Sql(
      """SELECT CASE WHEN event_id % 13 = 0 THEN 'corrupt'
        |            ELSE event_type END AS bucket,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    Query("q_xml_intake", (s, dir) => {
      // PERMISSIVE intake of a dirty LINE-DELIMITED XML feed — the XML
      // twin of q_json_intake. Every 13th record carries a malformed
      // VALUE (a non-numeric event_id cell inside well-formed markup):
      // with multiLine=false the parser quarantines exactly that row to
      // _corrupt_record (a whole-document parse would swallow the rest
      // of the split — see Sinks.xmlLineFeed).
      val feed = materialize(DirtyXml, s, dir)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("user_id", LongType), StructField("ts_us", LongType)))
      Sinks.permissiveRead(s, feed, schema, "xml", Sinks.xmlLineFeed)
        .groupBy(
          when(col("_corrupt_record").isNotNull, lit("corrupt"))
            .otherwise(col("event_type")).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }, Sql(
      // Same derivation as q_json_intake: the oracle knows every 13th
      // record carries the poisoned event_id cell, so it restates the
      // bucket counts straight from the clean table.
      """SELECT CASE WHEN event_id % 13 = 0 THEN 'corrupt'
        |            ELSE event_type END AS bucket,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    Query("q_csv_intake", (s, dir) => {
      // PERMISSIVE intake of a dirty CSV feed — the CSV member of the
      // dirty-feed trio (q_json_intake / q_xml_intake). Every 13th
      // line carries a non-numeric event_id cell; PERMISSIVE type
      // enforcement quarantines exactly that line to _corrupt_record.
      val feed = materialize(DirtyCsv, s, dir)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("user_id", LongType), StructField("ts_us", LongType)))
      Sinks.permissiveRead(s, feed, schema, "csv")
        .groupBy(
          when(col("_corrupt_record").isNotNull, lit("corrupt"))
            .otherwise(col("event_type")).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }, Sql(
      // Same derivation again for the CSV member of the trio.
      """SELECT CASE WHEN event_id % 13 = 0 THEN 'corrupt'
        |            ELSE event_type END AS bucket,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    Query("q_sink_zorder", (s, dir) => {
      // S8 multi-dim layout, oracle-checked for content losslessness:
      // events written z-ordered on (user_id, ts_us) — the layout that
      // makes 2-d box predicates prune files via parquet min/max — then
      // read back; the oracle is the plain table (a layout changes
      // WHERE bytes live, never WHAT they are). File-locality quality
      // itself is pinned by ZorderSpec's span assertions.
      val out = tmpDir("zorder_events", dir)
      val ev = Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      Sinks.zorderedWrite(ev, "user_id", "ts_us", out, nFiles = 8)
      s.read.parquet(out).orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |FROM events WHERE user_id IS NOT NULL
        |ORDER BY event_id""".stripMargin)),

    Query("q_pit_join", (s, dir) => {
      // point-in-time: each purchase looks up the SCD2 attribute
      // version valid at its timestamp — historical-report semantics
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      val dim = Mutations.scd2(ev, "user_id", "event_type", "ts_us", "event_id")
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      Mutations.pointInTimeJoin(facts, dim, "user_id", "ts_us", "event_type")
        .orderBy(col("event_id"))
    }, Sql(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |trans AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id) AS prev
        |  FROM e),
        |vers AS (
        |  SELECT user_id, ts_us AS valid_from, event_type,
        |         CAST(row_number() OVER (PARTITION BY user_id
        |           ORDER BY valid_from, event_id) AS BIGINT) AS version
        |  FROM trans WHERE prev IS NULL OR prev != event_type),
        |facts AS (
        |  SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT f.event_id, f.user_id, f.ts_us, v.version, v.event_type,
        |         row_number() OVER (PARTITION BY f.event_id
        |           ORDER BY v.valid_from DESC, v.version DESC) AS rn
        |  FROM facts f LEFT JOIN vers v
        |    ON v.user_id = f.user_id AND v.valid_from <= f.ts_us)
        |SELECT event_id, user_id, ts_us, version AS dim_version,
        |       event_type AS dim_event_type
        |FROM m WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    Query("q_cdc_apply", (s, dir) => {
      // binlog replay: base = pre-T1 per-user state; two cumulative
      // update batches (seq 1, 2) + a delete batch (seq 3, every 7th
      // user) — last writer wins, the delete outranks everything
      val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
      // ONE conditional-aggregation pass builds every per-user
      // snapshot the scenario needs (the old form re-scanned events
      // once per batch: 3 aggregates + 3 distinct semijoin builds);
      // base/c1/c2/c3 then derive from the bounded per-user frame.
      // sum(when(cond, value)) accumulates the same rows in the same
      // partition order as filter-then-sum, so the 4dp rounding is
      // unchanged.
      def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
      def sm(c: Column) = round(sum(when(c, col("value"))), 4)
      val pre10 = col("ts_us") < Tables.D2024_01_10_US
      val pre15 = col("ts_us") < Tables.D2024_01_15_US
      val u = graft.CacheScope.cached(e.groupBy(col("user_id")).agg(
        cnt(pre10).as("n1"), sm(pre10).as("s1"),
        cnt(pre15).as("n2"), sm(pre15).as("s2"),
        count(lit(1)).as("n3"), round(sum(col("value")), 4).as("s3"),
        max(when(!pre10 && pre15, 1).otherwise(0)).as("in_10_15"),
        max(when(!pre15, 1).otherwise(0)).as("ge_15")))
      val base = u.filter(col("n1") > 0)
        .select(col("user_id"), col("n1").as("n_events"), col("s1").as("sum_v_r"))
      val c1 = u.filter(col("in_10_15") === 1)
        .select(col("user_id"), lit("U").as("op"), lit(1L).as("seq"),
          col("n2").as("n_events"), col("s2").as("sum_v_r"))
      val c2 = u.filter(col("ge_15") === 1)
        .select(col("user_id"), lit("U").as("op"), lit(2L).as("seq"),
          col("n3").as("n_events"), col("s3").as("sum_v_r"))
      val c3 = u.filter(col("user_id") % 7 === 0)
        .select(col("user_id"), lit("D").as("op"), lit(3L).as("seq"),
          lit(null).cast("long").as("n_events"),
          lit(null).cast("double").as("sum_v_r"))
      Mutations.applyChangelog(base, c1.unionByName(c2).unionByName(c3),
          "user_id", "seq")
        .orderBy(col("user_id"))
    }, Sql(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE user_id IS NOT NULL),
        |base AS (
        |  SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_v_r
        |  FROM e WHERE ts_us < 1704844800000000 GROUP BY 1),
        |c1 AS (
        |  SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_v_r
        |  FROM e WHERE ts_us < 1705276800000000 GROUP BY 1),
        |c1k AS (SELECT DISTINCT user_id FROM e
        |        WHERE ts_us >= 1704844800000000 AND ts_us < 1705276800000000),
        |c2 AS (
        |  SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_v_r
        |  FROM e GROUP BY 1),
        |c2k AS (SELECT DISTINCT user_id FROM e WHERE ts_us >= 1705276800000000),
        |winner AS (
        |  -- last writer per key: seq 2 (late update) beats seq 1; the
        |  -- delete (seq 3) beats both
        |  SELECT coalesce(c2.user_id, c1.user_id) AS user_id,
        |         CASE WHEN c2.user_id IS NOT NULL THEN c2.n_events
        |              ELSE c1.n_events END AS n_events,
        |         CASE WHEN c2.user_id IS NOT NULL THEN c2.sum_v_r
        |              ELSE c1.sum_v_r END AS sum_v_r
        |  FROM (SELECT c1.* FROM c1 JOIN c1k USING (user_id)) c1
        |  FULL OUTER JOIN (SELECT c2.* FROM c2 JOIN c2k USING (user_id)) c2
        |    ON c1.user_id = c2.user_id)
        |SELECT coalesce(w.user_id, b.user_id) AS user_id,
        |       CASE WHEN w.user_id IS NOT NULL THEN w.n_events
        |            ELSE b.n_events END AS n_events,
        |       CASE WHEN w.user_id IS NOT NULL THEN w.sum_v_r
        |            ELSE b.sum_v_r END AS sum_v_r
        |FROM base b FULL OUTER JOIN winner w ON b.user_id = w.user_id
        |-- every key in play has events, so the delete batch covers all
        |-- user_id % 7 = 0 keys exactly
        |WHERE coalesce(w.user_id, b.user_id) % 7 != 0
        |ORDER BY user_id""".stripMargin)),

    Query("q_xpath_extract", (s, dir) => {
      // N1 params extraction through the XML parser surface (the
      // xpath_* builtins + from_xml), first/last-match semantics
      // included. The payload is constructed from the row's OWN
      // fields — the JSON props `k` value rides in as the first `k`
      // param when present, a derived `k` param is always appended —
      // so first-match = props-or-derived, last-match = derived, and
      // the oracle recomputes everything from the raw table through
      // DuckDB's JSON parser: same data, two different parsers. Both
      // extraction paths (positional XPath and schema'd from_xml +
      // HOF filter + try_element_at(-1), the q_ga4_extract pattern)
      // must agree with it.
      val esc = (c: Column) =>
        regexp_replace(regexp_replace(regexp_replace(c,
          lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
      val jk = get_json_object(col("props"), "$.k")
      // a NULL value omits the whole param element (the writer
      // convention, as in q_xml_intake)
      val param = (k: String, v: Column) =>
        when(v.isNull, lit("")).otherwise(
          concat(lit(s"<param><k>$k</k><v>"), v, lit("</v></param>")))
      val x = concat(
        lit("<e><params>"),
        param("k", esc(jk)),
        param("u", col("user_id").cast("string")),
        param("k", (col("event_id") % 3).cast("string")),
        lit("</params></e>"))
      val xmlSchema = StructType(Seq(StructField("params", StructType(Seq(
        StructField("param", ArrayType(StructType(Seq(
          StructField("k", StringType), StructField("v", StringType))))))))))
      Tables.events(s, dir)
        .select(col("event_id"), x.as("x"))
        .select(
          col("event_id"),
          expr("xpath_string(x, \"//param[k='k']/v\")").as("k_first"),
          expr("xpath_long(x, \"(//param[k='k']/v)[last()]\")").as("k_last"),
          expr("CAST(size(xpath(x, '//param/k/text()')) AS BIGINT)").as("n_params"),
          try_element_at(
            filter(from_xml(col("x"), xmlSchema).getField("params").getField("param"),
              p => p.getField("k") === lit("k")),
            lit(-1)).getField("v").cast("long").as("k_last_typed"))
        .orderBy(col("event_id"))
    }, Sql(
      // The Spark side pushes each row's fields through a constructed
      // XML payload and back out via xpath_*/from_xml; the oracle
      // recomputes the same answers from the raw table through DuckDB's
      // JSON parser — same data, two parsers. first-match = the props
      // `k` value when present else the derived param; last-match and
      // the typed from_xml extraction are always the derived param;
      // n_params counts the conditionally-present elements.
      """SELECT event_id,
        |       COALESCE(json_extract_string(props, '$.k'),
        |                CAST(event_id % 3 AS VARCHAR)) AS k_first,
        |       event_id % 3 AS k_last,
        |       CAST(2
        |            + CASE WHEN json_extract_string(props, '$.k') IS NULL
        |                   THEN 0 ELSE 1 END
        |            - CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
        |         AS BIGINT) AS n_params,
        |       event_id % 3 AS k_last_typed
        |FROM events ORDER BY event_id""".stripMargin))
  )
}
