package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Parity-core operators over the event stream — the query semantics of
  * the reference's extraction pipeline, re-expressed as composable
  * DataFrame transforms (Catalyst plans, never SQL strings — the
  * reference builds SQL by f-string interpolation,
  * `/root/reference/extract_bq.py:92-113`, which we deliberately do not
  * reproduce).
  *
  * Scale notes: every function here is a narrow projection/filter or a
  * keyed shuffle that Catalyst can push down / prune. Nothing collects
  * to the driver; nothing is a UDF (all whole-stage-codegen built-ins).
  */
object EventOps {

  /** P1 — project exactly the reference's five columns (+ event_id as
    * the deterministic sort key). Mirrors the 5-column SELECT at
    * `/root/reference/extract_bq.py:103-108`. Column pruning reaches the
    * parquet scan (ReadSchema contains only these).
    */
  def project(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("user_id"), col("event_type"),
      col("ts_us"), col("props"),
      date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd").as("event_date"))

  /** P2 — drop rows with a missing user, mirroring
    * `user_id IS NOT NULL AND user_id != ''`
    * (`/root/reference/extract_bq.py:111-112`). The testdata user_id is
    * numeric, so the empty-string half of the predicate is applied to
    * event_type (the string column of the stream).
    */
  def filterNonNull(events: DataFrame): DataFrame =
    events.filter(
      col("user_id").isNotNull && col("event_type").isNotNull &&
        col("event_type") =!= "")

  /** P3+P4 — tracked-event IN-list (`/root/reference/extract_bq.py:89-93`);
    * empty vocabulary means "no filter" (P4, `extract_bq.py:90-93`) —
    * expressed as conditional plan construction, not a degenerate
    * predicate.
    */
  def filterIn(events: DataFrame, vocabulary: Seq[String]): DataFrame =
    if (vocabulary.isEmpty) events
    else events.filter(col("event_type").isin(vocabulary: _*))

  /** P5 — strictly-newer-than-watermark rows
    * (`/root/reference/flask_server.py:151`).
    */
  def newerThan(events: DataFrame, watermarkUs: Long): DataFrame =
    events.filter(col("ts_us") > lit(watermarkUs))

  /** N1 on the GA4 array-of-struct shape: extract
    * `value.string_value` of the LAST element whose `key` matches —
    * last-match-wins because the reference's row loop keeps overwriting
    * without break (`/root/reference/extract_bq.py:155-164`,
    * `/root/reference/flask_server.py:164-172`); missing key → NULL;
    * null/empty array → NULL (`extract_bq.py:159`).
    *
    * Pure built-ins: higher-order `filter` + `try_element_at(-1)` —
    * null-safe, codegen-friendly, no UDF. (`try_` because ANSI mode is
    * on and `element_at` over the empty filtered array must yield NULL,
    * not error.)
    */
  def extractParam(params: Column, key: String): Column =
    try_element_at(filter(params, p => p.getField("key") === key), lit(-1))
      .getField("value").getField("string_value")

  /** N1 on the testdata shape: `props` is a JSON string (`{"k": 87}`),
    * so the same capability is JSON scalar extraction.
    */
  def extractJsonLong(df: DataFrame, jsonCol: String, key: String, as: String): DataFrame =
    df.withColumn(as, get_json_object(col(jsonCol), s"$$.$key").cast("long"))

  /** T3 — first-write-wins dedup on a natural key: keep, per key, the
    * row with the smallest (orderCol, tieBreak). This is the engine
    * form of `ON CONFLICT (user_id, event_timestamp, event_name) DO
    * NOTHING` (`/root/reference/flask_server.py:193`) generalized to an
    * explicit, deterministic keep-rule (Spark's dropDuplicates keeps an
    * *arbitrary* row — not reproducible, so we don't use it here).
    *
    * One hash shuffle on the key; at 100 TB the key (user, type) is
    * high-cardinality so the shuffle is well spread.
    */
  def dedupFirstWrite(df: DataFrame, keys: Seq[String], orderCol: String, tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).asc, col(tieBreak).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The reference's complete extraction pipeline over the GA4 export
    * shape (`/root/reference/extract_bq.py:86-185`): drop null/empty
    * users, keep tracked event names (empty vocabulary = no filter,
    * P4), extract `event_id`/`event_name_detail` from the params array
    * (N1, last-match-wins), then first-write-wins dedup on the natural
    * key `(user_id, event_timestamp, event_name)`.
    *
    * `arrivalCol` makes "first write" explicit: the reference relies on
    * row arrival order, which a distributed batch has to name (a file
    * offset, an ingest sequence, the timestamp itself). Streaming
    * arrival order is the micro-batch sequence (see
    * [[graft.streaming.StreamingIncremental]]).
    */
  def ga4Pipeline(raw: DataFrame, vocabulary: Seq[String], arrivalCol: String): DataFrame = {
    val filtered = raw
      .filter(col("user_id").isNotNull && col("user_id") =!= "")
      .transform(df =>
        if (vocabulary.isEmpty) df
        else df.filter(col("event_name").isin(vocabulary: _*)))
    val extracted = filtered
      .withColumn("event_id", extractParam(col("event_params"), "id"))
      .withColumn("event_name_detail", extractParam(col("event_params"), "name"))
      .drop("event_params")
    dedupFirstWrite(
      extracted,
      Seq("user_id", "event_timestamp", "event_name"),
      arrivalCol, arrivalCol)
  }

  /** S6 — upsert-as-anti-join: rows of `incoming` whose natural key is
    * absent from `existing` (the `ON CONFLICT ... DO NOTHING` insert
    * set, `/root/reference/extract_bq.py:220`). `existing` is projected
    * to the key columns only before the join, so at scale the build
    * side carries no payload; when the sink's key set is small it
    * should be broadcast by the caller.
    */
  def newKeysOnly(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** Funnel analysis: per user, the timestamp at which each ordered
    * step was first reached — step i counts only STRICTLY AFTER step
    * i-1 (the greedy funnel: t1 = first 'click', t2 = first 'view'
    * after t1, ...). `stages` = how deep the user got.
    *
    * Scale shape: ONE shuffle (the groupBy), then a map-side fold over
    * the user's time-sorted event array — never a per-step self-join
    * (the relational formulation joins the events table once per step,
    * which is step-count × corpus shuffles at 100 TB; the DuckDB
    * oracle states exactly that form, so the equivalence is checked).
    * Per-user event counts bound the array (the same skew contract as
    * sessionization); the fold is O(events-per-user) with fixed state.
    */
  def funnelStages(events: DataFrame, tsCol: String, typeCol: String,
                   steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val n = steps.size
    val init = (1 to n).map(i => s"'t$i', cast(null as bigint)").mkString(", ")
    val upd = (1 to n).map { i =>
      val ready = if (i == 1) "true" else s"acc.t${i - 1} is not null"
      val after = if (i == 1) "true" else s"e.ts > acc.t${i - 1}"
      s"'t$i', case when acc.t$i is null and $ready and e.et = '${steps(i - 1)}' and $after " +
        s"then e.ts else acc.t$i end"
    }.mkString(", ")
    val fold =
      s"""aggregate(
         |  array_sort(collect_list(struct($tsCol as ts, $typeCol as et))),
         |  named_struct($init),
         |  (acc, e) -> named_struct($upd))""".stripMargin
    val stages = (1 to n).map(i => s"(case when f.t$i is not null then 1 else 0 end)")
      .mkString(" + ")
    events
      .groupBy(col("user_id"))
      .agg(expr(fold).as("f"))
      .select(
        col("user_id") +:
          (1 to n).map(i => col(s"f.t$i").as(s"t$i")) :+
          expr(s"cast($stages as bigint)").as("stages"): _*)
  }

  /** Last-touch attribution: for every `convType` event, the timestamp
    * of the user's most recent STRICTLY-PRECEDING `touchType` event
    * (and the gap), NULL when no touch precedes — the marketing
    * last-click model, and the within-stream form of an as-of join.
    *
    * Shape: ONE window over (user, time) — a running conditional max
    * in a rows-frame ending 1 PRECEDING — then a filter to conversion
    * rows. The same single shuffle any per-user sessionization pays;
    * ties in `tsCol` are ordered by `event_id` so the frame boundary
    * (and therefore the result) is engine-independent.
    */
  def lastTouchAttribution(events: DataFrame, tsCol: String, typeCol: String,
                           touchType: String, convType: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col(tsCol), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col("user_id").isNotNull)
      .withColumn("last_touch_ts",
        max(when(col(typeCol) === touchType, col(tsCol))).over(w))
      .filter(col(typeCol) === convType)
      .select(
        col("event_id"), col("user_id"), col(tsCol),
        col("last_touch_ts"),
        (col(tsCol) - col("last_touch_ts")).as("gap_us"))
  }

  /** First-order Markov transition matrix over per-user event streams:
    * P(next = b | current = a), estimated from every adjacent pair.
    * One (user, time)-sorted window for the `lead`, then a pair-keyed
    * aggregation; the row-conditional denominator comes from a window
    * over the TRANSITION table (|states|² rows, trivially small), so
    * the event table is touched exactly once. The standard "what do
    * users do next" product-analytics view.
    */
  def transitionMatrix(events: DataFrame, tsCol: String, typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col(tsCol), col("event_id"))
    val pairs = events
      .filter(col("user_id").isNotNull)
      .withColumn("next_state", lead(col(typeCol), 1).over(w))
      .filter(col("next_state").isNotNull)
      .groupBy(col(typeCol).as("state"), col("next_state"))
      .agg(count(lit(1)).as("n"))
    val wRow = Window.partitionBy(col("state"))
    pairs
      .withColumn("p_r", round(col("n") / sum(col("n")).over(wRow), 4))
  }

  /** Within-container event-type co-occurrence with lift: for every
    * unordered pair of event types seen in the same container (e.g. a
    * user-day), the number of co-occurring containers and
    * lift = P(a,b) / (P(a)·P(b)).
    *
    * Shape: ONE container-keyed aggregation collapses the event log to
    * per-container sorted type SETS (bounded by the type vocabulary —
    * collect_set partial-aggregates map-side, so the only corpus-sized
    * shuffle carries ≤|types| entries per container). Every downstream
    * quantity is then derived from that one frame with map-side HOFs:
    * unordered pairs explode from the sorted set (a < b by
    * construction — no self-join on the container key at all), singles
    * explode from the same sets, and the container total is a scalar
    * broadcast. The former c-keyed self-join paid the same exchange
    * THREE times (distinct + two join sides); this pays it once.
    */
  def cooccurrence(events: DataFrame, containerCols: Seq[Column],
                   typeCol: String): DataFrame = {
    // cached: the pair stream and the marginals both read the per-
    // container sets; one aggregation pass serves both.
    val sets = graft.CacheScope.cached(events
      .filter(col("user_id").isNotNull)
      .select(struct(containerCols: _*).as("c"), col(typeCol).as("t"))
      .groupBy(col("c")).agg(array_sort(collect_set(col("t"))).as("ts")))
    val pairs = sets.select(explode(expr(
      """flatten(transform(ts,
        |  (x, i) -> transform(slice(ts, i + 2, size(ts)),
        |            y -> struct(x as t_a, y as t_b))))""".stripMargin)).as("p"))
      .select(col("p.t_a"), col("p.t_b"))
      .groupBy(col("t_a"), col("t_b"))
      .agg(count(lit(1)).as("n_ab"))
    // ALL the marginals in ONE broadcast row. Containers are unique by
    // construction (they're the groupBy key above), so the per-type
    // container count is a plain explode + count — no distinct
    // aggregation — and the container total is a count over the cached
    // sets frame. Both branches read the cache, and the union feeds one
    // type→count map. "__all" is a sentinel key outside the event-type
    // vocabulary. (A cube+count_distinct formulation computed the same
    // row in one aggregation but paid an Expand x2 over the exploded
    // stream plus a distinct-agg hash of every (t, c) pair — measurably
    // slower than two skinny counts over the cache.)
    val srow = sets.select(explode(col("ts")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .unionByName(sets.agg(count(lit(1)).as("cnt"))
        .select(lit("__all").as("t"), col("cnt")))
      .agg(map_from_entries(collect_list(
        struct(col("t"), col("cnt")))).as("m"))
    pairs
      .crossJoin(broadcast(srow))
      .select(
        col("t_a"), col("t_b"), col("n_ab"),
        round(col("n_ab") * element_at(col("m"), lit("__all")) /
          (element_at(col("m"), col("t_a")) * element_at(col("m"), col("t_b"))), 4)
          .as("lift_r"))
  }

  /** Recency-decayed activity score per user — the feature-store
    * staple behind churn/engagement features: each event contributes
    * its value halved once per elapsed half-life relative to an
    * explicit anchor (deterministic — never wall-clock). The decay is
    * quantized to WHOLE half-lives (2^-floor(age/halflife)), which
    * keeps every weight an exact power of two in IEEE — bit-identical
    * across engines, where a smooth exp(-λ·age) differs in the last
    * ulp between libm implementations and flakes a hash compare.
    *
    * Shape: one map-side weight projection + one per-user aggregate
    * (map-side combinable) — a single |users|-row shuffle at any
    * scale.
    */
  def recencyScore(events: DataFrame, anchorUs: Long, halflifeDays: Double): DataFrame = {
    val ageDays = (lit(anchorUs) - col("ts_us")) / lit(86400e6)
    val w = col("value") / pow(lit(2.0), floor(ageDays / lit(halflifeDays)))
    // The per-user score folds in CANONICAL (event_id) order: plain
    // sum() accumulates doubles in partition-arrival order, so a score
    // landing exactly on the round(...,4) half-boundary can flip with
    // the input layout (observed once at sf0.1 when the base-table
    // spread changed arrival order by one ulp). Collect-sort-fold makes
    // the summation a pure function of the data — the same per-user
    // bounded-array contract as funnel/sessionize — and event_id order
    // equals file order, which is also how a single-threaded engine
    // (the DuckDB oracle) encounters the rows.
    events
      .filter(col("user_id").isNotNull && col("ts_us") <= anchorUs)
      .select(col("user_id"), col("ts_us"), col("event_id"), w.as("w"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("ts_us")).as("last_seen_us"),
        round(aggregate(
          array_sort(collect_list(struct(col("event_id"), col("w")))),
          // coalesce keeps sum() semantics on nullable values: a NULL
          // weight (NULL `value` upstream) is skipped, not allowed to
          // poison the whole user's fold to NULL
          lit(0.0), (acc, e) => acc + coalesce(e.getField("w"), lit(0.0))), 4)
          .as("recency_score_r"))
  }

  /** RFM segmentation — the classic customer-value grid (Hughes 1994;
    * the warehouse query a marketing/analytics stack runs weekly):
    * per user, Recency (days since last event at the anchor),
    * Frequency (event count), Monetary (value sum), each cut into
    * `nBands` equal-count bands (1 = best: most recent / most
    * frequent / highest value), composed into the "R-F-M" segment
    * label campaigns target ("1-1-1" = champions, "5-1-1" = at-risk
    * big spenders).
    *
    * Shape: ONE per-user aggregation (map-side combinable), then
    * three [[Relational.bandedNtile]] passes over the |users|-sized
    * frame — orders of magnitude smaller than the event stream, and
    * never through a partition-less window when |users| outgrows the
    * bounded-window gate (the banding repartitions by range and
    * offsets local ranks instead — exact, so band boundaries stay
    * engine-independent at any scale). Ties break on user_id so both
    * engines band identically.
    */
  /** The RFM per-user aggregate at an anchor — split out so a caller
    * can memoize its row count (|users|) and hand it back through
    * [[rfmSegments]]'s `knownUsers`, making repeat constructs
    * probe-job-free.
    */
  def rfmPerUser(events: DataFrame, anchorUs: Long): DataFrame =
    events
      .filter(col("user_id").isNotNull && col("ts_us") <= anchorUs)
      .groupBy(col("user_id"))
      .agg(
        floor((lit(anchorUs) - max(col("ts_us"))) / lit(86400e6)).cast("long")
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        round(sum(col("value")), 4).as("monetary_r"))

  def rfmSegments(events: DataFrame, anchorUs: Long, nBands: Int = 5,
                  knownUsers: Option[Long] = None): DataFrame = {
    // cached: each banding pass probes its input size and then bands —
    // without the cache the three chained passes would re-run the
    // event aggregation (and prior bandings) once per probe
    val perUser = graft.CacheScope.cached(rfmPerUser(events, anchorUs))
    // ONE size probe shared by the three band passes: banding is
    // row-preserving, so |users| measured once on the cached aggregate
    // serves every dimension (one probe job, not three)
    val nUsers = knownUsers.getOrElse(perUser.count())
    val banded = Seq(
      ("r_band", Seq(col("recency_days").asc, col("user_id").asc)),
      ("f_band", Seq(col("frequency").desc, col("user_id").asc)),
      ("m_band", Seq(col("monetary_r").desc, col("user_id").asc)))
      .foldLeft(perUser) { case (df, (out, keys)) =>
        Relational.bandedNtile(df, nBands, keys, out, knownSize = Some(nUsers))
      }
    banded.withColumn("segment",
      concat_ws("-", col("r_band"), col("f_band"), col("m_band")))
  }

  /** Two-proportion A/B z-test: users split into deterministic
    * buckets, "converted" = has ≥1 `convType` event; reports per-arm
    * counts/rates and the pooled two-proportion z statistic. One
    * per-user aggregation (map-side combinable booleans) feeding one
    * 2-row bucket aggregation folded to a single row with conditional
    * aggregates — the whole test is two shuffles of |users| then 2
    * rows, at any scale.
    */
  def abTest(events: DataFrame, convPredicate: Column): DataFrame = {
    val perUser = events
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(when(convPredicate, 1L).otherwise(0L)).as("conv"))
      .withColumn("bucket", when(col("user_id") % 2 === 0, "A").otherwise("B"))
    // coalesce: global aggregates over ZERO rows are NULL, and ANSI
    // division would then fault — an empty experiment reports zeros
    val cell = (b: String, c: Column) =>
      coalesce(sum(when(col("bucket") === b, c).otherwise(lit(0L))), lit(0L))
    val z = (col("rate_a") - col("rate_b")) /
      sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    perUser
      .agg(
        cell("A", lit(1L)).as("n_a"), cell("B", lit(1L)).as("n_b"),
        cell("A", col("conv")).as("conv_a"), cell("B", col("conv")).as("conv_b"))
      // every division sits behind a positivity guard: empty arms and
      // degenerate pools (0%/100% conversion — zero sampling variance)
      // yield NULL statistics, never an ANSI divide-by-zero fault
      .withColumn("rate_a", when(col("n_a") > 0, col("conv_a") / col("n_a")))
      .withColumn("rate_b", when(col("n_b") > 0, col("conv_b") / col("n_b")))
      .withColumn("p_pool", when(col("n_a") + col("n_b") > 0,
        (col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b"))))
      .select(
        col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        round(col("rate_a"), 4).as("rate_a_r"),
        round(col("rate_b"), 4).as("rate_b_r"),
        when(col("n_a") > 0 && col("n_b") > 0 &&
          col("p_pool") > 0 && col("p_pool") < 1, round(z, 4)).as("z_r"))
  }

  /** Day-of-week × hour-of-day activity profile with within-day
    * shares — the seasonality fingerprint behind load forecasting and
    * anomaly baselines. One aggregation to ≤168 cells; the share
    * window runs over those cells, not the events.
    */
  def seasonality(events: DataFrame, tsUsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = events
      .select(
        dayofweek(timestamp_micros(col(tsUsCol))).cast("long").as("dow"),
        hour(timestamp_micros(col(tsUsCol))).cast("long").as("hod"))
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n"))
    cells.withColumn("share_r",
      round(col("n") / sum(col("n")).over(Window.partitionBy(col("dow"))), 4))
  }

  /** JSON intake profiler: per top-level key, how many rows carry it,
    * its share of all rows, and the distinct-value count — the "what
    * is actually in this feed" report run before schema-ing a new
    * source. The parse is one codegen'd `from_json` to
    * map<string,string>; keys explode map-side; both aggregates are
    * key-keyed (vocabulary-sized shuffle). distinct-value counting at
    * 100 TB: swap count_distinct for approx_count_distinct.
    */
  def jsonKeyProfile(df: DataFrame, jsonCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Single pass: every input row contributes one NULL-keyed sentinel
    // entry (a JSON object key can never be null, so no real key can
    // collide) alongside its parsed entries, so the row total rides the
    // SAME key-keyed aggregate as the histogram instead of a second
    // scan + broadcast-scalar job. The total then fans back over a
    // partition-less window on the KEY-VOCABULARY frame (a handful of
    // rows -- never corpus-sized).
    val parsed = map_entries(coalesce(
      from_json(col(jsonCol), MapType(StringType, StringType)),
      map().cast(MapType(StringType, StringType))))
    val sentinel = array(struct(
      lit(null).cast(StringType).as("key"),
      lit(null).cast(StringType).as("value")))
    df
      .select(explode(concat(parsed, sentinel)).as("e"))
      .select(col("e.key").as("key"), col("e.value").as("val"))
      .groupBy(col("key"))
      .agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("val")).as("n_vals"))
      .withColumn("__total",
        max(when(col("key").isNull, col("n_rows"))).over(Window.partitionBy()))
      .filter(col("key").isNotNull)
      .select(col("key"), col("n_rows"), col("n_vals"),
        round(col("n_rows") / col("__total"), 4).as("share_r"))
  }

  /** Source-vs-sink reconciliation audit — the check every ETL run
    * should publish (the reference only counts inserted rows,
    * `/root/reference/extract_bq.py:177`; this is the table you'd
    * actually want). Both sides aggregate to per-day counts + value
    * sums FIRST, so the full-outer join touches |days| rows, never
    * facts — at 100 TB the audit costs two aggregation passes and a
    * join of two tiny tables.
    */
  def reconcile(source: DataFrame, sink: DataFrame, tsCol: String): DataFrame = {
    def daily(df: DataFrame, pfx: String): DataFrame = df
      .groupBy(date_format(timestamp_micros(col(tsCol)), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as(s"${pfx}_n"),
        round(sum(col("value")), 4).as(s"${pfx}_sum_r"))
    daily(source, "src").join(daily(sink, "dst"), Seq("day"), "full_outer")
      .select(
        col("day"),
        coalesce(col("src_n"), lit(0L)).as("src_n"),
        coalesce(col("dst_n"), lit(0L)).as("dst_n"),
        (coalesce(col("src_n"), lit(0L)) - coalesce(col("dst_n"), lit(0L))).as("missing_n"),
        coalesce(col("src_sum_r"), lit(0.0)).as("src_sum_r"),
        coalesce(col("dst_sum_r"), lit(0.0)).as("dst_sum_r"))
  }

  /** Daily ingest-volume anomaly detection: robust z-score of each
    * day's event count against the median/MAD of ALL days — the
    * pipeline-health alarm ([[reconcile]] finds rows lost between two
    * tables; this finds days where the FEED itself broke — a crawler
    * outage halves a day, a retry storm doubles it — with median/MAD
    * so the anomalous days themselves don't drag the baseline, which
    * is exactly what mean/stddev gets wrong on outage data). Zero-MAD
    * degenerates to NULL z (the [[Relational.madOutliers]] guard).
    *
    * Shape: the corpus collapses to |days| rows FIRST; the median/MAD
    * scalars then ride two partition-less windows over that DAY-COUNT
    * frame — bounded by the calendar (a century of days is 36 525
    * rows), never event-sized, so the single window task is free and
    * the whole operator is ONE job (the former shape built two
    * broadcast-scalar frames — two extra job launches to aggregate
    * ≤|days| rows each).
    */
  def dailyVolumeAnomalies(events: DataFrame, tsCol: String, k: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    val withMed = events
      .groupBy(date_format(timestamp_micros(col(tsCol)), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("med", expr("percentile(n, 0.5)").over(wAll))
      .withColumn("mad", expr("percentile(abs(n - med), 0.5)").over(wAll))
    withMed
      .select(
        col("day"), col("n"),
        round(col("med"), 4).as("med_r"),
        round(col("mad"), 4).as("mad_r"),
        when(col("mad") > 0,
          round((col("n") - col("med")) / (lit(1.4826) * col("mad")), 4))
          .as("robust_z_r"))
      .withColumn("anomaly",
        when(abs(col("robust_z_r")) > k, 1L).otherwise(0L))
  }
}
