package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType
import graft.ops.Sketches

/** Streaming aggregation surfaces (SURVEY §2.10): watermarked tumbling
  * windows with append-mode finalization, and custom keyed state via
  * flatMapGroupsWithState (gap-based sessionization — the streaming
  * twin of the batch `q_sessionize` query).
  */
object StreamingAggregates {

  /** Tumbling-window counts per event type. Append mode: a window's
    * row is emitted exactly once, when the watermark passes its end —
    * at scale the state store holds only open windows per shard.
    */
  def hourlyCounts(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      checkpointDir: String,
      sinkDir: String,
      lateness: String = "1 hour"): StreamingQuery =
    slidingCounts(spark, sourceDir, schema, tsMicrosCol, checkpointDir, sinkDir,
      "1 hour", "1 hour", lateness)

  /** Streaming HyperLogLog registers: approximate distinct keys per
    * tumbling window and group with FIXED state — m = 64 register
    * maxima per (window, group) instead of the unbounded distinct-key
    * set an exact streaming countDistinct would hold (the reason HLL
    * is THE streaming distinct answer at scale). Register update is a
    * plain MAX aggregate (monotone, map-side combinable), so the
    * watermarked append-mode window finalizes registers like any other
    * aggregate; registers are the batch operators' own
    * ([[graft.ops.Sketches.hllRegister]]), the sink holds (window,
    * group, idx, mj) rows and the serving layer projects estimates
    * with the batch α / linear-counting math — StreamingAggSpec pins that the projected
    * estimate equals [[graft.ops.Sketches.hllDistinct]] EXACTLY on the
    * same data (identical registers ⇒ identical estimate, not merely
    * within error).
    */
  def hllRegisters(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      groupCol: String,
      keyCol: String,
      checkpointDir: String,
      sinkDir: String,
      lateness: String = "1 hour"): StreamingQuery = {
    val (idx, rho) = Sketches.hllRegister(col(keyCol).cast("string"))
    Drain.toParquet(
      Drain.watermarked(spark, sourceDir, schema, tsMicrosCol, lateness,
          col(groupCol).isNotNull && col(keyCol).isNotNull)
        .groupBy(window(col("__event_time"), "1 hour"), col(groupCol), idx.as("idx"))
        .agg(max(rho).as("mj"))
        .select(col("window.start").as("win_start"), col(groupCol),
          col("idx"), col("mj")),
      sinkDir, checkpointDir)
  }

  /** Streaming count-min counters per tumbling window — the frequency
    * twin of [[hllRegisters]]: d×w counter SUMS maintained as a plain
    * windowed aggregate (each event lands in its d buckets via the
    * exploded hash-row index), so state is d·w rows per window
    * REGARDLESS of key cardinality. The sink holds finalized
    * (win_start, j, b, c) counters; the serving layer answers a
    * point-frequency query as min over the key's d counters — the spec
    * pins that projection EXACTLY equal to the batch
    * [[graft.ops.Sketches.cmsHeavyHitters]] estimate on the same rows
    * (identical counters ⇒ identical estimates).
    */
  def cmsCounters(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      keyCol: String,
      checkpointDir: String,
      sinkDir: String,
      d: Int = 4,
      w: Int = 64,
      lateness: String = "1 hour"): StreamingQuery =
    Drain.toParquet(
      Drain.watermarked(spark, sourceDir, schema, tsMicrosCol, lateness, col(keyCol).isNotNull)
        .select(col("__event_time"), col(keyCol).cast("string").as("k"),
          explode(sequence(lit(0), lit(d - 1))).as("j"))
        .withColumn("b", Sketches.hashSlot(col("j"), col("k"), w))
        .groupBy(window(col("__event_time"), "1 hour"), col("j"), col("b"))
        .agg(count(lit(1)).as("c"))
        .select(col("window.start").as("win_start"), col("j"), col("b"), col("c")),
      sinkDir, checkpointDir)

  /** Streaming Bloom bit-set per tumbling window — the membership twin
    * of [[hllRegisters]]/[[cmsCounters]], completing the mergeable-
    * sketch family: each key sets k bit positions (independent md5
    * digests over "i|key", the batch operator's hash family) and the
    * window's filter is the DISTINCT (window, pos) set — a plain
    * watermarked aggregate whose state is ≤ m rows per window
    * REGARDLESS of key cardinality (the Bloom contract). The sink
    * holds finalized (win_start, pos, n_keys) rows; the serving layer
    * answers "maybe seen in window W?" by checking all k of a probe
    * key's positions are present — the spec pins that projection
    * EXACTLY equal to [[graft.ops.Sketches.bloomDedupFlags]]'
    * maybe_seen on the same rows (identical bits ⇒ identical
    * verdicts, including the no-false-negative property).
    */
  def bloomBitsStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      keyCol: String,
      checkpointDir: String,
      sinkDir: String,
      m: Int,
      k: Int = 3,
      lateness: String = "1 hour"): StreamingQuery =
    Drain.toParquet(
      Drain.watermarked(spark, sourceDir, schema, tsMicrosCol, lateness, col(keyCol).isNotNull)
        .select(col("__event_time"), col(keyCol).cast("string").as("bk"),
          explode(sequence(lit(0), lit(k - 1))).as("i"))
        .withColumn("pos", Sketches.hashSlot(col("i"), col("bk"), m))
        .groupBy(window(col("__event_time"), "1 hour"), col("pos"))
        .agg(count(lit(1)).as("n_keys"))
        .select(col("window.start").as("win_start"), col("pos"), col("n_keys")),
      sinkDir, checkpointDir)

  /** Streaming HDR-histogram buckets per tumbling window — the
    * quantile twin completing the sketch family: values quantize to
    * cents and bucket through [[graft.ops.Sketches.hdrBucketed]], the
    * batch [[graft.ops.Sketches.hdrQuantiles]]' own bucketing, maintained as a plain
    * watermarked (window, group, bucket) count — bounded at ~8·64
    * rows per (window, group) at ANY value cardinality. The sink
    * holds finalized (win_start, group, bucket, c, rep) rows; the
    * serving layer reads quantile q as the first bucket whose
    * cumulative count reaches ceil(q·n) — the spec pins that
    * projection EXACTLY equal to the batch operator's estimates on
    * the same rows (identical buckets ⇒ identical quantiles).
    */
  def hdrBuckets(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      groupCol: String,
      valueCol: String,
      checkpointDir: String,
      sinkDir: String,
      lateness: String = "1 hour"): StreamingQuery =
    Drain.toParquet(
      Drain.watermarked(spark, sourceDir, schema, tsMicrosCol, lateness,
          col(groupCol).isNotNull && col(valueCol).isNotNull && col(valueCol) >= 0)
        .select(col("__event_time"), col(groupCol).as("g"),
          floor(col(valueCol) * 100).cast("long").as("vc"))
        .transform(Sketches.hdrBucketed)
        .groupBy(window(col("__event_time"), "1 hour"), col("g"), col("bucket"))
        .agg(count(lit(1)).as("c"), max(col("rep")).as("rep"))
        .select(col("window.start").as("win_start"), col("g"),
          col("bucket"), col("c"), col("rep")),
      sinkDir, checkpointDir)

  /** Streaming DSIR bucket histogram — the model-fitting half of
    * [[graft.ops.Text.dsirWeights]] as a watermarked tumbling-window
    * aggregate: per window, hashed uni+bigram counts over the whole
    * stream (`sc`) and its target slice (`tc`). The gram and bucket
    * expressions are SHARED with the batch scorer (Text.dsirGrams /
    * dsirBucket), so the feature definition cannot drift between
    * surfaces; state per window is ≤ `buckets` rows REGARDLESS of
    * corpus size (the fixed-state sketch contract), and histograms
    * MERGE by adding counts — StreamingDsirSpec folds the windowed
    * sink across windows, serves weights from the merged ratio table,
    * and pins them row-identical to the batch operator on the same
    * docs. This is how a production selector keeps its importance
    * model current: the stream maintains the histograms; scoring
    * stays a map-side broadcast join against 2·buckets longs.
    */
  def dsirHistogram(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      textCol: String,
      targetPred: Column,
      checkpointDir: String,
      sinkDir: String,
      buckets: Int = 256,
      windowLen: String = "1 hour",
      lateness: String = "1 hour"): StreamingQuery =
    Drain.toParquet(
      Drain.watermarked(spark, sourceDir, schema, tsMicrosCol, lateness)
        // null text coalesces to zero grams AFTER the watermark node, so
        // a bare tick row still advances the watermark (filtering it
        // upstream would stall window finalization)
        .select(col("__event_time"), targetPred.as("tgt"),
          explode(graft.ops.Text.dsirGrams(
            graft.ops.Dedup.tokens(coalesce(col(textCol), lit(""))))).as("gram"))
        .withColumn("bucket", graft.ops.Text.dsirBucket(col("gram"), buckets))
        .groupBy(window(col("__event_time"), windowLen), col("bucket"))
        .agg(count(lit(1)).as("sc"), count(when(col("tgt"), lit(1))).as("tc"))
        .select(col("window.start").as("win_start"), col("bucket"),
          col("sc"), col("tc")),
      sinkDir, checkpointDir)

  /** Sliding-window counts: each event lands in `windowLen/slide`
    * overlapping windows (window() emits one row per covered window —
    * a bounded, declared expansion). Append-mode finalization as with
    * tumbling; state = open windows per shard, which at scale is
    * windowLen/slide times the tumbling footprint — the documented
    * cost of smoother trend curves.
    */
  def slidingCounts(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsMicrosCol: String,
      checkpointDir: String,
      sinkDir: String,
      windowLen: String = "1 hour",
      slide: String = "30 minutes",
      lateness: String = "1 hour"): StreamingQuery =
    Drain.toParquet(
      Drain.watermarked(spark, sourceDir, schema, tsMicrosCol, lateness)
        .groupBy(window(col("__event_time"), windowLen, slide), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n")),
      sinkDir, checkpointDir)

  final case class TouchInput(event_id: Long, user_id: Long, ts_us: Long, event_type: String)
  final case class TouchState(lastTouchUs: Long)
  final case class TouchOut(event_id: Long, user_id: Long, ts_us: Long,
                            last_touch_ts: Option[Long], gap_us: Option[Long])

  /** Streaming last-touch attribution — the streaming twin of
    * `EventOps.lastTouchAttribution`: each `convType` event is
    * attributed to the user's most recent strictly-preceding
    * `touchType` event. State per user is ONE long (the latest touch
    * time), evicted by event-time timeout after `idleUs` of silence —
    * bounded regardless of stream length.
    *
    * Within a micro-batch, rows fold in (ts_us, event_id) order, so a
    * single-batch run (Trigger.AvailableNow) reproduces the batch
    * operator exactly. Across batches the usual streaming caveat
    * applies: a touch that arrives AFTER its conversion's batch cannot
    * retro-attribute — the conversion row was already emitted
    * (append-mode results are immutable); the watermark/timeout bound
    * how long such disorder can matter.
    */
  def attribute(
      events: Dataset[TouchInput],
      touchType: String,
      convType: String,
      idleUs: Long,
      lateness: String = "1 hour"): Dataset[TouchOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("__event_time", timestamp_micros(col("ts_us")))
      .withWatermark("__event_time", lateness)
      .as[TouchInput]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, TouchOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[TouchInput], state: GroupState[TouchState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // a touch whose timeout is already behind the watermark is
            // evicted: it is what a no-data batch firing the timeout
            // would have removed, and re-arming it would fault the stream
            val wm = state.getCurrentWatermarkMs()
            def live(t: Long) = (t + idleUs) / 1000L >= wm
            val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var last = state.getOption.map(_.lastTouchUs).filter(live)
            val out = Seq.newBuilder[TouchOut]
            sorted.foreach { e =>
              if (e.event_type == convType)
                out += TouchOut(e.event_id, user, e.ts_us, last, last.map(e.ts_us - _))
              // touch AFTER conversion at the same fold position never
              // attributes to it (strictly-preceding), so update second
              if (e.event_type == touchType) last = Some(e.ts_us)
            }
            last.filter(live) match {
              case Some(t) =>
                state.update(TouchState(t))
                state.setTimeoutTimestamp((t + idleUs) / 1000L)
              case None => state.remove()
            }
            out.result().iterator
          }
      }
  }

  final case class DecayInput(event_id: Long, user_id: Long, ts_us: Long, value: Double)
  final case class DecayState(lastUs: Long, score: Double, nEvents: Long)
  final case class DecayOut(user_id: Long, ts_us: Long, n_events: Long, score: Double)

  /** Streaming recency-decayed activity — the continuous twin of
    * `EventOps.recencyScore` in its SMOOTH form: per user, state is
    * (last event time, score at that time, event count), and each
    * arrival first decays the stored score by 2^(-Δt/halflife) before
    * adding its value. The exponential's self-similarity makes the
    * incremental fold equal the batch sum Σ value·2^(-(t_now-t_i)/h)
    * up to float associativity (spec-checked at 1e-9 relative) — the
    * standard trick that lets a feature store keep ONE row of state
    * per user instead of an event history. Emits the running score at
    * each arrival; project the latest per user downstream. State is
    * three fields per user, evicted after `idleUs` of event-time
    * silence (a user who returns later restarts from zero — by then
    * the decayed score is below any actionable threshold, which is
    * exactly why the timeout is safe).
    *
    * The BATCH q_recency_score uses whole-half-life quantization for
    * cross-engine oracle exactness; this streaming form uses the
    * smooth decay because incremental-decay(quantized) ≠
    * quantized(batch) — floor of differences is not the difference of
    * floors. The spec pins this form against its own smooth batch
    * reference.
    */
  def recencyScores(
      events: Dataset[DecayInput],
      halflifeDays: Double,
      idleUs: Long,
      lateness: String = "1 hour"): Dataset[DecayOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val halflifeUs = halflifeDays * 86400e6
    events
      .withColumn("__event_time", timestamp_micros(col("ts_us")))
      .withWatermark("__event_time", lateness)
      .as[DecayInput]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DecayState, DecayOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[DecayInput], state: GroupState[DecayState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // state whose timeout is already behind the watermark is
            // dropped, as the timeout would have dropped it (see attribute)
            val wm = state.getCurrentWatermarkMs()
            def live(st: DecayState) = (st.lastUs + idleUs) / 1000L >= wm
            val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var st = state.getOption.filter(live).getOrElse(DecayState(Long.MinValue, 0.0, 0L))
            val out = Seq.newBuilder[DecayOut]
            sorted.foreach { e =>
              val decayed =
                if (st.nEvents == 0L) 0.0
                else st.score * math.pow(2.0, -(e.ts_us - st.lastUs) / halflifeUs)
              st = DecayState(e.ts_us, decayed + e.value, st.nEvents + 1L)
              out += DecayOut(user, e.ts_us, st.nEvents, st.score)
            }
            if (live(st)) {
              state.update(st)
              state.setTimeoutTimestamp((st.lastUs + idleUs) / 1000L)
            } else state.remove()
            out.result().iterator
          }
      }
  }

  final case class SessionInput(user_id: Long, ts_us: Long)
  final case class SessionState(startUs: Long, lastUs: Long, nEvents: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Custom keyed state: close a user's session after `gapUs` of
    * silence (event-time), emit one row per closed session. State per
    * key is three longs — bounded, sharded by user across executors.
    * Timeout is event-time based so replays/restarts are deterministic
    * with the watermark.
    */
  def sessionize(
      events: Dataset[SessionInput],
      gapUs: Long,
      lateness: String = "1 hour"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("__event_time", timestamp_micros(col("ts_us")))
      .withWatermark("__event_time", lateness)
      .as[SessionInput]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.startUs, s.lastUs, s.nEvents))
          } else {
            // a session whose close time is already behind the watermark
            // is emitted as closed, as its timeout would have emitted it
            val wm = state.getCurrentWatermarkMs()
            def open(s: SessionState) = (s.lastUs + gapUs) / 1000L >= wm
            def out(s: SessionState) = SessionOut(user, s.startUs, s.lastUs, s.nEvents)
            val sorted = rows.toSeq.sortBy(_.ts_us)
            var closed = state.getOption.filterNot(open).map(out).toList
            var cur = state.getOption.filter(open)
            sorted.foreach { e =>
              cur = cur match {
                case Some(s) if e.ts_us - s.lastUs <= gapUs =>
                  Some(SessionState(s.startUs, e.ts_us, s.nEvents + 1))
                case Some(s) =>
                  closed ::= out(s)
                  Some(SessionState(e.ts_us, e.ts_us, 1))
                case None =>
                  Some(SessionState(e.ts_us, e.ts_us, 1))
              }
            }
            cur match {
              case Some(s) if open(s) =>
                state.update(s)
                // close the open session once the watermark passes last+gap
                state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000L)
              case last =>
                closed = last.map(out).toList ++ closed
                state.remove()
            }
            closed.reverseIterator
          }
      }
  }

  /** Watermarked STREAM-STREAM interval join — the last §2.10 join
    * form ([[enrich]] covers stream-static): left events match right
    * events of the same user whose event time lands in
    * [left, left + maxGap]. Both sides are watermarked and the join
    * condition bounds BOTH event times, which is exactly what lets the
    * state store evict: a buffered left row can stop waiting once the
    * right watermark passes left + maxGap + lateness, so state is
    * bounded by (arrival rate × window), never by stream length. The
    * spec pins the result row-for-row equal to the batch interval join
    * on the same data (single AvailableNow batch ⇒ no cross-batch
    * disorder caveat to carry).
    */
  def streamStreamJoin(
      spark: SparkSession,
      leftDir: String,
      rightDir: String,
      schema: StructType,
      maxGap: String,
      checkpointDir: String,
      sinkDir: String,
      lateness: String = "1 hour"): StreamingQuery = {
    val l = spark.readStream.schema(schema).parquet(leftDir)
      .select(col("event_id").as("l_id"), col("user_id").as("l_user"),
        col("ts_us").as("l_ts"))
      .withColumn("l_time", timestamp_micros(col("l_ts")))
      .withWatermark("l_time", lateness)
    val r = spark.readStream.schema(schema).parquet(rightDir)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts_us").as("r_ts"))
      .withColumn("r_time", timestamp_micros(col("r_ts")))
      .withWatermark("r_time", lateness)
    Drain.toParquet(
      l.join(r,
          col("l_user") === col("r_user") &&
            expr(s"r_time BETWEEN l_time AND l_time + INTERVAL $maxGap"))
        .select(col("l_user").as("user_id"), col("l_id"), col("r_id"),
          (col("r_ts") - col("l_ts")).as("gap_us")),
      sinkDir, checkpointDir)
  }

  /** Stream-static enrichment: each micro-batch of the event stream
    * joins the (small) static dimension — the lookup-table pattern
    * (user→segment, SKU→category). The dimension is broadcast, so the
    * streaming side keeps its partitioning and NO join state is kept:
    * unlike a stream-stream join, a static side needs no watermark —
    * every batch sees the full table. At 100 TB of stream throughput
    * this stays a map-side join; if the dimension outgrows broadcast,
    * pre-bucket both sides and drop the hint.
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  final case class ThetaInput(g: String, k: String)
  final case class ThetaState(hs: Seq[Long])
  final case class ThetaOut(g: String, hs: Seq[Long], n_sk: Long,
                            theta: Double, est: Double)

  /** Streaming Theta/KMV sketch — the set-algebra twin completing the
    * streaming sketch family next to [[hllRegisters]], [[cmsCounters]],
    * [[bloomBitsStream]] and [[hdrBuckets]]: per group, state is the
    * bottom-`k` DISTINCT key hashes (the same md5-prefix h32 as the
    * batch [[graft.ops.Sketches.thetaSetOps]], computed bit-identically
    * in the fold), merged per micro-batch by
    * sort-distinct-take(k) — KMV's mergeability, the reason the sketch
    * streams at all. State is HARD-bounded at k longs per group at any
    * stream length; each update emits the group's current sketch,
    * θ, and distinct-count estimate ((k−1)/θ in sampling mode, exact
    * size below k). Downstream set algebra (union/intersect/difference
    * across groups or across windows) runs on the emitted sketch rows
    * exactly as the batch operator's pair stage does —
    * StreamingThetaSpec pins the streamed state bit-identical to the
    * batch bottom-k on the same rows, including across multiple
    * micro-batches.
    */
  def thetaSketchStream(rows: Dataset[ThetaInput], k: Int = 64): Dataset[ThetaOut] = {
    require(k >= 2, "theta sketch needs k >= 2")
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .filter(r => r.g != null && r.k != null)
      .groupByKey(_.g)
      .flatMapGroupsWithState[ThetaState, ThetaOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[ThetaInput], state: GroupState[ThetaState]) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          def h32(s: String): Long = java.lang.Long.parseLong(
            md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8), 16)
          val prev = state.getOption.map(_.hs).getOrElse(Seq.empty[Long])
          val merged = (prev ++ it.map(r => h32(r.k)))
            .distinct.sorted.take(k).toVector
          state.update(ThetaState(merged))
          val nSk = merged.size.toLong
          val theta = if (nSk < k) 1.0 else merged.last.toDouble / 4294967296.0
          val below = if (nSk < k) nSk.toDouble else (k - 1).toDouble
          Iterator.single(ThetaOut(g, merged, nSk, theta, below / theta))
      }
  }
}
