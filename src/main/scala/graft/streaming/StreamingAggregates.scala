package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType
import graft.ops.Sketches

/** Streaming aggregation twins (SURVEY §2.10), each pinned by a spec
  * equal to its batch operator on the same rows: the sketch registers,
  * counters, bits and buckets as watermarked tumbling windows with
  * append-mode finalization, and last-touch attribution as custom keyed
  * state via flatMapGroupsWithState.
  */
object StreamingAggregates {

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
}
