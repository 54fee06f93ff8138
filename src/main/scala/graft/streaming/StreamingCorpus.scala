package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.ops.{Corpus, Dedup}

/** Continuous training-corpus intake: the streaming twins of the
  * corpus operators, each pinned by a spec equal to its batch operator
  * on the same rows. State is bounded by the watermark (hash- or
  * key-per-recent-doc, not the corpus), and each drain runs on
  * `Trigger.AvailableNow` (see [[Drain]]).
  */
object StreamingCorpus {

  /** Drains `stream`, persisting each micro-batch once and splitting it:
    * rows where `bad` is false append through `good` to `goodSink`, rows
    * where it is true through `quarantined` to `quarantineSink`.
    */
  private def route(
      stream: DataFrame,
      bad: Column,
      checkpointDir: String,
      goodSink: String,
      quarantineSink: String)(
      good: DataFrame => DataFrame,
      quarantined: DataFrame => DataFrame): StreamingQuery =
    Drain.foreachBatch(stream, checkpointDir) { batch =>
      val b = batch.persist()
      good(b.filter(!bad)).write.mode("append").parquet(goodSink)
      quarantined(b.filter(bad)).write.mode("append").parquet(quarantineSink)
      b.unpersist()
    }

  /** Streaming twin of `q_html_extract` — the crawl front door run
    * continuously: pages arrive as parquet files (doc_id, html), the
    * WHOLE extraction ([[graft.ops.Corpus.htmlExtract]] — script/style
    * strip, tag strip, entity decode, link-density gate, quarantine)
    * is a pure projection and therefore applies DIRECTLY to the
    * streaming frame; each micro-batch routes EXTRACTABLE rows — both
    * `status = 'ok'` AND `status = 'chrome'`, with the full extracted
    * text and the status column as the downstream filter — to the good
    * sink, and quarantined doc_ids to the quarantine sink ([[route]]).
    * Chrome pages are content-gate
    * FAILURES in the batch semantics; they ride the good sink because
    * their extraction is valid and some consumers re-gate at a
    * different link-density threshold — a consumer that wants only
    * gate-passed rows must filter `status = 'ok'`. Zero shuffles, zero streaming
    * state beyond the file-source log; per-byte cost identical at
    * 100 TB. HtmlExtractSpec pins streamed output ≡ batch row-for-row.
    */
  def htmlExtractStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      checkpointDir: String,
      goodSink: String,
      quarantineSink: String,
      linkDensityPct: Int = 30): StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(sourceDir)
    route(Corpus.htmlExtract(src, linkDensityPct, keepText = true),
        col("status") === "quarantined", checkpointDir, goodSink, quarantineSink)(
      identity, _.select(col("doc_id")))
  }

  /** The event-time keyed fold under every stateful stage below. Rows
    * group by `key`; a group's arrivals fold through `step` in `order`
    * (ts_us, then a unique id), from the stored state or `zero`, each
    * step emitting its rows. A timed-out group is removed and emits
    * nothing. A group whose key `keeps` state stores the folded state
    * and arms a timeout `lateness` past its newest arrival, clamped
    * strictly after the current watermark: a group fed only rows older
    * than the watermark would otherwise ask for a timeout in the past,
    * which `setTimeoutTimestamp` rejects. Other groups write no state
    * and no timer.
    */
  private[streaming] def keyedFold[V, K: Encoder, S: Encoder, U: Encoder](
      rows: Dataset[V], lateness: String)(
      key: V => K, order: V => (Long, Long), zero: S, keeps: K => Boolean = (_: K) => true)(
      step: (S, V) => (S, IterableOnce[U])): Dataset[U] =
    rows.groupByKey(key).flatMapGroupsWithState[S, U](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (k: K, newRows: Iterator[V], state: GroupState[S]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val arrivals = newRows.toSeq.sortBy(order)
          var folded = state.getOption.getOrElse(zero)
          val out = arrivals.flatMap { r =>
            val (next, emitted) = step(folded, r)
            folded = next
            emitted
          }
          if (keeps(k)) {
            state.update(folded)
            val newestMs = order(arrivals.last)._1 / 1000L
            state.setTimeoutTimestamp(
              math.max(newestMs, state.getCurrentWatermarkMs() + 1L), lateness)
          }
          out.iterator
        }
    }

  /** The crawl keeper's group key: a gate survivor claiming a canonical
    * races for it; every other page is its own `d:` singleton group.
    */
  private def canonicalKey(passes: Long, canonical: String, docId: Long): String =
    if (passes == 1L && canonical != null) "c:" + canonical else "d:" + docId

  private val contested: String => Boolean = !_.startsWith("d:")

  final case class PageArrival(doc_id: Long, ts_us: Long, status: String,
                               verdict: String, canonical: String, passes: Long,
                               __event_time: java.sql.Timestamp)
  final case class CrawlVerdict(doc_id: Long, ts_us: Long, status: String,
                                verdict: String, kept: Long)

  /** STREAMING publisher-hint (canonical) keeper — the continuous twin
    * of `q_crawl_pipeline`'s dedup half: arriving pages run the fused
    * front-door projection MAP-SIDE ([[graft.ops.Corpus.crawlGate]] —
    * a pure projection, so it applies directly to the stream), and the
    * keeper verdict is per-canonical FIRST-SEEN state: among
    * gate-survivors, the earliest arrival (ts_us, doc_id — feed in doc
    * order and verdicts coincide with the batch window's doc_id rank,
    * the [[segmentFirstSeen]] contract) per canonical keeps; survivors
    * without a canonical are their own keeper; gate-failed pages never
    * keep and never consume a keeper slot. Emits one verdict row per
    * page — the batch query's exact (status, verdict, kept) contract.
    *
    * State is ONE boolean per group inside the lateness horizon,
    * evicted by event-time timeout; groups use the batch query's
    * synthetic key (eligible rows by canonical, everyone else a
    * per-doc singleton), so state is bounded by the horizon's pages,
    * not the corpus — and at 100 TB the horizon state pairs with the
    * maintained batch canonical index exactly like
    * [[incrementalDedup]]'s corpus hash index.
    */
  def canonicalFirstSeen(
      pages: DataFrame,
      tsMicrosCol: String,
      linkDensityPct: Int = 30,
      lateness: String = "1 hour"): Dataset[CrawlVerdict] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val gated = Corpus.crawlGate(pages, linkDensityPct,
        carry = Seq(tsMicrosCol))
      .withColumn("passes",
        (col("status") === "ok" && col("verdict") === "index").cast("long"))
      .select(col("doc_id"), col(tsMicrosCol).as("ts_us"), col("status"),
        col("verdict"), col("canonical"), col("passes"),
        timestamp_micros(col(tsMicrosCol)).as("__event_time"))
      .withWatermark("__event_time", lateness)
      .as[PageArrival]
    keyedFold(gated, lateness)(
        p => canonicalKey(p.passes, p.canonical, p.doc_id), r => (r.ts_us, r.doc_id), false) {
      (seen, r) =>
        val kept = r.passes == 1L && !seen
        (seen || kept,
          Some(CrawlVerdict(r.doc_id, r.ts_us, r.status, r.verdict, if (kept) 1L else 0L)))
    }
  }

  final case class WcArr(doc_id: Long, ts_us: Long, status: String,
      verdict: String, text: String, n_toks: Option[Long], canonical: String,
      passes: Long, th: String, in_canon_idx: Boolean, in_text_idx: Boolean,
      __event_time: java.sql.Timestamp)
  final case class WcMid(doc_id: Long, ts_us: Long, status: String,
      verdict: String, text: String, n_toks: Option[Long], canonical: String,
      th: String, in_text_idx: Boolean, canon_dup: Boolean, alive1: Boolean,
      new_canon: Boolean, __event_time: java.sql.Timestamp)
  final case class WcStaged(doc_id: Long, ts_us: Long, status: String,
      verdict: String, text: String, n_toks: Option[Long], canonical: String,
      th: String, canon_dup: Boolean, text_dup: Boolean, alive2: Boolean,
      new_canon: Boolean, new_text: Boolean)

  /** Runs `body` with Spark's multi-stateful-operator analyzer guard
    * (`spark.sql.streaming.statefulOperator.checkCorrectness.enabled`)
    * disabled, restoring the session's prior value afterwards — the
    * scope [[webCorpusStreamCycle]] (whose chained append-mode stages
    * are proven safe in its scaladoc) builds and starts itself in,
    * without stripping the guard from every other streaming query the
    * session later builds. It wraps BOTH the plan construction and the
    * start: the analyzer consults the conf at query start. Once the
    * start returns, the running query is not re-checked, so restoring
    * immediately after is safe.
    */
  private def withChainedStatefulGuardDisabled[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The STREAMING end-to-end crawl capstone, and the full nightly
    * cycle as one continuous query: [[canonicalFirstSeen]]'s
    * canonical race CHAINED INTO [[incrementalDedup]]'s text-hash first-seen state in
    * ONE streaming query, probing the SAME materialized standing
    * indexes as the batch increment
    * ([[graft.ops.Corpus.webCorpusIncrementFrom]]), so every arriving
    * page gets the full per-doc stage verdict (quarantined / chrome /
    * noindex / canonical_dup / text_dup / low_quality / kept)
    * continuously.
    *
    * Stage by stage: (0) [[graft.ops.Corpus.crawlGate]] map-side +
    * BROADCAST stream-static left joins against the two skinny
    * standing indexes (`canonical`, `th` — zero streaming state);
    * (1) flatMapGroupsWithState keyed on the claimed canonical —
    * ONE boolean per canonical inside the lateness horizon, evicted by
    * event-time timeout; (2) a second append-mode
    * flatMapGroupsWithState keyed on md5(text) for canonical-stage
    * survivors — the same bounded first-seen state as
    * [[incrementalDedup]] (Spark supports chained stateful operators
    * when every one is in append mode, which both stages are);
    * (3) the Gopher gate rides map-side on the output. State is one
    * boolean per CONTESTED key inside the horizon — a claimed
    * canonical in stage 1, a canonical-survivor text hash in stage 2;
    * per-doc `d:` singleton groups (gate-failed, dead, no-canonical
    * rows in stage 1; non-survivors in stage 2) compute their verdicts
    * without ever consulting state, so the handlers write NO state and
    * register NO timer for them — the store never holds a
    * per-page entry. The standing corpus appears only as the broadcast
    * indexes.
    *
    * Law (WebCorpusStreamSpec): fed the batch increment's pages in
    * arrival order (ts_us, doc_id) ascending with doc order, the
    * streamed verdicts ≡ `webCorpusIncrementFrom(canonIdx, textIdx,
    * batch)` row for row, across arbitrary micro-batch splits — the
    * streaming twin of the increment ≡ union law.
    *
    * The streamed index write-back: besides its verdict (doc_id, ts_us,
    * stage, tok_cnt), each row carries `delta_canon` / `delta_text`,
    * non-NULL exactly on the row whose claim FIRST admitted that key
    * (stage 1 flags the arrival that takes a canonical's keeper slot against
    * standing index ∪ stream state; stage 2 flags the arrival whose
    * text hash first survives both) — so the keys with a non-NULL
    * delta column are precisely [[graft.ops.Corpus.webCorpusIndexDelta]]'s
    * append set: the batch form admits a canonical iff ANY gate
    * survivor claims it (rank-free) and a text hash iff any
    * canonical-stage survivor carries it, which is "a first such
    * arrival exists", and the standing anti-join is the broadcast
    * index probe both stages already consult. The sink routes verdict
    * columns to the verdict store and the non-NULL delta values to
    * the per-kind index appends — WebCorpusStreamSpec pins streamed
    * deltas ≡ batch deltas across micro-batch splits, day-2 junction
    * included. No new state: the claim flag rides the same boolean
    * the races already keep.
    *
    * On `statefulOperator.checkCorrectness`: Spark's analyzer cannot
    * see inside a flatMapGroupsWithState, so it conservatively rejects
    * any stateful operator downstream of one — the hazard it guards
    * against is a first stage that emits rows with event times BEHIND
    * the advanced watermark (e.g. on timeout), which the second stage
    * would then silently drop as late. This operator cannot produce
    * that hazard: stage 1 emits every row in the SAME micro-batch it
    * arrives, carrying its input's `__event_time` verbatim (timeouts
    * emit nothing), and watermarks only advance BETWEEN micro-batches
    * — so a row reaches stage 2 behind stage 2's watermark iff it
    * already reached stage 1 behind stage 1's, i.e. the chain's
    * lateness semantics are exactly a single stage's. The check is
    * session-wide, so this operator does NOT leave it off (a
    * permanent disable would silently strip the guard from every
    * OTHER streaming query later built on the session): it builds the
    * plan AND starts the query inside
    * [[withChainedStatefulGuardDisabled]], which restores the prior
    * session value the moment the query is running. The spec proves
    * the semantics across batch splits under exactly that scope.
    *
    * Drains the verdict rows into the parquet files under `sinkDir`
    * ([[Drain.toParquet]], checkpointed in `checkpointDir`) and returns
    * the started query.
    */
  def webCorpusStreamCycle(
      pages: DataFrame,
      tsMicrosCol: String,
      canonIdx: DataFrame,
      textIdx: DataFrame,
      sinkDir: String,
      checkpointDir: String,
      linkDensityPct: Int = 30,
      lateness: String = "1 hour"): StreamingQuery = {
    val spark = pages.sparkSession
    import spark.implicits._
    withChainedStatefulGuardDisabled(spark) {
      val gated = Corpus.crawlGate(pages, linkDensityPct, keepText = true,
          carry = Seq(tsMicrosCol))
        .withColumn("passes",
          (col("status") === "ok" && col("verdict") === "index").cast("long"))
        .withColumn("th", md5(col("text")))
        .join(broadcast(canonIdx.select(col("canonical"))
          .withColumn("__ic", lit(1L))), Seq("canonical"), "left")
        .join(broadcast(textIdx.select(col("th"))
          .withColumn("__it", lit(1L))), Seq("th"), "left")
        .select(col("doc_id"), col(tsMicrosCol).as("ts_us"), col("status"),
          col("verdict"), col("text"), col("n_toks"), col("canonical"),
          col("passes"), col("th"),
          col("__ic").isNotNull.as("in_canon_idx"),
          col("__it").isNotNull.as("in_text_idx"),
          timestamp_micros(col(tsMicrosCol)).as("__event_time"))
        .withWatermark("__event_time", lateness)
        .as[WcArr]
      // stage 1: canonical first-seen — a passing page with a canonical
      // claimed by the standing index OR by an earlier passing arrival
      // is a canonical_dup (the batch rn1 rule under arrival order)
      // `d:` groups hold only non-claiming rows, whose verdicts never
      // consult `seen` — persisting state + a timer for them would put one
      // entry per PAGE in the store for the whole horizon. Only contested
      // canonical keys keep state.
      val afterCanon = keyedFold(gated, lateness)(
          p => canonicalKey(p.passes, p.canonical, p.doc_id), r => (r.ts_us, r.doc_id), false,
          contested) {
        (seen, r) =>
          val claims = r.passes == 1L && r.canonical != null
          val dup = claims && (r.in_canon_idx || seen)
          // the arrival that takes the keeper slot is the one that ADMITS
          // the canonical into the index — the streamed write-back flag
          // (≡ the batch delta's rank-free "any gate survivor claims it,
          // not in standing")
          val admits = claims && !dup
          (seen || admits,
            Some(WcMid(r.doc_id, r.ts_us, r.status, r.verdict, r.text, r.n_toks,
              r.canonical, r.th, r.in_text_idx, canon_dup = dup,
              alive1 = r.passes == 1L && !dup, new_canon = admits, r.__event_time)))
      }
      // stage 2: text-hash first-seen over canonical-stage survivors —
      // the incrementalDedup state keyed on md5(text) (the batch rn2
      // rule; md5 equality stands in for text equality exactly as the
      // standing textIdx probe already does). The event-time column is
      // RE-MARKED: watermark metadata does not survive a
      // flatMapGroupsWithState, and the second stage's event-time
      // timeout needs its own watermark node (chained append-mode
      // stateful operators are supported; the re-mark is how the chain
      // declares its time column at each stage)
      // same state-free rule as stage 1: `d:` groups hold only
      // non-survivors (alive1 = false), whose verdicts never consult `seen`
      val afterText = keyedFold(afterCanon.withWatermark("__event_time", lateness), lateness)(
          p => if (p.alive1) "t:" + p.th else "d:" + p.doc_id, r => (r.ts_us, r.doc_id), false,
          contested) {
        (seen, r) =>
          val dup = r.alive1 && (r.in_text_idx || seen)
          val admits = r.alive1 && !dup
          (seen || admits,
            Some(WcStaged(r.doc_id, r.ts_us, r.status, r.verdict, r.text,
              r.n_toks, r.canonical, r.th, r.canon_dup, text_dup = dup,
              alive2 = r.alive1 && !dup, new_canon = r.new_canon, new_text = admits)))
      }
      // stage 3: the Gopher gate map-side + the batch increment's final
      // verdict projection, with the write-back columns riding along
      Drain.toParquet(Corpus.withGopher(afterText.toDF())
        .select(
          col("doc_id"), col("ts_us"),
          when(col("status") === "quarantined", lit("quarantined"))
            .when(col("status") === "chrome", lit("chrome"))
            .when(col("verdict") === "drop", lit("noindex"))
            .when(col("canon_dup"), lit("canonical_dup"))
            .when(col("text_dup"), lit("text_dup"))
            .when(coalesce(col("gopher_ok"), lit(0L)) =!= 1L, lit("low_quality"))
            .otherwise(lit("kept")).as("stage"),
          when(col("alive2") && coalesce(col("gopher_ok"), lit(0L)) === 1L,
            col("n_toks")).as("tok_cnt"),
          when(col("new_canon"), col("canonical")).as("delta_canon"),
          when(col("new_text"), col("th")).as("delta_text")), sinkDir, checkpointDir)
    }
  }

  /** Streaming twin of `q_quality_votes` — the ensemble gate run
    * continuously under a FROZEN median model (the deployment shape:
    * thresholds trained once on a reference corpus, every arriving doc
    * gated against them — the same train-once/serve-forever contract
    * as [[spmEncodeStream]]'s tokenizer): scoring is pure map-side
    * given the 4-double model, so each micro-batch runs the batch
    * operator verbatim ([[graft.ops.Text.qualityVotesFrom]]) with zero
    * cross-batch state. QualityVotesSpec pins streamed ≡ batch under
    * the same frozen medians.
    */
  def qualityVotesStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      checkpointDir: String,
      sinkDir: String,
      stopwords: Seq[String],
      medians: (Double, Double, Double, Double)): StreamingQuery = {
    Drain.foreachBatch(spark.readStream.schema(schema).parquet(sourceDir), checkpointDir) { batch =>
      graft.ops.Text.qualityVotesFrom(batch, stopwords, medians)
        .write.mode("append").parquet(sinkDir)
    }
  }

  /** Streaming twin of `q_spm_encode` — continuous tokenizer-encode
    * under a FROZEN trained model (the deployment shape: train once,
    * encode the stream): each micro-batch runs the batch operator
    * verbatim ([[graft.ops.Text.spmEncodeDocs]] — per-batch distinct
    * words, vocab-bounded DP, broadcast join, doc-keyed aggregate)
    * inside foreachBatch, because a document's encode depends only on
    * its own text + the static model — zero cross-batch state, and the
    * per-batch aggregate is complete since files carry whole docs.
    * SpmSpec pins streamed ≡ batch row-for-row.
    */
  def spmEncodeStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      checkpointDir: String,
      sinkDir: String,
      model: Seq[(String, Long)],
      maxPieceLen: Int): StreamingQuery = {
    Drain.foreachBatch(spark.readStream.schema(schema).parquet(sourceDir), checkpointDir) { batch =>
      graft.ops.Text.spmEncodeDocs(batch, model, maxPieceLen)
        .write.mode("append").parquet(sinkDir)
    }
  }

  final case class HashedDoc(doc_id: Long, ts_us: Long, h: String, in_corpus: Boolean,
                             __event_time: java.sql.Timestamp)
  final case class DocVerdict(doc_id: Long, ts_us: Long,
                              dup_of_corpus: Long, dup_in_stream: Long, keep: Long)

  /** STREAMING incremental dedup — the continuous twin of
    * [[graft.ops.Dedup.incrementalNewDocs]]: every arriving document
    * is checked against the standing corpus's content-hash index (a
    * STATIC stream-side broadcast/join — the corpus itself never
    * rescans) and against the stream's own recent history, and emits a
    * per-doc verdict row with the batch op's exact column contract
    * (`dup_of_corpus`, `dup_in_stream`, `keep`).
    *
    * The within-stream check is a per-content-hash
    * `flatMapGroupsWithState` whose state is ONE boolean per hash seen
    * inside the lateness horizon, evicted by event-time timeout — so
    * state tracks the horizon, not the corpus, exactly the
    * `dropDuplicatesWithinWatermark` bound but WITHOUT dropping rows:
    * an auditing pipeline wants the dup rows flagged, not vanished.
    * First arrival wins by (ts_us, doc_id) within a micro-batch — the
    * streaming analogue of the batch op's min-doc_id window.
    *
    * `corpusIndex` = [[graft.ops.Dedup.corpusHashIndex]] output (or
    * the maintained materialized index at scale) — a static frame with
    * column `h`.
    */
  def incrementalDedup(
      docs: DataFrame,
      corpusIndex: DataFrame,
      tsMicrosCol: String,
      lateness: String = "1 hour"): Dataset[DocVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashed = docs
      .select(col("doc_id"), col(tsMicrosCol).as("ts_us"),
        md5(col("text").cast("binary")).as("h"))
      .join(corpusIndex.select(col("h")).withColumn("__ic", lit(1L)), Seq("h"), "left")
      .withColumn("in_corpus", col("__ic").isNotNull)
      .withColumn("__event_time", timestamp_micros(col("ts_us")))
      .withWatermark("__event_time", lateness)
      .select(col("doc_id"), col("ts_us"), col("h"), col("in_corpus"), col("__event_time"))
      .as[HashedDoc]
    keyedFold(hashed, lateness)(_.h, r => (r.ts_us, r.doc_id), false) { (seen, r) =>
      (true, Some(DocVerdict(r.doc_id, r.ts_us,
        dup_of_corpus = if (r.in_corpus) 1L else 0L,
        dup_in_stream = if (seen) 1L else 0L,
        keep = if (!r.in_corpus && !seen) 1L else 0L)))
    }
  }

  final case class SegOcc(doc_id: Long, ts_us: Long, seg: String,
                          __event_time: java.sql.Timestamp)
  final case class SegSeen(doc_id: Long, ts_us: Long, seg: String, dup: Long)

  /** STREAMING segment-level first-seen dedup — the continuous twin of
    * [[graft.ops.Dedup.segmentDedup]]'s attribution core: arriving
    * documents explode into the same newline-split w-token segments as
    * the batch operator, and each occurrence is flagged dup = 1 iff an
    * identical segment was seen EARLIER in the stream (arrival order
    * (ts_us, doc_id) — the streaming analogue of the batch packed
    * (doc, line, chunk) key; feed arrivals in doc order and the
    * verdicts coincide, the [[incrementalDedup]] contract). Emits one
    * row per occurrence so the consumer can aggregate per-doc dup
    * fractions or rebuild trimmed text; rows are flagged, never
    * dropped.
    *
    * State is ONE boolean per segment value inside the lateness
    * horizon, evicted by event-time timeout — bounded by the horizon's
    * distinct segments, not the corpus. At 100 TB the horizon state
    * pairs with the maintained batch first-seen table exactly like
    * [[incrementalDedup]]'s corpus index.
    */
  def segmentFirstSeen(
      docs: DataFrame,
      tsMicrosCol: String,
      w: Int,
      lateness: String = "1 hour"): Dataset[SegSeen] = {
    require(w >= 1, "segment width must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val segs = docs
      .select(col("doc_id"), col(tsMicrosCol).as("ts_us"),
        explode(split(col("text"), "\n")).as("line"))
      .select(col("doc_id"), col("ts_us"), Dedup.tokens(col("line")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), col("ts_us"),
        explode(transform(
          sequence(lit(0), ((size(col("toks")) - 1) / w).cast("int")),
          i => array_join(slice(col("toks"), i * w + 1, lit(w)), " "))).as("seg"))
      .withColumn("__event_time", timestamp_micros(col("ts_us")))
      .withWatermark("__event_time", lateness)
      .as[SegOcc]
    keyedFold(segs, lateness)(_.seg, r => (r.ts_us, r.doc_id), false) { (seen, r) =>
      (true, Some(SegSeen(r.doc_id, r.ts_us, r.seg, if (seen) 1L else 0L)))
    }
  }

  final case class MediaBandRow(media_id: Long, ts_us: Long, band_i: Int,
      band_val: Long, bints: Seq[Long], __event_time: java.sql.Timestamp)
  final case class MediaBucket(ids: Seq[Long], bints: Seq[Seq[Long]])
  final case class MediaCandPair(a: Long, b: Long, band_i: Int, hamming: Long)

  /** STREAMING media near-duplicate pairs — the pHash twin of
    * [[lshCandidates]], completing the media tier's streaming story:
    * arriving images DECODE + aHash MAP-SIDE
    * ([[graft.ops.Multimodal.averageHashOne]] — the batch hash
    * verbatim, corrupt payloads quarantined right there), pack into
    * `bands` longs, band-explode, and bucket by (band index, band
    * value) in a `flatMapGroupsWithState` whose state carries each
    * bucket member's packed hash — so unlike the MinHash twin, the
    * TRUE hamming verify runs AT EMISSION (a bucket member's bints
    * are already in state; `bands` xor/bit_counts per candidate) and
    * the operator emits only VERIFIED pairs within `maxHamming`,
    * exactly the pairs the batch band self-join
    * ([[graft.ops.Multimodal.phashNearDupPairs]]) verifies. The same
    * pair may still surface from several bands — keyed-sink dedup
    * absorbs it, same contract as the batch operator's n_bands.
    *
    * State is BOUNDED: (id, bands·8 bytes) per ACTIVE bucket member
    * inside the lateness horizon, evicted by event-time timeout —
    * pixels never enter state, the horizon's hashes do.
    */
  def phashCandidates(
      media: DataFrame,
      tsMicrosCol: String,
      hashBits: Int = 64,
      bands: Int = 4,
      maxHamming: Int = 2,
      lateness: String = "1 hour"): Dataset[MediaCandPair] = {
    require(bands >= 1 && hashBits % bands == 0, "bands must divide hashBits")
    require(hashBits / bands <= 63, "band width must fit a signed long")
    require(maxHamming < bands,
      "banding only guarantees recall for hamming < bands (pigeonhole)")
    val spark = media.sparkSession
    import spark.implicits._
    val bl = hashBits / bands
    val banded = media
      .select(col("media_id"), col("bytes"),
        col(tsMicrosCol).as("ts_us"),
        timestamp_micros(col(tsMicrosCol)).as("__event_time"))
      .as[(Long, Array[Byte], Long, java.sql.Timestamp)]
      .flatMap { case (id, bytes, ts, et) =>
        val h = graft.ops.Multimodal.averageHashOne(
          graft.ops.Multimodal.MediaRow(id, "image", bytes,
            bytes.length.toLong, "ppm"))
        if (h.decoded != 1) Iterator.empty
        else {
          val bints: Seq[Long] = (0 until bands).map { b =>
            java.lang.Long.parseLong(h.ahash.substring(b * bl, (b + 1) * bl), 2)
          }
          bints.iterator.zipWithIndex.map { case (bv, bi) =>
            MediaBandRow(id, ts, bi, bv, bints, et)
          }
        }
      }
      .withWatermark("__event_time", lateness)
      .as[MediaBandRow]
    keyedFold(banded, lateness)(
        r => (r.band_i, r.band_val), r => (r.ts_us, r.media_id), MediaBucket(Nil, Nil)) {
      (bucket, r) =>
        if (bucket.ids.contains(r.media_id)) (bucket, Nil)
        else {
          val pairs = bucket.ids.iterator.zip(bucket.bints.iterator).flatMap { case (d, db) =>
            val ham = (0 until bands).map(i => java.lang.Long.bitCount(db(i) ^ r.bints(i)).toLong).sum
            if (ham <= maxHamming)
              Some(MediaCandPair(math.min(d, r.media_id), math.max(d, r.media_id), r.band_i, ham))
            else None
          }.toList
          (MediaBucket(bucket.ids :+ r.media_id, bucket.bints :+ r.bints), pairs)
        }
    }
  }

  final case class BandRow(doc_id: Long, ts_us: Long, band_id: Int, sig: String,
                           __event_time: java.sql.Timestamp)
  final case class BucketState(docIds: Seq[Long])
  final case class CandPair(a: Long, b: Long, band_id: Int)

  /** STREAMING near-duplicate candidates — the batch MinHash+LSH
    * candidate stage as a continuous operator. Each arriving document
    * gets its full MinHash signature MAP-SIDE
    * ([[Dedup.minhashSignatureExpr]] — identical arrays to the batch
    * form, no shuffle), bands explode map-side, and the only stateful
    * step is a per-(band, signature) bucket keyed by
    * `flatMapGroupsWithState`: a new arrival pairs with every document
    * already in its bucket (and earlier arrivals of the same batch) —
    * exactly the pairs the batch self-join would emit, but
    * incrementally.
    *
    * State is BOUNDED: one doc_id list per ACTIVE bucket, evicted by
    * event-time timeout once the watermark passes `lateness` — so
    * state covers the dedup horizon, not the corpus. Candidates still
    * need exact verification downstream (same contract as the batch
    * `minhashLshCandidates`); the same pair may surface from several
    * bands — dedup at the consumer (a keyed idempotent sink absorbs
    * it for free).
    */
  def lshCandidates(
      docs: DataFrame,
      tsMicrosCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      lateness: String = "1 hour"): Dataset[CandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = numHashes / bands
    val banded = docs
      .select(col("doc_id"), col(tsMicrosCol).as("ts_us"),
        Dedup.minhashSignatureExpr(col("text"), numHashes).as("mh"))
      .select(col("doc_id"), col("ts_us"), explode(expr(
        s"""transform(sequence(0, ${bands - 1}),
           |  b -> struct(cast(b as int) as band_id,
           |              array_join(transform(slice(mh, b * $rows + 1, $rows),
           |                                   x -> cast(x as string)), ',') as sig))""".stripMargin))
        .as("band"))
      .select(col("doc_id"), col("ts_us"), col("band.band_id"), col("band.sig"))
      .withColumn("__event_time", timestamp_micros(col("ts_us")))
      .withWatermark("__event_time", lateness)
      // the watermarked column must REACH the stateful operator —
      // projecting it away disables event-time timeout
      .as[BandRow]
    keyedFold(banded, lateness)(
        r => (r.band_id, r.sig), r => (r.ts_us, r.doc_id), BucketState(Vector.empty)) {
      (bucket, r) =>
        if (bucket.docIds.contains(r.doc_id)) (bucket, Nil)
        else (BucketState(bucket.docIds :+ r.doc_id),
          bucket.docIds.map(d => CandPair(math.min(d, r.doc_id), math.max(d, r.doc_id), r.band_id)))
    }
  }
}
