package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Corpus
import graft.streaming.StreamingCorpus

/** The streaming end-to-end crawl capstone: two chained append-mode
  * flatMapGroupsWithState stages (canonical race → text-hash race)
  * probing the materialized standing indexes must assign the SAME
  * per-doc stage verdicts as the batch increment
  * ([[graft.ops.Corpus.webCorpusIncrementFrom]]) when pages arrive in
  * doc order — across micro-batch splits that straddle both an
  * in-batch canonical group and the in-batch same-text pair, so both
  * states are proven to persist across batch boundaries.
  */
class WebCorpusStreamSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("html", StringType),
    StructField("ts_us", LongType)))

  test("streamed capstone verdicts ≡ batch increment verdicts across " +
      "micro-batch splits") {
    val dir = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("graft-wc-stream").toString
    val (src, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    val t0 = 1700000000000000L

    // the SAME standing indexes and planted batch as the declared
    // store-fed query (one definition — EntrySupport)
    val (canonIdx, textIdx) = EntrySupport.wcIndexes(spark, dir)
    import spark.implicits._
    // the declared store-fed batch, plus three hazard pages so every
    // verdict class flows through the streaming junction too
    val batch = EntrySupport.wcBatchPages(spark, dir, copyMod = 3, freshMod = 0)
      .unionByName(Seq(
        (7500000L, "<html><head><title>h1</title></head><body>" +
          "<script>var broken = [<p>x</p></body></html>"),
        (7500001L, "<html><head><title>h2</title>" +
          "<meta name=\"robots\" content=\"noindex\"></head><body>" +
          "<script>t()</script><p>some fine prose here</p></body></html>"),
        (7500002L, "<html><head><title>h3</title></head><body>" +
          "<script>t()</script><p>tiny words</p></body></html>"))
        .toDF("doc_id", "html"))
    val feed = batch.withColumn("ts_us", lit(t0) + col("doc_id"))

    // the cycle builds and starts under its SCOPED guard disable; the
    // session's prior value must be back the moment it returns
    val guardKey =
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    def run(): Unit = {
      val q = StreamingCorpus.webCorpusStreamCycle(
        spark.readStream.schema(schema).parquet(src), "ts_us",
        canonIdx, textIdx, sink, ckpt)
      assert(spark.conf.get(guardKey) === "true",
        "the guard must be restored session-wide once the query is running")
      q.awaitTermination()
    }
    // three arrival waves: the split at 5.5M lands inside the
    // impersonating-copy range (canonical groups straddle), and the
    // split between 7000000 and 7000001 forces the in-batch same-text
    // pair's keeper slot to survive in state across runs
    feed.filter(col("doc_id") < 5500000L)
      .coalesce(1).write.mode("append").parquet(src)
    run()
    feed.filter(col("doc_id") >= 5500000L && col("doc_id") <= 7000000L)
      .coalesce(1).write.mode("append").parquet(src)
    run()
    feed.filter(col("doc_id") > 7000000L)
      .coalesce(1).write.mode("append").parquet(src)
    run()

    val streamed = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("stage"), Option(r.getAs[Any]("tok_cnt")))).toMap

    val batchRef = Corpus.webCorpusIncrementFrom(canonIdx, textIdx, batch)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("stage"), Option(r.getAs[Any]("tok_cnt")))).toMap

    assert(streamed.size === batchRef.size)
    assert(streamed === batchRef)
    // every verdict class the law covers actually occurred, including
    // the two cross-batch races
    val stages = batchRef.values.map(_._1).toSet
    assert(Set("canonical_dup", "text_dup", "kept", "noindex",
      "quarantined", "low_quality").subsetOf(stages), s"got $stages")
    assert(streamed(7000001L)._1 === "text_dup",
      "the pair's second member arrived in a LATER micro-batch and must " +
        "still lose the text race to the stored keeper slot")

    // the STREAMED WRITE-BACK (r16 verdict #5): the keys flagged by
    // first-claim arrivals across all three waves must be exactly the
    // batch webCorpusIndexDelta's append set — the nightly cycle's
    // second half, continuous
    val sunk = spark.read.parquet(sink)
    val streamedDeltas =
      sunk.filter(col("delta_canon").isNotNull)
        .select(lit("canon").as("kind"), col("delta_canon").as("key"))
        .unionByName(sunk.filter(col("delta_text").isNotNull)
          .select(lit("text").as("kind"), col("delta_text").as("key")))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val batchDeltas = Corpus.webCorpusIndexDelta(canonIdx, textIdx, batch)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamedDeltas === batchDeltas,
      "streamed first-claim deltas must equal the batch write-back set")
    // this planted batch adds text keys only (its canonicals are all
    // standing-claimed); the canon-delta side is exercised by the
    // day-2 test's planted fresh canonical
    assert(batchDeltas.nonEmpty && batchDeltas.forall(_._1 == "text"))
  }

  test("the nightly cycle turns twice: wave-2 probes the DELTA-APPENDED " +
      "store — recrawls of wave-1 pages dup, wave-1 canonicals are " +
      "claimed, and none of that holds without the write-back") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("graft-wc-cycle").toString
    val t0 = 1710000000000000L

    // day 0 store + day-1 batch (the declared q_web_corpus_store pair)
    val (ci0, ti0) = EntrySupport.wcIndexes(spark, dir)
    val w1prose = (1 to 12).map(i => s"w1c$i").mkString(" ")
    // the declared batch plus one page planting a FRESH canonical —
    // the key the day-2 claimer will contest
    val wave1 = EntrySupport.wcBatchPages(spark, dir, copyMod = 3, freshMod = 0)
      .unionByName(Seq((7600000L,
        "<html><head><title>w1c</title>" +
          "<link rel=\"canonical\" href=\"https://cycle/c/1\"></head><body>" +
          s"<script>t()</script><p>$w1prose</p></body></html>"))
        .toDF("doc_id", "html"))
    // day-1 write-back: append the deltas by kind (the store layout
    // webCorpusIndexDelta's scaladoc names)
    val d1 = Corpus.webCorpusIndexDelta(ci0, ti0, wave1)
    ci0.write.parquet(s"$base/canon")
    d1.filter(col("kind") === "canon").select(col("key").as("canonical"))
      .write.mode("append").parquet(s"$base/canon")
    ti0.write.parquet(s"$base/text")
    d1.filter(col("kind") === "text").select(col("key").as("th"))
      .write.mode("append").parquet(s"$base/text")
    val ci1 = spark.read.parquet(s"$base/canon")
    val ti1 = spark.read.parquet(s"$base/text")

    // day-2 batch, all ids above wave 1: RE-CRAWLS of wave-1 fresh
    // pages (same html verbatim, new crawl ids — dup iff the text
    // delta landed), one page claiming wave 1's fresh canonical c/9
    // (dup iff the canon delta landed), one genuinely new page
    val recrawls = wave1
      .filter(col("doc_id") >= 6000000L && col("doc_id") < 7000000L &&
        col("doc_id") % 2 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("html"))
    val prose12 = (1 to 12).map(i => s"cyc$i").mkString(" ")
    val wave2 = recrawls.unionByName(Seq(
      (9500000L, "<html><head><title>claimer</title>" +
        "<link rel=\"canonical\" href=\"https://cycle/c/1\"></head><body>" +
        s"<script>t()</script><p>$prose12 claim</p></body></html>"),
      (9500001L, "<html><head><title>newpage</title></head><body>" +
        s"<script>t()</script><p>$prose12 novel</p></body></html>"))
      .toDF("doc_id", "html"))

    // batch reference over the UPDATED store, and the rebuilt-store
    // equivalence (appended ≡ webCorpusIndexes(standing ∪ wave1))
    def verdictMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("stage")).toMap
    val batch2 = verdictMap(Corpus.webCorpusIncrementFrom(ci1, ti1, wave2)
      .select(col("doc_id"), col("stage")))
    val (uc, ut) = Corpus.webCorpusIndexes(
      EntrySupport.wcStandingPages(spark, dir).unionByName(wave1))
    val rebuilt2 = verdictMap(Corpus.webCorpusIncrementFrom(uc, ut, wave2)
      .select(col("doc_id"), col("stage")))
    assert(batch2 === rebuilt2,
      "the appended store must behave exactly like a full index rebuild")

    // streamed wave 2 (fresh state — the day boundary), two splits
    val feed = wave2.withColumn("ts_us", lit(t0) + col("doc_id"))
    def run(): Unit = {
      val q = StreamingCorpus.webCorpusStreamCycle(
        spark.readStream.schema(schema).parquet(s"$base/src"), "ts_us",
        ci1, ti1, s"$base/sink", s"$base/ckpt")
      q.awaitTermination()
    }
    feed.filter(col("doc_id") < 9400000L)
      .coalesce(1).write.mode("append").parquet(s"$base/src")
    run()
    feed.filter(col("doc_id") >= 9400000L)
      .coalesce(1).write.mode("append").parquet(s"$base/src")
    run()
    val sunk2 = spark.read.parquet(s"$base/sink")
    val streamed2 = sunk2.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("stage")).toMap
    assert(streamed2 === batch2)

    // day-2 streamed write-back ≡ day-2 batch write-back over the
    // APPENDED store — the junction that closes the streamed cycle
    val streamedD2 =
      sunk2.filter(col("delta_canon").isNotNull)
        .select(lit("canon").as("kind"), col("delta_canon").as("key"))
        .unionByName(sunk2.filter(col("delta_text").isNotNull)
          .select(lit("text").as("kind"), col("delta_text").as("key")))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val batchD2 = Corpus.webCorpusIndexDelta(ci1, ti1, wave2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamedD2 === batchD2,
      "day-2 streamed deltas must equal the batch write-back over the " +
        "appended store")

    // the discriminators: every gate-passing recrawl text-dups against
    // the APPENDED text index; the claimer loses to the APPENDED canon
    // index; the novel page is kept
    assert(streamed2(9500000L) === "canonical_dup")
    assert(streamed2(9500001L) === "kept")
    val recrawlStages = streamed2.filter(_._1 >= 9000000L)
      .filter(_._1 < 9400000L).values.toSet
    assert(recrawlStages.subsetOf(Set("text_dup", "noindex", "quarantined",
      "chrome", "low_quality")) && recrawlStages.contains("text_dup"),
      s"recrawls must never be kept against the updated store: $recrawlStages")
    // NEGATIVE control: without the write-back (day-0 indexes), the
    // same recrawls would sail through as kept — the delta is what
    // makes tomorrow's run correct
    val stale = verdictMap(Corpus.webCorpusIncrementFrom(ci0, ti0, wave2)
      .select(col("doc_id"), col("stage")))
    assert(stale.exists { case (id, s) =>
      id >= 9000000L && id < 9400000L && s == "kept" },
      "control broken: recrawls should pass against the STALE store")
    assert(stale(9500000L) === "kept",
      "control broken: the claimer should pass against the STALE store")
  }
}
