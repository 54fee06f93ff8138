package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Corpus, Dedup, Multimodal, Relational, Sim, Sketches, Text}
import graft.ops.Multimodal.{MediaRow, PpmCodec, PpmVideoCodec, WavCodec}

/** Planted generators for the scale invariants: every expected count
  * follows from how the input is built, so a spec can assert it
  * exactly at any size. Every generator spreads its rows over
  * [[Parts]] input partitions, so the first-seen, keeper and dedup
  * rules are exercised across partition boundaries, as they are at
  * 100 TB, even when the row count is small.
  */
object ScaleInvariantsSpec {

  val Parts = 16

  /** ~33-token text keyed by `id`: ids below `nDup` form cliques of 4
    * (clique c = ids 4c..4c+3) sharing 32 base tokens keyed by c, and
    * each member adds one tail token `tail{id % 4}`; other ids are
    * singletons keyed by their own id. Clique keys live in [0, 1e6)
    * and singleton keys in [1e6, 2e6), so nothing collides by
    * accident. Members share 30 of their 31 3-gram shingles.
    */
  def cliqueText(id: Column, nDup: Long): Column =
    concat_ws(" ", (0 until 32).map(i =>
      concat(lit(s"w$i"),
        when(id < nDup, pmod(floor(id / 4) * 7919L, lit(1000000L)))
          .otherwise(pmod(id * 104729L, lit(999983L)) + 1000000L))) :+
      concat(lit("tail"), pmod(id, lit(4L))): _*)

  def textCorpus(spark: SparkSession, n: Long, nDup: Long): DataFrame =
    spark.range(0, n, 1, Parts)
      .select(col("id").as("doc_id"), cliqueText(col("id"), nDup).as("text"))

  /** Lattice vectors: deterministic and strongly correlated, so small
    * ids are near-collinear and rank-1 hits tie at cos 1.0.
    */
  def lattice(spark: SparkSession, n: Long, dim: Int = 64): DataFrame =
    spark.range(0, n, 1, Parts).select(col("id").as("vec_id"),
      array((0 until dim).map(j =>
        (pmod(col("id") * (2 * j + 7) + j * 2654435761L, lit(100003L))
          .cast("double") / 100003.0d - 0.5d).cast("float")): _*).as("embedding"))

  /** The 1,200-vector lattice as a standing corpus, a frozen 16-cell
    * model trained on it, and a batch of every 97th vector re-keyed
    * above the standing ids.
    */
  def latticeIncrement(spark: SparkSession): (DataFrame, Sim.Centroids, DataFrame) = {
    val lat = lattice(spark, 1200L)
    val batch = lat.filter(col("vec_id") % 97 === 3)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    (lat, Sim.kmeansCentroidsSampledLocal(lat, k = 16, iters = 4, sampleMod = 4), batch)
  }

  /** xxhash64-decorrelated vectors (pairwise |cos| ~ 1/8 at 64-d):
    * ids below `nDup` form 4-cliques around a base keyed by the clique,
    * each member perturbed by ±1%.
    */
  def decorrelated(spark: SparkSession, n: Long, nDup: Long, dim: Int = 64): DataFrame = {
    def coord(key: Column, salt: Int, scale: Double) =
      (pmod(xxhash64(key, lit(salt)), lit(100003L)).cast("double") / 100003.0d - 0.5d) * scale
    val key = when(col("id") < nDup, floor(col("id") / 4)).otherwise(col("id") + 1000000000L)
    spark.range(0, n, 1, Parts).select(col("id").as("vec_id"),
      array((0 until dim).map(j => (coord(key, j, 1.0) +
        when(col("id") < nDup, coord(col("id"), j + dim, 0.02)).otherwise(lit(0.0d)))
        .cast("float")): _*).as("embedding"))
  }

  /** An 8×8 grey PPM whose pixel i is bit i of murmur3((base, i)),
    * with pixel `flip` inverted (-1: none). Murmur puts unrelated
    * bases at Binomial(64, 1/2) hamming, so none lands within 2 bits.
    */
  def raster(id: Long, base: Long, flip: Int): MediaRow = {
    val rgb = new Array[Byte](8 * 8 * 3)
    for (i <- 0 until 64) {
      val bright =
        ((scala.util.hashing.MurmurHash3.productHash((base, i)) & 1) == 1) != (i == flip)
      java.util.Arrays.fill(rgb, i * 3, i * 3 + 3, (if (bright) 255 else 0).toByte)
    }
    val bytes = PpmCodec.encode(PpmCodec.Image(8, 8, rgb))
    MediaRow(id, "image", bytes, bytes.length.toLong, "ppm")
  }

  /** Crawl pages under the capstone's stage rules, by id: %13 unclosed
    * script (quarantined); else %7==3 link farm (chrome); else %5
    * noindex; else %3 canonical groups `id div 9`; %11==4 share a
    * per-thousand-block text; %17==6 a one-word page; the rest 12
    * id-unique prose words.
    */
  def crawlBody(id: Column): Column =
    when(id % 11 === 4, concat_ws(" ", (0 until 12).map(i =>
        concat(lit(s"d${i}g"), floor(id / 1000))): _*))
      .when(id % 17 === 6, concat(lit("q"), id))
      .otherwise(concat_ws(" ", (0 until 12).map(i => concat(lit(s"p${i}x"), id)): _*))

  def crawlPages(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, Parts).select(col("id").as("doc_id"), concat(
      lit("<html><head>"),
      when(col("id") % 5 === 0,
        lit("<meta name=\"robots\" content=\"noindex, nofollow\">")).otherwise(lit("")),
      when(col("id") % 3 === 0, concat(lit("<link rel=\"canonical\" href=\"https://ex.com/c/"),
        floor(col("id") / 9).cast("string"), lit("\">"))).otherwise(lit("")),
      lit("</head><body>"),
      when(col("id") % 13 === 0, lit("<script>var broken = ["))
        .otherwise(lit("<script>t()</script>")),
      when(col("id") % 7 === 3, lit(EntrySupport.htmlLinkFarm + "<p>tiny</p>"))
        .otherwise(concat(lit("<p>"), crawlBody(col("id")), lit("</p>"))),
      lit("</body></html>")).as("html"))

  /** The capstone stage of every page of [[crawlPages]], simulated in
    * ascending id order (the keeper order).
    */
  def crawlStages(n: Long): Seq[String] = {
    val canonSeen = scala.collection.mutable.HashSet[Long]()
    val textSeen = scala.collection.mutable.HashSet[Long]()
    (0L until n).map { i =>
      if (i % 13 == 0) "quarantined"
      else if (i % 7 == 3) "chrome"
      else if (i % 5 == 0) "noindex"
      else if (i % 3 == 0 && !canonSeen.add(i / 9)) "canonical_dup"
      else if (i % 11 == 4 && !textSeen.add(i / 1000)) "text_dup"
      else if (i % 17 == 6) "low_quality"
      else "kept"
    }
  }
}

/** Scale invariants of the scale-critical operators, asserted on the
  * planted generators of [[ScaleInvariantsSpec$]] at a small n but
  * over many input partitions. Laws already pinned elsewhere stay
  * there, with these generators added as cases: IVF increment ≡
  * rebuild (IvfIncrementSpec), sealed ≡ growing (HnswSealSpec),
  * banded simhash ≡ brute force (DedupAdvancedSpec); store-fed ≡
  * in-plan verdicts and write-back ≡ union rebuild
  * (WebCorpusIncrementSpec), bucketed ≡ broadcast probes
  * (BucketedIndexProbeSpec) and the zero-key-exchange bucketed join
  * (BucketJoinSpec) are cited, not repeated. Plan shapes are
  * PlanShapeSpec's rows.
  */
class ScaleInvariantsSpec extends AnyFunSuite {
  import ScaleInvariantsSpec._

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val n = 1200L
  private val nDup = 300L // 75 cliques; 75 ids per partition, so cliques straddle boundaries
  private lazy val corpus = textCorpus(spark, n, nDup)
  // every clique member but the head (the clique's smallest id)
  private val laterMembers = (0L until nDup).filter(_ % 4 != 0).toSet

  private def ids(df: DataFrame): Set[Long] = {
    val r = df.select(col("doc_id")).as[Long].collect().toSet
    CacheScope.flush()
    r
  }

  private def countsBy(df: Dataset[_], key: String): Map[Any, Long] = {
    val r = df.groupBy(col(key)).count().collect().map(r => r.get(0) -> r.getLong(1)).toMap
    CacheScope.flush()
    r
  }

  test("LSH one-hop and connected-component keepers only ever move a later " +
      "clique member onto a smaller id of its own clique, and move nearly all") {
    // LSH is approximate: 16 hashes in 4 bands miss a J = 0.9375 sibling
    // pair now and then, and the misses cluster on a few members (the
    // 1M-doc run moved 14,972 one-hop and 14,984 CC of 15,000), so the
    // exact law is precision and recall is a floor
    for (keepers <- Seq(() => Dedup.lshDedupKeepers(corpus, minJaccard = 0.7),
                        () => Dedup.connectedComponentKeepers(corpus, minJaccard = 0.7))) {
      val moved = keepers().filter(col("keep_id") =!= col("doc_id"))
        .select(col("doc_id"), col("keep_id")).as[(Long, Long)].collect()
      CacheScope.flush()
      val strays = moved.filterNot { case (d, k) => laterMembers(d) && k < d && k / 4 == d / 4 }
      assert(strays.isEmpty, strays.toSeq)
      assert(moved.length >= 0.95 * laterMembers.size, s"${moved.length} of ${laterMembers.size}")
    }
  }

  test("first-seen attribution across partitions: ngramNovelty, " +
      "segmentDedup and ExactSubstr spans/trim hit their planted sets") {
    // a later member shares every base shingle with its head: only the
    // tail shingle is novel
    assert(ids(Dedup.ngramNovelty(corpus).filter(col("novelty_r") < 0.2)) === laterMembers)
    // ~5 segments per doc (4 base 8-grams + the tail); ids 1-3 own the
    // first occurrence of their tail token, so their dup_frac is 0.8
    assert(ids(Dedup.segmentDedup(corpus, w = 8).filter(col("dup_frac") >= 0.99)) ===
      laterMembers -- Set(1L, 2L, 3L))
    // a clique doc's 25 base-gram positions merge into one [1,32] span;
    // singletons have no duplicated gram
    val spans = Dedup.exactSubstrSpans(corpus, L = 8)
    assert(ids(spans.filter(col("n_spans") === 1 && col("covered_tokens") === 32)) ===
      (0L until nDup).toSet)
    assert(ids(spans.filter(col("n_spans") === 0)) === (nDup until n).toSet)
    // the head owns every base gram's first occurrence, so heads and
    // singletons keep all 33 tokens and later members keep only the tail
    val trim = Dedup.exactSubstrTrim(corpus, L = 8)
    assert(ids(trim.filter(col("n_kept") === 1)) === laterMembers)
    assert(ids(trim.filter(col("n_kept") === 33)).size === n - laterMembers.size)
  }

  test("BM25: every query's rank-1 hit is a clique sibling; a posting " +
      "df-cap keeps planted recall only while it sits above the clique df") {
    val top1 = Text.bm25TopK(corpus, nQueries = 16, k = 5)
      .filter(col("rnk") === 1 && floor(col("q_id") / 4) === floor(col("c_id") / 4))
      .count()
    CacheScope.flush()
    assert(top1 === 16)
    // the store scores every posting; the cap prunes the `kept = false`
    // ones before the query join
    def top5(cap: Double): Map[Long, Set[Long]] = {
      val rows = Text.bm25TopKFrom(Text.postingStoreFrame(corpus, cap).filter(col("kept")),
          nQueries = 16, k = 5)
        .select(col("q_id"), col("c_id")).as[(Long, Long)].collect()
      CacheScope.flush()
      rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    }
    // the 3 siblings of each query doc are its relevant set: 32 shared
    // df-4 tokens; anything else meets a query only through its df-n/4
    // tail token
    def siblingRecall(m: Map[Long, Set[Long]]): Double = (0L until 16L).map { q =>
      val sibs = (q / 4 * 4 until q / 4 * 4 + 4).filter(_ != q).toSet
      m.get(q).map(c => (sibs & c).size.toDouble / 3).getOrElse(0.0)
    }.sum / 16
    val base = top5(1.0)
    def overlapVsBase(m: Map[Long, Set[Long]]): Double = base.map { case (q, s) =>
      m.get(q).map(c => (s & c).size.toDouble / s.size).getOrElse(0.0)
    }.sum / base.size
    val hot = top5(0.01)        // between the clique df (4/n) and the tail's 1/4
    val destr = top5(2.0 / n)   // below the clique df
    assert(siblingRecall(base) === 1.0 && siblingRecall(hot) === 1.0)
    assert(siblingRecall(destr) < 0.5)
    assert(overlapVsBase(destr) <= overlapVsBase(hot))
  }

  test("incremental batch dedup flags exactly the planted corpus copies") {
    val nBatch = n / 10
    // even ids: byte-exact copies of corpus doc `id`; odd ids: fresh
    val batch = spark.range(0, nBatch, 1, Parts).select(
      (col("id") + 10000000L).as("doc_id"),
      when(col("id") % 2 === 0, cliqueText(col("id"), nDup))
        .otherwise(concat(lit("fresh"), col("id"))).as("text"))
    val out = Dedup.incrementalNewDocs(corpus, batch)
      .agg(sum(col("dup_of_corpus")), sum(col("dup_in_batch")), sum(col("keep")))
      .as[(Long, Long, Long)].head()
    assert(out === ((nBatch / 2, 0L, nBatch / 2)))
  }

  test("SemDeDup over decorrelated vectors discards exactly the planted " +
      "later members onto their head") {
    val moved = Sim.semanticDedupKeepers(decorrelated(spark, n, nDup),
        nCells = 8, iters = 2, sampleMod = 1, minCos = 0.95)
      .filter(col("keep_id") =!= col("vec_id"))
      .select(col("vec_id"), col("keep_id")).as[(Long, Long)].collect().toSet
    CacheScope.flush()
    assert(moved === laterMembers.map(d => d -> d / 4 * 4))
  }

  test("pHash banding, image CC and the incremental media probe hit " +
      "their planted counts") {
    val nImg = n / 5
    val nGroups = nImg / 5
    // groups of 5 share a pattern (id % nGroups); odd members flip one
    // distinct bit, so every within-group pair sits at hamming <= 2
    val images = spark.range(0, nImg, 1, Parts).as[Long].map(id =>
      raster(id, id % nGroups, if (id % 2 == 1) ((id / nGroups) % 64).toInt else -1))
    val hashes = Multimodal.averageHash(images, size = 8).toDF()
    val pairs = Multimodal.phashNearDupPairs(hashes, hashBits = 64, bands = 4, maxHamming = 2)
      .select(col("a"), col("b"))
    assert(pairs.count() === nGroups * 10)
    val keepers = Dedup.ccKeepersFromEdges(pairs, hashes.select(col("media_id").as("doc_id")))
      .filter(col("keep_id") =!= col("doc_id")).count()
    CacheScope.flush()
    assert(keepers === nGroups * 4)
    // a batch of one copy per group (5 standing partners each), one
    // fresh pattern per group (kept) and in-batch twin pairs (the
    // second member dups in batch), probed against the band index
    val idxDir = java.nio.file.Files.createTempDirectory("graft-scale-mbidx").toString
    Multimodal.phashBandIndex(hashes, hashBits = 64, bands = 4)
      .write.mode("overwrite").parquet(idxDir)
    val nTwins = 40L
    val batch = spark.range(0, nGroups, 1, Parts).as[Long]
      .map(o => raster(o + 10000000L, o, if (o % 2 == 1) 0 else -1))
      .unionByName(spark.range(0, nGroups, 1, Parts).as[Long]
        .map(o => raster(o + 20000000L, nGroups + o, -1)))
      .unionByName(spark.range(0, nTwins, 1, Parts).as[Long]
        .map(t => raster(t + 30000000L, 2 * nGroups + t / 2, -1)))
    val res = Multimodal.phashIncrementalDedup(spark.read.parquet(idxDir),
        Multimodal.averageHash(batch, size = 8).toDF(), hashBits = 64, bands = 4, maxHamming = 2)
      .groupBy((col("media_id") / 10000000L).cast("int"), col("n_standing_dups"),
        col("dup_in_batch"), col("keep"))
      .count().as[(Int, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3, r._4) -> r._5).toMap
    assert(res === Map((1, 5L, 0L, 0L) -> nGroups, (2, 0L, 0L, 1L) -> nGroups,
      (3, 0L, 0L, 1L) -> nTwins / 2, (3, 0L, 1L, 0L) -> nTwins / 2))
  }

  test("codec intake: every 13th WAV/PPM/video payload is quarantined or " +
      "torn, the rest decode, and VAD finds 3 segments in each") {
    val nMedia = n / 5
    val bad = (nMedia + 12) / 13
    def media(f: Long => MediaRow): Dataset[MediaRow] =
      spark.range(0, nMedia, 1, Parts).as[Long].map(f)
    def frames(fs: Dataset[_]) = countsBy(fs, "n_frames")
    val wav = media { id =>
      val amp = (300 + (id % 50) * 100).toShort
      val b0 = WavCodec.encode(WavCodec.Audio(8000, 1, Array.tabulate((400 + (id % 7) * 200).toInt)(
        i => if ((i / 4) % 2 == 0) amp else (-amp).toShort)))
      val b = if (id % 13 == 0) b0.take(12) else b0
      MediaRow(id, "audio", b, b.length.toLong, "wav")
    }
    assert(frames(Multimodal.decodeWavFeatures(wav)) === Map(0 -> bad, 1 -> (nMedia - bad)))
    val ppm = media { id =>
      val (w, h) = ((8 + id % 9).toInt, (6 + id % 7).toInt)
      val b0 = PpmCodec.encode(PpmCodec.Image(w, h, Array.tabulate(w * h * 3)(i => ((id + i) % 256).toByte)))
      val b = if (id % 13 == 0) b0.take(6) else b0
      MediaRow(id, "image", b, b.length.toLong, "ppm")
    }
    assert(frames(Multimodal.decodePpmFeatures(ppm, resizeTo = Some((4, 4)))) ===
      Map(0 -> bad, 1 -> (nMedia - bad)))
    // 5 alternating-luma frames; a torn payload keeps 4
    val video = media { id =>
      val b0 = PpmVideoCodec.encode((0 until 5).map(f =>
        PpmCodec.Image(4, 4, Array.fill(48)((if (f % 2 == 0) 20 else 220).toByte))))
      val b = if (id % 13 == 0) b0.dropRight(10) else b0
      MediaRow(id, "video", b, b.length.toLong, "ppms")
    }
    assert(frames(Multimodal.decodeVideoFeatures(video, sceneThreshold = 64.0)) ===
      Map(5 -> (nMedia - bad), 4 -> bad))
    // alternating 400-sample speech/silence blocks, 6 blocks
    val vad = media { id =>
      val amp = (500 + (id % 40) * 50).toShort
      val b = WavCodec.encode(WavCodec.Audio(8000, 1, Array.tabulate(6 * 400) { i =>
        if ((i / 400) % 2 == 0) { if (i % 8 < 4) amp else (-amp).toShort } else 0.toShort
      }))
      MediaRow(id, "audio", b, b.length.toLong, "wav")
    }
    assert(Multimodal.vadSegments(vad, 400, 0.001).filter(col("n_segments") === 3).count() === nMedia)
  }

  test("dirty XML intake quarantines exactly every 13th line and keeps " +
      "the surviving ids' exact sum") {
    val feed = java.nio.file.Files.createTempDirectory("graft-scale-xml").toString + "/feed"
    spark.range(0, n, 1, Parts).select(concat(lit("<row><id>"),
        when(col("id") % 13 === 0, concat(lit("x"), col("id"))).otherwise(col("id").cast("string")),
        lit("</id><grp>"), pmod(col("id"), lit(7L)), lit("</grp></row>")).as("value"))
      .write.mode("overwrite").text(feed)
    val schema = StructType(Seq(StructField("id", LongType), StructField("grp", LongType)))
    val got = etl.Sinks.permissiveRead(spark, feed, schema, "xml", etl.Sinks.xmlLineFeed)
      .agg(count(lit(1)), count(col("_corrupt_record")),
        sum(when(col("_corrupt_record").isNull, col("id"))))
      .as[(Long, Long, Long)].head()
    val bad = (n + 12) / 13
    assert(got === ((n, bad, n * (n - 1) / 2 - 13L * (bad * (bad - 1) / 2))))
  }

  test("HTML extraction: exact quarantine/chrome/ok counts, every ok page decoded") {
    val pages = corpus.select(col("doc_id"), concat(
      lit("<html><body><nav><a href=\"/\">home</a></nav>"),
      when(col("doc_id") % 13 === 0, lit("<script>var broken = ["))
        .otherwise(lit("<script>t()</script>")),
      when(col("doc_id") % 7 === 3, lit(EntrySupport.htmlLinkFarm + "<p>tiny</p>"))
        .otherwise(concat(lit("<p>R&amp;D "), col("text"), lit("</p>"))),
      lit("</body></html>")).as("html"))
    val byStatus = Corpus.htmlExtract(pages, linkDensityPct = 30)
      .groupBy(col("status"))
      .agg(count(lit(1)), count(when(col("head_50").startsWith("home R&D "), 1)))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val expQ = (0L until n).count(_ % 13 == 0).toLong
    val expC = (0L until n).count(i => i % 13 != 0 && i % 7 == 3).toLong
    val expOk = n - expQ - expC
    assert(byStatus === Map("quarantined" -> ((expQ, 0L)), "chrome" -> ((expC, 0L)),
      "ok" -> ((expOk, expOk))))
  }

  test("crawl-to-shards capstone: every stage count equals the simulator's, " +
      "kept docs carry their 12 words, no offset escapes the 2048 budget") {
    val g = Corpus.crawlGate(crawlPages(spark, n), linkDensityPct = 30, keepText = true)
      .withColumn("passes", (col("status") === "ok" && col("verdict") === "index").cast("long"))
    val k1 = when(col("passes") === 1L && col("canonical").isNotNull, concat(lit("c:"), col("canonical")))
      .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
    val r1 = g.withColumn("rn1", row_number().over(Window.partitionBy(k1).orderBy(col("doc_id"))))
      .withColumn("alive1", col("passes") === 1L && col("rn1") === 1)
    val k2 = when(col("alive1"), concat(lit("t:"), col("text")))
      .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
    val r2 = r1.withColumn("rn2", row_number().over(Window.partitionBy(k2).orderBy(col("doc_id"))))
      .withColumn("alive2", col("alive1") && col("rn2") === 1)
    val r3 = Corpus.withGopher(r2)
      .withColumn("alive3", col("alive2") && coalesce(col("gopher_ok"), lit(0L)) === 1L)
    val k3 = when(col("alive3"), concat(lit("s:"), floor(col("doc_id") / 64).cast("string")))
      .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
    val wPack = Window.partitionBy(k3).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = r3
      .withColumn("cum", sum(when(col("alive3"), col("n_toks")).otherwise(lit(0L))).over(wPack))
      .select(
        when(col("status") === "quarantined", lit("quarantined"))
          .when(col("status") === "chrome", lit("chrome"))
          .when(col("verdict") === "drop", lit("noindex"))
          .when(col("rn1") =!= 1, lit("canonical_dup"))
          .when(col("rn2") =!= 1, lit("text_dup"))
          .when(coalesce(col("gopher_ok"), lit(0L)) =!= 1L, lit("low_quality"))
          .otherwise(lit("kept")).as("stage"),
        when(col("alive3"), col("n_toks")).as("tok_cnt"),
        when(col("alive3"), (col("cum") - col("n_toks")) % 2048).as("offset_in"))
      .groupBy(col("stage"))
      .agg(count(lit(1)), coalesce(sum(col("tok_cnt")), lit(0L)),
        coalesce(max(col("offset_in")), lit(0L)))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val sim = crawlStages(n).groupBy(identity).map { case (s, v) => s -> v.size.toLong }
    assert(out.map { case (s, r) => s -> r._2 } === sim)
    assert(out("kept")._3 === 12L * sim("kept"))
    assert(out("kept")._4 < 2048L)
  }

  test("capstone increment: impersonating copies text-dup iff their " +
      "original was alive, dead originals' copies proceed, fresh pages keep") {
    val nBatch = n / 10
    val half = nBatch / 2
    // copies carry a clean head and their original's exact body, skipping
    // the shared-text class so each copy's fate depends on its own original
    val copies = spark.range(0, half, 1, Parts).filter(col("id") % 11 =!= 4)
      .select((col("id") + 10000000L).as("doc_id"), concat(
        lit("<html><head></head><body><script>t()</script><p>"),
        crawlBody(col("id")), lit("</p></body></html>")).as("html"))
    val fresh = spark.range(0, nBatch - half, 1, Parts)
      .select((col("id") + 20000000L).as("doc_id"), concat(
        lit("<html><head></head><body><script>t()</script><p>"),
        concat_ws(" ", (0 until 12).map(i => concat(lit(s"f${i}y"), col("id"))): _*),
        lit("</p></body></html>")).as("html"))
    val got = countsBy(Corpus.webCorpusIncrement(crawlPages(spark, n), copies.unionByName(fresh)),
      "stage")
    // an original alive through the canonical stage put its text in the
    // index; a dead one did not, so its copy owns the text and meets
    // the Gopher gate (the one-word q pages fail it)
    val stages = crawlStages(half)
    val fates = (0L until half).filter(_ % 11 != 4).map { o =>
      val s = stages(o.toInt)
      if (s == "kept" || s == "low_quality" || s == "text_dup") "text_dup"
      else if (o % 17 == 6) "low_quality" else "kept"
    }.groupBy(identity).map { case (s, v) => s -> v.size.toLong }
    assert(got === fates.updated("kept", fates.getOrElse("kept", 0L) + (nBatch - half)))
  }

  test("sketches keep exact columns exact and estimates in band: HLL, " +
      "register-only HLL, CMS, sized Bloom, HLL overlap, HDR") {
    val keyed = spark.range(0, n, 1, Parts).select(
      (col("id") % 4).cast("string").as("g"), col("id").cast("string").as("k"),
      when(col("id") % 10 === 0, lit("hot"))
        .otherwise(concat(lit("u"), pmod(col("id"), lit(50000L)))).as("ck"),
      ((col("id") + 1).cast("double") * 100.0 / n).as("v"))
    val hll = Sketches.hllDistinct(keyed, "g", "k")
      .select(col("g"), col("n_exact"), col("hll_est_r")).as[(String, Long, Double)].collect()
    assert(hll.forall(_._2 == n / 4), hll.toSeq)
    assert(hll.forall(r => math.abs(r._3 - r._2) / r._2 <= 0.39), hll.toSeq)
    // the register-only form folds raw rows: bit-identical estimates
    assert(Sketches.hllRegistersOnly(keyed, "g", "k").as[(String, Double)].collect().toMap ===
      hll.map(r => r._1 -> r._3).toMap)
    val cms = Sketches.cmsHeavyHitters(keyed.select(col("ck")), "ck", topK = 5)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(cms.head._1 == "hot" && cms.head._5 == 1L && cms.head._2 == n / 10 &&
      cms.forall(_._4 >= 0L), cms.toSeq)
    CacheScope.flush()
    // history = keys k0..k{n/2-1}; batch even ids repeat a history key
    val half = n / 2
    val hist = spark.range(0, half, 1, Parts)
      .select(col("id").as("event_id"), concat(lit("k"), col("id")).as("bk0"))
    val batch = spark.range(half, n, 1, Parts).select(col("id").as("event_id"),
      when(col("id") % 2 === 0, concat(lit("k"), floor(col("id") / 2)))
        .otherwise(concat(lit("fresh"), col("id"))).as("bk0"))
    val (fn, seen, fp, total) = Sketches.bloomDedupFlags(hist, batch, col("bk0"), "event_id",
        m = Sketches.bloomBits(half))
      .agg(count(when(col("actually_seen") && !col("maybe_seen"), 1)),
        count(when(col("actually_seen"), 1)), count(when(col("is_fp"), 1)), count(lit(1)))
      .as[(Long, Long, Long, Long)].head()
    assert(fn === 0L && seen === (n - half + 1) / 2 && total === n - half)
    assert(fp <= ((total - seen) * 0.03).toLong, s"sized Bloom fp $fp")
    // groups 0/1 hold exactly the even keys (id div 2), 2/3 the odd ones
    val ov = Sketches.hllOverlap(pairKeyed, "g", "k").as[(String, String, Long, Double)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val q4 = n / 4
    assert(ov(("0", "1"))._1 === q4 && ov(("2", "3"))._1 === q4 &&
      ov(("0", "2"))._1 === 0L && ov(("1", "3"))._1 === 0L)
    assert(math.abs(ov(("0", "1"))._2 - q4) / q4 <= 0.39 && math.abs(ov(("0", "2"))._2) < q4)
    // v is a uniform grid on (0, 100] in every group
    Sketches.hdrQuantiles(keyed, "g", "v", Seq(0.5, 0.99)).collect().foreach { r =>
      assert(math.abs(r.getDouble(2) - 50.0) / 50.0 <= 0.10 &&
        math.abs(r.getDouble(3) - 99.0) / 99.0 <= 0.10, s"HDR quantiles out of band: $r")
    }
    CacheScope.flush()
  }

  // group g holds keys (id div 2) for id ≡ g (mod 4): groups 0/1 both
  // hold exactly the n/4 even keys, cross-parity groups are disjoint
  private def pairKeyed = spark.range(0, n, 1, Parts).select(
    (col("id") % 4).cast("string").as("g"), floor(col("id") / 2).cast("string").as("k"))

  test("group sketches: MinHash J, DP true counts and theta set algebra " +
      "are exact on the planted overlap, estimates in band") {
    val mh = Sketches.minhashGroupJaccard(pairKeyed, "g", "k").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(mh(("0", "1")) === ((1.0, 1.0)) && mh(("0", "2")) === ((0.0, 0.0)))
    val dp = Relational.dpNoisedCounts(pairKeyed.select(col("g")), Seq("g"), epsilon = 1.0)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(dp.length === 4 && dp.forall(_._1 == n / 4), dp.toSeq)
    assert(dp.forall { case (c, d) => math.abs(d - c) < 15.0 }, dp.toSeq)
    val th = Sketches.thetaSetOps(pairKeyed, "g", "k").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    val (same, disj) = (th(("0", "1")), th(("0", "2")))
    assert(same._1 === n / 4 && same._2 === n / 4 && disj._1 === n / 2 && disj._2 === 0L)
    // identical sketches: intersection = union estimate, difference 0;
    // disjoint: no shared hash below theta
    assert(same._4 === same._3 && same._5 === 0.0 && disj._4 === 0.0)
    // k = 64 gives RSE ~13%; 4 sigma
    assert(math.abs(same._3 - n / 4) / (n / 4) <= 0.52 &&
      math.abs(disj._3 - n / 2) / (n / 2) <= 0.52, s"$same $disj")
    CacheScope.flush()
  }

  test("DSIR scores every doc and separates the planted target domain") {
    // every 5th doc is 'en' and draws half its tokens from a 40-word
    // target vocabulary, the rest from a disjoint background one
    val docs = spark.range(0, n, 1, Parts).select(col("id").as("doc_id"),
      when(col("id") % 5 === 0, "en").otherwise("xx").as("lang"),
      concat_ws(" ", (0 until 8).map(i => concat(lit("c"), pmod(col("id") * (i * 13 + 7), lit(40L)))) ++
        (0 until 8).map(i => when(col("id") % 5 === 0,
          concat(lit("t"), pmod(col("id") * (i * 17 + 3), lit(40L))))
          .otherwise(concat(lit("b"), pmod(col("id") * (i * 19 + 5), lit(40L))))): _*).as("text"))
    val sep = Text.dsirWeights(docs, col("lang") === "en", 256)
      .groupBy(col("lang")).agg(avg(col("logw_r")), count(lit(1)))
      .as[(String, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(sep("en")._2 + sep("xx")._2 === n)
    assert(sep("en")._1 > sep("xx")._1 + 0.5, sep)
  }

  test("quality classifier separates the planted spam suffix") {
    val labeled = corpus.select(col("doc_id"), col("text"), lit(1).as("label"))
      .unionAll(corpus.select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(col("text"), lit(Text.qualitySpamSuffix)).as("text"), lit(0).as("label")))
    val (w, b) = Text.trainQualityLrLocal(labeled, dim = 256)
    val (total, ok) = Text.qualityScoreFrom(labeled, 256, w, b)
      .agg(count(lit(1)), count(when(col("pred") === col("label"), 1)))
      .as[(Long, Long)].head()
    CacheScope.flush()
    assert(total === 2 * n && ok.toDouble / total >= 0.99)
  }

  test("BPE: the column encoder keeps every doc and agrees token for " +
      "token with the reference encoder on a slice") {
    val merges = Text.bpeTrain(corpus.filter(col("doc_id") < nDup), nMerges = 32, minWordCount = 4L)
    val (encoded, under) = Text.bpeEncodeDocs(corpus, merges)
      .agg(count(lit(1)), count(when(col("n_bpe") < col("n_words"), 1)))
      .as[(Long, Long)].head()
    assert(encoded === n && under === 0L)
    // sequence equality, not counts: every merge shrinks a count by 1
    val slice = corpus.filter(col("doc_id") % 37 === 0)
    val viaExpr = slice.select(col("doc_id"), trim(Text.bpeEncodeExpr(col("text"), merges)))
      .as[(Long, String)].collect()
      .map { case (d, e) => d -> e.split("  ").toSeq.filter(_ != "\u0001") }.toMap
    val ref = Text.bpeApply(slice, merges).collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    CacheScope.flush()
    assert(viaExpr.nonEmpty && viaExpr === ref)
  }

  test("SPM: encode keeps every doc at fertility >= 1, the column DP ≡ " +
      "the reference Viterbi, and a slice build yields one row per word type") {
    // natural-language shape: a bounded Zipf-ish 8192-word vocabulary
    val docs = spark.range(0, n, 1, Parts).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 24).map(i => concat(lit("v"), pmod(
        pmod(col("id") * (i * 31 + 17), lit(8192L)) * pmod(col("id") * (i * 13 + 7), lit(8192L)),
        lit(8192L)))): _*).as("text"))
    val model = Text.spmTrainLocal(docs.filter(col("doc_id") % 4 === 0), vocabSize = 300,
      maxPieceLen = 4, emIters = 2, minWordCount = 4L)
    val (encoded, under) = Text.spmEncodeDocs(docs, model, maxPieceLen = 4)
      .agg(count(lit(1)), count(when(col("n_spm") < col("n_words"), 1)))
      .as[(Long, Long)].head()
    assert(encoded === n && under === 0L)
    val mm = model.toMap
    val words = docs.filter(col("doc_id") % 37 === 0)
      .select(explode(Dedup.tokens(col("text"))).as("word")).distinct()
    val mism = Text.spmSegmentFrame(words, model, 4)
      .select(col("word"), col("wn"), col("wc_u6")).as[(String, Long, Long)].collect().count {
      case (w, wn, wc) =>
        val ref = Text.spmViterbiLocal(w, mm, 4)
        wn != ref.size.toLong || wc != ref.map(p => mm.getOrElse(p, Text.SpmUnkCostU6)).sum
    }
    assert(mism === 0)
    // a synthetic model (chars, all 2-char pieces, some 3-char ones)
    // over distinct 5-char words, 1 in 97 carrying an out-of-model char
    val chars = "0123456789abcdefghijklmnopqrstuvwxyz"
    val synth = chars.map(c => (c.toString, 14000000L)) ++
      (for (a <- chars; b <- chars) yield (s"$a$b", 20000000L)) ++
      (for (a <- "abcdef"; b <- chars) yield (s"$a${b}q", 24000000L))
    val nWords = 2000L
    val word = lower(conv(col("id") + 3359232L, 10, 36))
    val plain = spark.range(0, nWords, 1, Parts).select(word.as("word"))
    val withFb = spark.range(0, nWords, 1, Parts).select(
      concat(word, when(pmod(col("id"), lit(97)) === 0, lit("~")).otherwise(lit(""))).as("word"))
    assert(Text.spmSegmentFrame(plain, synth, maxPieceLen = 3).count() === nWords)
    assert(Text.spmSegmentFrame(withFb, synth, maxPieceLen = 3, byteFallback = true).count() === nWords)
  }
}
