package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Text
import org.apache.spark.sql.functions._

/** The lexical retrieval operators over the posting store
  * ([[Text.postingStoreFrame]]). Each raw-corpus form is its `*From`
  * form over a store built inline, so the ground truth here is a
  * plain-Scala reference over the spec's own corpora: tf·idf, the
  * kept-vocabulary unit weights, and BM25 with the Lucene idf. All four
  * operators match it row for row, ranks exact, on the HybridRrfSpec
  * fixtures (shared rare tokens, a df-capped universal token,
  * tf-saturation repeats) and on the capped-only corner. The `*From`
  * rows also hold through driver-local query slices and a real parquet
  * round trip (the store is served from disk in production).
  */
class PostingStoreSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = (0L until 12L).map { i =>
    val rare = s"r${i % 4} r${(i + 1) % 4}"
    val noise = (0 until (i % 3).toInt + 1).map(j => s"n${(i + j) % 5}").mkString(" ")
    (i, s"common $rare $noise common")
  }.toDF("doc_id", "text")

  private val cap = 0.6

  private def rows(df: org.apache.spark.sql.DataFrame, order: Seq[String]) = {
    CacheScope.flush()
    df.orderBy(order.map(col): _*).collect().toSeq.map(_.toSeq)
  }

  // doc 0 (query) and doc 5 share ONLY the df-capped token
  private val cornerDocs = Seq(
    (0L, "common alpha beta"),
    (1L, "common alpha gamma"),
    (2L, "common beta delta"),
    (3L, "common alpha beta"),
    (4L, "common gamma delta"),
    (5L, "common zeta zeta"))

  private lazy val docRows = docs.as[(Long, String)].collect().toSeq

  /** Retrieval scores restated in plain Scala over (doc_id, text)
    * rows: tf·idf N counts every doc, BM25 N and avgdl count the
    * token-bearing docs, unit weights normalize over the kept
    * (df ≤ cap·N) vocabulary.
    */
  private final class Reference(corpus: Seq[(Long, String)], cap: Double,
                                k1: Double = 1.2, b: Double = 0.75) {
    private val tf: Map[Long, Map[String, Long]] = corpus.map { case (id, text) =>
      id -> text.split(" ").filter(_.nonEmpty).groupBy(identity)
        .map { case (t, ts) => t -> ts.length.toLong }
    }.toMap
    private val df: Map[String, Long] = tf.values.toSeq.flatMap(_.keys)
      .groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    private val n = tf.size.toDouble
    private val bearing = tf.filter(_._2.nonEmpty)
    private val avgdl = bearing.values.map(_.values.sum).sum.toDouble / bearing.size
    private def kept(t: String) = df(t) <= n * cap
    private def w(d: Long, t: String) = tf(d)(t) * math.log(n / df(t))
    private def unit(d: Long): Map[String, Double] = {
      val ts = tf(d).keys.filter(kept)
      val nrm = math.sqrt(ts.toSeq.map(t => w(d, t) * w(d, t)).sum)
      ts.map(t => t -> w(d, t) / nrm).toMap
    }
    private def bm(d: Long, t: String): Double = {
      val idf = math.log(1.0 + (bearing.size - df(t) + 0.5) / (df(t) + 0.5))
      val f = tf(d)(t).toDouble
      idf * f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * tf(d).values.sum / avgdl))
    }
    private def r(x: Double, scale: Int) =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    private val ids = tf.keys.toSeq.sorted

    def topTerms(k: Int): Seq[(Long, String, Long, Long, Double, Long)] = ids.flatMap { d =>
      tf(d).keys.toSeq.map(t => (t, r(w(d, t), 4)))
        .sortBy { case (t, s) => (-s, t) }.take(k).zipWithIndex
        .map { case ((t, s), i) => (d, t, tf(d)(t), df(t), s, i + 1L) }
    }

    /** (q_id, c_id, n_common, score, rnk) rows: per query doc, the
      * candidates sharing one of its `terms`, by score desc. */
    private def ranked(nQ: Int, k: Int, terms: Long => Set[String],
                       score: (Long, Long, Set[String]) => Double) =
      ids.filter(_ < nQ).flatMap { q =>
        ids.filter(_ != q).flatMap { c =>
          val shared = terms(q).intersect(terms(c))
          if (shared.isEmpty) None
          else Some((c, shared.size.toLong, r(score(q, c, shared), 4)))
        }.sortBy { case (c, _, s) => (-s, c) }.take(k).zipWithIndex
          .map { case ((c, nc, s), i) => (q, c, nc, s, i + 1L) }
      }

    def cosine(nQ: Int, k: Int): Seq[(Long, Long, Long, Double, Long)] =
      ranked(nQ, k, unit(_).keySet, (q, c, shared) =>
        shared.toSeq.map(t => unit(q)(t) * unit(c)(t)).sum)

    def bm25(nQ: Int, k: Int): Seq[(Long, Long, Long, Double, Long)] =
      ranked(nQ, k, tf(_).keySet, (_, c, shared) => shared.toSeq.map(bm(c, _)).sum)

    /** RRF of the two rankings (c = 60): (q_id, c_id, n_lists, rrf_r,
      * fused_rnk). */
    def hybrid(nQ: Int, kPer: Int, kFused: Int): Seq[(Long, Long, Long, Double, Long)] =
      (cosine(nQ, kPer) ++ bm25(nQ, kPer))
        .groupBy { case (q, c, _, _, _) => (q, c) }.toSeq
        .map { case ((q, c), hits) =>
          (q, c, hits.size.toLong, r(hits.map(h => 1.0 / (60.0 + h._5)).sum, 6))
        }
        .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, qs) =>
          qs.sortBy { case (_, c, _, s) => (-s, c) }.take(kFused).zipWithIndex
            .map { case ((q, c, nl, s), i) => (q, c, nl, s, i + 1L) }
        }
  }

  private def seqs(ref: Seq[Product]) = ref.map(_.productIterator.toSeq)

  private lazy val corpora = Seq((docRows, cap), (cornerDocs, 0.5))

  test("tfidfTopTerms equals the plain-Scala reference row for row") {
    for ((d, c) <- corpora)
      assert(rows(Text.tfidfTopTerms(d.toDF("doc_id", "text"), k = 3), Seq("doc_id", "rnk")) ===
        seqs(new Reference(d, c).topTerms(3)))
  }

  test("tfidfCosineTopK equals the plain-Scala reference row for row") {
    for ((d, c) <- corpora)
      assert(rows(Text.tfidfCosineTopK(d.toDF("doc_id", "text"), nQueries = 3, k = 4,
          dfCapFrac = c), Seq("q_id", "rnk")) === seqs(new Reference(d, c).cosine(3, 4)))
  }

  test("bm25TopK equals the plain-Scala reference row for row") {
    // BM25 scores every posting, kept or not: over a capped store it
    // ranks as the uncapped reference (a caller wanting the cap filters
    // `kept` itself)
    for ((d, c) <- corpora) {
      val ref = seqs(new Reference(d, c).bm25(3, 4))
      assert(rows(Text.bm25TopK(d.toDF("doc_id", "text"), nQueries = 3, k = 4),
        Seq("q_id", "rnk")) === ref)
      assert(rows(Text.bm25TopKFrom(Text.postingStoreFrame(d.toDF("doc_id", "text"), c),
        nQueries = 3, k = 4), Seq("q_id", "rnk")) === ref)
    }
  }

  test("hybridRrfTopK equals the plain-Scala reference row for row") {
    for ((d, c) <- corpora)
      assert(rows(Text.hybridRrfTopK(d.toDF("doc_id", "text"), nQueries = 2, kPer = 3,
          kFused = 3, dfCapFrac = c), Seq("q_id", "fused_rnk")) ===
        seqs(new Reference(d, c).hybrid(2, 3, 3)))
  }

  test("driver-local query slices leave every *From operator bit-identical") {
    // the r12 LocalRelation move: collect docs 0..nQ-1's postings
    // (q_id, token, qw) driver-side and pass them as qSlice — scores,
    // ranks, ties, and the capped-token NULL qw must all survive
    val store = Text.postingStoreFrame(docs, cap)
    def slice(nQ: Int) = {
      val rs = store.filter(col("doc_id") < nQ)
        .select(col("doc_id"), col("token"), col("wn"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
      rs.toDF("q_id", "token", "qw")
    }
    assert(rows(Text.tfidfCosineTopKFrom(store, nQueries = 3, k = 4,
        qSlice = Some(slice(3))), Seq("q_id", "rnk")) ===
      rows(Text.tfidfCosineTopKFrom(store, nQueries = 3, k = 4), Seq("q_id", "rnk")))
    assert(rows(Text.bm25TopKFrom(store, nQueries = 3, k = 4,
        qSlice = Some(slice(3))), Seq("q_id", "rnk")) ===
      rows(Text.bm25TopKFrom(store, nQueries = 3, k = 4), Seq("q_id", "rnk")))
    assert(rows(Text.hybridRrfTopKFrom(store, nQueries = 2, kPer = 3, kFused = 3,
        qSlice = Some(slice(2))), Seq("q_id", "fused_rnk")) ===
      rows(Text.hybridRrfTopKFrom(store, nQueries = 2, kPer = 3, kFused = 3),
        Seq("q_id", "fused_rnk")))
  }

  test("the law holds through a parquet round trip of the store") {
    val dir = java.nio.file.Files.createTempDirectory("posting_store_spec").toString
    Text.postingStoreFrame(docs, cap).write.mode("overwrite").parquet(dir)
    val store = spark.read.parquet(dir)
    assert(rows(Text.bm25TopKFrom(store, nQueries = 3, k = 4), Seq("q_id", "rnk")) ===
      rows(Text.bm25TopK(docs, nQueries = 3, k = 4), Seq("q_id", "rnk")))
    assert(rows(Text.hybridRrfTopKFrom(store, nQueries = 2, kPer = 3, kFused = 3),
        Seq("q_id", "fused_rnk")) ===
      rows(Text.hybridRrfTopK(docs, nQueries = 2, kPer = 3, kFused = 3, dfCapFrac = cap),
        Seq("q_id", "fused_rnk")))
  }

  // ---- tfidfCosineTopK ---------------------------------------------------

  test("tfidfCosineTopK: identical docs rank first with cosine 1; disjoint docs never pair") {
    val docs = Seq(
      (0L, "apple banana cherry"),
      (5L, "apple banana cherry"), // exact copy of the query doc
      (6L, "apple banana date"),   // partial overlap
      (7L, "xx yy zz")             // disjoint — must not appear
    ).toDF("doc_id", "text")
    val out = Text.tfidfCosineTopK(docs, nQueries = 1, k = 3, dfCapFrac = 1.0)
      .collect().map(r => (r.getLong(1), r.getDouble(3), r.getLong(4)))
    assert(out.map(_._1).toSet === Set(5L, 6L))
    val top = out.find(_._3 == 1L).get
    assert(top._1 === 5L && top._2 === 1.0)
  }

  test("tfidfCosineTopK: df cap drops universal tokens from pairing") {
    val docs = Seq(
      (0L, "common rare1"),
      (1L, "common rare2"),
      (2L, "common rare3"),
      (3L, "common rare4")
    ).toDF("doc_id", "text")
    // 'common' is in 4/4 docs; cap at 0.5 prunes it — no shared tokens
    // remain, so the query has NO candidates at all
    val out = Text.tfidfCosineTopK(docs, nQueries = 1, k = 3, dfCapFrac = 0.5)
    assert(out.count() === 0L)
  }

  // ---- bm25TopK ----------------------------------------------------------

  test("bm25TopK: tf saturates and length normalization penalizes bulk") {
    val docs = Seq(
      (0L, "apple"),                                  // the query: one term
      (5L, "apple pear"),                             // tf=1, short
      (6L, "apple apple apple apple pear pear pear pear"), // tf=4, long
      (7L, "pear plum")                               // no match
    ).toDF("doc_id", "text")
    val out = Text.bm25TopK(docs, nQueries = 1, k = 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(!out.contains(7L))
    // saturation+length norm: 4 mentions in a 4x longer doc must score
    // LESS than 4x the single mention — and with k1=1.2 the two land
    // close; assert the bound rather than a brittle ordering
    assert(out(6L) < 4 * out(5L))
    assert(out(5L) > 0.0 && out(6L) > 0.0)
  }

  test("bm25TopK matches a hand-computed score") {
    val docs = Seq(
      (0L, "a b"),
      (5L, "a c"),
      (6L, "c d")
    ).toDF("doc_id", "text")
    val out = Text.bm25TopK(docs, nQueries = 1, k = 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // corpus: N=3 docs, all dl=2, avgdl=2. Query tokens {a, b}.
    // doc 5 matches only 'a': df(a)=2 ⇒ idf=ln(1+(3-2+0.5)/(2.5))=ln(1.6)
    // tf=1 ⇒ norm = 1*2.2/(1+1.2*(0.25+0.75*2/2)) = 2.2/2.2 = 1
    val expected = BigDecimal(math.log(1.0 + 1.5 / 2.5))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(5L) === expected)
    assert(!out.contains(6L)) // shares no query token
  }

  // ---- rrfFuse -----------------------------------------------------------

  test("rrfFuse: appearing in both lists beats a single top rank") {
    val r1 = Seq((0L, 10L, 1L), (0L, 11L, 2L)).toDF("q_id", "c_id", "rnk")
    val r2 = Seq((0L, 12L, 1L), (0L, 11L, 2L)).toDF("q_id", "c_id", "rnk")
    val out = Text.rrfFuse(Seq(r1, r2), c = 60.0, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(4))).toList
      .sortBy(_._3)
    // candidate 11 is rank-2 in BOTH lists: 2/62 > 1/61 of the
    // single-list rank-1s — fusion puts consensus first
    assert(out.head._1 === 11L && out.head._2 === 2L)
    // the two single-list candidates tie on score; id tiebreak
    assert(out.map(_._1) === List(11L, 10L, 12L))
  }
}
