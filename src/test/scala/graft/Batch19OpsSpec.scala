package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Multimodal, Relational, Sim, Text}

/** Batch 19: segment-level exact dedup, Kneser-Ney bigram scoring,
  * l-diversity gate, SQ8 ANN, perceptual average-hash.
  */
class Batch19OpsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- segmentDedup ------------------------------------------------------

  test("segmentDedup: shared line dups against first occurrence; self-repeats count") {
    val docs = Seq(
      // doc 0: two lines; line 2 repeats the w=2 segment "a b" of line 1
      (0L, "a b c\na b"),
      // doc 1: copies doc 0's first line exactly — all its segments dup
      (1L, "a b c"),
      // doc 2: fresh text, no dups
      (2L, "x y z")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, w = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 0 segments: line0 -> ["a b", "c"], line1 -> ["a b"]; the
    // line1 "a b" is a dup of line0's (earlier (line,chunk) key)
    assert(out(0L) === ((3L, 1L)))
    // doc 1 segments ["a b", "c"] both first-seen in doc 0
    assert(out(1L) === ((2L, 2L)))
    assert(out(2L) === ((2L, 0L)))
  }

  test("segmentDedup: first-occurrence order is exact past 1000 lines (no key aliasing)") {
    // the old packed key (doc_id*1e6 + line_no*1e3 + seg_i) aliased
    // doc 0 line 1000 onto doc 1 line 0, crediting BOTH with first
    // occurrence; the struct key must attribute the dup to doc 1
    val big = (0 until 1001).map(i => s"tok$i").mkString("\n")
    val docs = Seq(
      (0L, big),            // line 1000 is "tok1000"
      (1L, "tok1000")       // duplicates doc 0's line 1000
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, w = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) === ((1001L, 0L)))
    assert(out(1L) === ((1L, 1L)), "doc 1's only segment first appeared in doc 0")
  }

  test("segmentDedup: single-line docs chunk at w tokens; partial tail kept") {
    val docs = Seq((7L, "t1 t2 t3 t4 t5")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, w = 2).collect().head
    assert(out.getLong(1) === 3L) // [t1 t2][t3 t4][t5]
    assert(out.getLong(2) === 0L)
  }

  // ---- knBigramLogProb ---------------------------------------------------

  test("knBigramLogProb matches the hand-computed discounted mixture") {
    val docs = Seq((0L, "a b a b a c")).toDF("doc_id", "text")
    val out = Text.knBigramLogProb(docs, discount = 0.75).collect().head
    assert(out.getLong(1) === 5L)
    // bigrams: (a,b) c=2, (b,a) c=2, (a,c) c=1
    // cc(a)=3 n1p(a)=2; cc(b)=2 n1p(b)=1; ncont(a)=ncont(b)=ncont(c)=1; types=3
    val pBgivenA = (2 - 0.75) / 3.0 + (0.75 * 2 / 3.0) * (1 / 3.0)
    val pAgivenB = (2 - 0.75) / 2.0 + (0.75 * 1 / 2.0) * (1 / 3.0)
    val pCgivenA = (1 - 0.75) / 3.0 + (0.75 * 2 / 3.0) * (1 / 3.0)
    val expected = (2 * math.log(pBgivenA) + 2 * math.log(pAgivenB) +
      math.log(pCgivenA)) / 5.0
    assert(out.getDouble(2) === math.BigDecimal(expected)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("knBigramLogProb: per-context probabilities of SEEN continuations sum below 1") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    // rebuild the model tables exactly as the op does, then check the
    // discounting invariant: for every context, seen-continuation mass
    // = 1 − D·n1p/cc·(1 − Σ_seen Pcont) ∈ (0, 1]
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))
    val bi = docs
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(posexplode(slice(col("toks"), 1, 10000)).as(Seq("i", "tok")),
        col("toks"))
      .select(col("tok").as("prev"),
        try_element_at(col("toks"), col("i") + 2).as("next"))
      .filter(col("next").isNotNull)
      .groupBy("prev", "next").agg(count(lit(1)).as("bc"))
      .withColumn("cc", sum("bc").over(w))
      .withColumn("n1p", count(lit(1)).over(w))
    val cont = bi.groupBy("next").agg(count(lit(1)).as("ncont"))
      .crossJoin(broadcast(bi.select("prev", "next").distinct()
        .agg(count(lit(1)).as("tt"))))
    val d = 0.75
    val sums = bi.join(cont, Seq("next"))
      .withColumn("p", greatest(col("bc") - d, lit(0.0)) / col("cc") +
        (lit(d) * col("n1p") / col("cc")) * (col("ncont") / col("tt")))
      .groupBy("prev").agg(sum("p").as("mass"))
      .agg(min("mass"), max("mass")).collect().head
    assert(sums.getDouble(0) > 0.0)
    assert(sums.getDouble(1) <= 1.0 + 1e-9)
  }

  // ---- lDiversity --------------------------------------------------------

  test("lDiversity withholds homogeneous groups k-anonymity would release") {
    val rows = // group A: 3 subjects, all sensitive value 1 (homogeneous)
      (1 to 3).map(i => ("A", s"u$i", 1L, 10.0)) ++
      // group B: 3 subjects, 3 distinct sensitive values
      (1 to 3).map(i => ("B", s"u$i", i.toLong, 10.0)) ++
      // group C: 2 subjects (fails k), diverse
      (1 to 2).map(i => ("C", s"u$i", i.toLong, 10.0))
    val df = rows.toDF("qi", "subj", "sens", "v")
    val out = Relational.lDiversity(df, Seq("qi"), "subj", "sens", "v", k = 3, l = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), Option(r.get(4)), r.getLong(5)))).toMap
    assert(out("A") === ((1L, None, 1L)))           // k passes, l fails → withheld
    assert(out("B") === ((3L, Some(30.0), 0L)))     // both pass → released
    assert(out("C") === ((2L, None, 1L)))           // k fails → withheld
  }

  // ---- cosineTopKSq ------------------------------------------------------

  test("cosineTopKSq refine recovers the exact brute-force ranking") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Sim.cosineTopK(emb, nQueries = 5, k = 5)
      .select("q_id", "c_id", "rnk").collect().toSet
    val sq = Sim.cosineTopKSq(emb, nQueries = 5, k = 5, shortlist = 20)
      .select("q_id", "c_id", "rnk").collect().toSet
    assert(sq === exact)
  }

  test("sq index is codes-only: no full-precision array column may be cached") {
    import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, FloatType}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = Sim.sqIndex(emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v")))
    val arrayElems = idx.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] =>
        f.name -> f.dataType.asInstanceOf[ArrayType].elementType
    }
    assert(arrayElems.toSeq === Seq("codes" -> ByteType),
      s"SQ8 index must hold int8 codes and nothing wider: $arrayElems")
    assert(!idx.schema.fields.exists(f =>
      f.dataType == ArrayType(DoubleType) || f.dataType == ArrayType(FloatType)))
  }

  /** The HOF form the graft_all_cos_i8 kernel replaced: exact integer
    * dots of every candidate's codes against broadcast query codes
    * (the index's own rows below nQueries), then the same shortlist
    * and full-precision refine, every fold an interpreted HOF.
    */
  private def sqHofReference(emb: DataFrame, nQueries: Int, k: Int,
                             shortlist: Int): DataFrame = {
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), lit(0L), (acc, x) => acc + x)
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    def top(n: Int, score: String)(df: DataFrame): DataFrame = df
      .withColumn("rnk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col(score).desc, col("c_id").asc)).cast("long"))
      .filter(col("rnk") <= n)
    val asDouble = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val index = Sim.sqIndex(asDouble).withColumn("ci", col("codes").cast("array<int>"))
    val qCodes = index.filter(col("c_id") < nQueries)
      .select(col("c_id").as("q_id"), col("ci").as("qc"))
    val short = index.join(broadcast(qCodes), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(idot(col("qc"), col("ci")).cast("double") /
          (sqrt(idot(col("qc"), col("qc")).cast("double")) *
           sqrt(idot(col("ci"), col("ci")).cast("double"))), 6).as("adc_r"))
      .transform(top(shortlist, "adc_r"))
      .select(col("q_id"), col("c_id"))
    val vecs = asDouble.withColumn("n", sqrt(dot(col("v"), col("v"))))
    short
      .join(vecs.select(col("vec_id").as("c_id"), col("v").as("cv"), col("n").as("cn")), Seq("c_id"))
      .join(vecs.select(col("vec_id").as("q_id"), col("v").as("qv"), col("n").as("qn")), Seq("q_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("cos_r"))
      .transform(top(k, "cos_r"))
  }

  test("cosineTopKSq kernel and HOF fallback agree bit-for-bit") {
    // integer dots are exact, so the two forms must match EXACTLY,
    // not just approximately — this is the cross-path determinism pin
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val withKernel = rows(Sim.cosineTopKSq(emb, 4, 4, 12))
    val viaHof = rows(sqHofReference(emb, 4, 4, 12))
    assert(withKernel.nonEmpty && withKernel === viaHof)
    CacheScope.flush()
  }

  test("quantizeInt8 dequantization error is below one step") {
    val df = Seq((0L, Array(0.9, -0.4, 0.05, 0.0))).toDF("id", "v")
    val out = df.select(Sim.quantizeInt8(col("v")).as("sq"), col("v"))
      .select(col("v"), col("sq.scale"),
        transform(col("sq.q"), b => b.cast("double") * col("sq.scale")).as("dq"))
      .collect().head
    val v = out.getSeq[Double](0); val scale = out.getDouble(1)
    val dq = out.getSeq[Double](2)
    v.zip(dq).foreach { case (x, y) => assert(math.abs(x - y) <= scale / 2 + 1e-12) }
  }

  // ---- averageHash -------------------------------------------------------

  private def twoTone(size: Int, bright: Int => Boolean): Array[Byte] = {
    val rgb = new Array[Byte](size * size * 3)
    for (p <- 0 until size * size) {
      val v: Byte = if (bright(p)) 255.toByte else 0.toByte
      rgb(p * 3) = v; rgb(p * 3 + 1) = v; rgb(p * 3 + 2) = v
    }
    rgb
  }

  test("averageHash: checkerboard bits, corrupt quarantine, resize invariance") {
    val bright = (p: Int) => (p % 64) < 32
    val img8 = Multimodal.PpmCodec.encode(
      Multimodal.PpmCodec.Image(8, 8, twoTone(8, bright)))
    // 16x16 with 2x2 blocks of the same pattern — nearest-neighbour
    // resize must reproduce the 8x8 hash exactly
    val rgb16 = new Array[Byte](16 * 16 * 3)
    for (y <- 0 until 16; x <- 0 until 16) {
      val v: Byte = if (bright((y / 2) * 8 + x / 2)) 255.toByte else 0.toByte
      val p = (y * 16 + x) * 3
      rgb16(p) = v; rgb16(p + 1) = v; rgb16(p + 2) = v
    }
    val img16 = Multimodal.PpmCodec.encode(Multimodal.PpmCodec.Image(16, 16, rgb16))
    val media = Seq(
      Multimodal.MediaRow(0L, "image", img8, img8.length.toLong, "ppm"),
      Multimodal.MediaRow(1L, "image", img16, img16.length.toLong, "ppm"),
      Multimodal.MediaRow(2L, "image", img8.take(5), 5L, "ppm")
    ).toDS()
    val out = Multimodal.averageHash(media, size = 8).collect()
      .map(h => h.media_id -> h).toMap
    val expected = (0 until 64).map(p => if (bright(p)) '1' else '0').mkString
    assert(out(0L).decoded === 1 && out(0L).ahash === expected)
    assert(out(1L).ahash === expected) // resize path agrees bit-for-bit
    assert(out(2L).decoded === 0 && out(2L).ahash === null)
  }
}
