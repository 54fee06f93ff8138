package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.SegHashes

/** Law-pins the native graft_seghash kernel (plans/SegHashes.scala)
  * against the declarative chain it replaces —
  * xxhash64(concat_ws(" ", slice(tokens, i*segLen+1, segLen))) over
  * split-on-space tokens with empties dropped — BIT-IDENTICAL hash
  * arrays on the real corpus and on adversarial shapes (multi-space
  * runs, leading/trailing spaces, multibyte unicode, exactly-segLen
  * docs, shorter-than-segLen docs, empty, null).
  */
class SegHashesSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def declarative(df: org.apache.spark.sql.DataFrame, segLen: Int) =
    df.withColumn("toks", filter(split(col("text"), " "), t => t =!= ""))
      .withColumn("hashes",
        when(size(col("toks")) >= segLen,
          transform(
            expr(s"sequence(0, size(toks) div $segLen - 1)"),
            i => xxhash64(concat_ws(" ",
              slice(col("toks"), i * segLen + 1, lit(segLen))))))
          .otherwise(expr("array()").cast("array<bigint>")))
      .select(col("id"), col("hashes"))

  private def native(df: org.apache.spark.sql.DataFrame, segLen: Int) =
    df.select(col("id"),
      SegHashes.column(col("text"), lit(segLen)).as("hashes"))

  test("kernel == declarative chain on the sf0.001 documents corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"), col("text"))
    for (segLen <- Seq(3, 5)) {
      val n = native(docs, segLen)
      val d = declarative(docs, segLen)
      assert(n.exceptAll(d).isEmpty && d.exceptAll(n).isEmpty,
        s"segLen=$segLen diverged")
    }
  }

  test("adversarial shapes: spaces, unicode, boundaries, null") {
    val rows = Seq(
      (1L, "a b c d e f g h i j"),          // exactly 2 segments at 5
      (2L, "  a   b  c d e  "),             // space runs + edges: 1 segment
      (3L, "a b c d"),                      // shorter than segLen: empty
      (4L, ""),                             // empty text: empty
      (5L, "über café 東京 naïve ñ x y"),    // multibyte tokens
      (6L, "a a a a a a a a a a"),          // identical segments hash equal
      (7L, "     "),                        // only spaces: empty
      (8L, (1 to 23).map(i => s"t$i").mkString(" "))) // 4 segments + tail
      .toDF("id", "text")
    val n = native(rows, 5).collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val d = declarative(rows, 5).collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(n === d)
    assert(n(1L).length === 2 && n(3L).isEmpty && n(4L).isEmpty && n(7L).isEmpty)
    assert(n(8L).length === 4)
    assert(n(6L).distinct.length === 1)
    // null text -> null result, matching the built-ins' null semantics
    val withNull = Seq((9L, null.asInstanceOf[String])).toDF("id", "text")
    assert(native(withNull, 5).collect().head.isNullAt(1))
  }

  test("boilerplate operator: kernel path == fallback path end to end") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val viaKernel = ops.Corpus.boilerplate(docs, segLen = 5, minDocs = 2)
    // the operator's pipeline rebuilt over the declarative segment
    // keys (pinned hash-identical above) as the reference
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val segs = docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0, size(toks) div 5 - 1)")).as("i"))
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", slice(col("toks"), col("i") * 5 + 1, lit(5)))).as("seg"))
    val segDf = segs.distinct().groupBy(col("seg")).agg(count(lit(1)).as("n_docs"))
    val fallback = segs.join(segDf, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_boiler"),
        round(avg(when(col("n_docs") >= 2, 1.0).otherwise(0.0)), 4).as("boiler_frac_r"))
    assert(viaKernel.exceptAll(fallback).isEmpty && fallback.exceptAll(viaKernel).isEmpty)
  }
}
