package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Sinks

/** The XML format surface (Spark 4's native spark-xml datasource):
  * round-trip fidelity including markup escaping and null-field
  * omission, and the PERMISSIVE intake's ROW-granularity quarantine —
  * the property that makes a dirty line-delimited XML feed usable at
  * all (the whole-document parse dumps the rest of the split into
  * `_corrupt_record` at the first failure; `multiLine=false` bounds
  * the blast radius to the one bad row).
  */
class XmlSinkSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("event_type", StringType),
    StructField("value_r", DoubleType)))

  test("round trip is lossless, including markup characters and nulls") {
    val dir = Files.createTempDirectory("graft-xml").toString + "/rt"
    val df = Seq(
      (1L, Some("a<b&c>d"), Some(1.5)),
      (2L, Some("plain"), Some(-0.25)),
      (3L, None: Option[String], None: Option[Double]))
      .toDF("event_id", "event_type", "value_r")
    val back = Sinks.roundTrip(df, dir, schema, "xml", Map("rowTag" -> "row"))
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.toString),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(back.toSeq === Seq(
      (1L, Some("a<b&c>d"), Some(1.5)),
      (2L, Some("plain"), Some(-0.25)),
      (3L, None, None)))
  }

  test("permissive intake quarantines exactly the malformed row") {
    val dir = Files.createTempDirectory("graft-xml").toString + "/feed"
    // one bad VALUE (non-numeric long cell) between two good neighbors,
    // all three in the same file: the bad row must not swallow either
    val lines = Seq(
      "<row><event_id>1</event_id><event_type>t1</event_type><value_r>0.5</value_r></row>",
      "<row><event_id>oops</event_id><event_type>bad</event_type><value_r>0.5</value_r></row>",
      "<row><event_id>3</event_id><event_type>t3</event_type><value_r>1.5</value_r></row>")
    spark.createDataset(lines).toDF("value")
      .coalesce(1).write.mode("overwrite").text(dir)
    val got = Sinks.permissiveRead(spark, dir, schema, "xml", Sinks.xmlLineFeed)
    val good = got.filter(col("_corrupt_record").isNull)
      .select("event_id", "event_type").as[(Long, String)]
      .collect().sortBy(_._1)
    val bad = got.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").as[String].collect()
    assert(good.toSeq === Seq((1L, "t1"), (3L, "t3")))
    assert(bad.length === 1)
    assert(bad.head.contains("oops"), "the quarantine column carries the raw line")
  }

  test("streaming twin routes good rows and quarantines raw lines across drops") {
    val base = Files.createTempDirectory("graft-xml-stream").toString
    val (src, good, quar, ckpt) =
      (s"$base/src", s"$base/good", s"$base/quar", s"$base/ckpt")
    val s2 = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType)))

    // drop 1: a malformed VALUE and a malformed MARKUP row between good ones
    Seq(
      "<row><event_id>1</event_id><event_type>a</event_type></row>",
      "<row><event_id>oops</event_id><event_type>bad</event_type></row>",
      "<row><event_id>3</event_id>",
      "<row><event_id>4</event_id><event_type>b</event_type></row>")
      .toDF("value").coalesce(1).write.mode("append").text(src)
    graft.streaming.StreamingCorpus
      .dirtyXmlIntake(spark, src, s2, ckpt, good, quar).awaitTermination()
    assert(spark.read.parquet(good).select("event_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 4L))
    assert(spark.read.parquet(quar).count() === 2)

    // drop 2: the file source resumes from its log — only the new file
    // processes, sinks accumulate
    Seq("<row><event_id>5</event_id><event_type>c</event_type></row>")
      .toDF("value").coalesce(1).write.mode("append").text(src)
    graft.streaming.StreamingCorpus
      .dirtyXmlIntake(spark, src, s2, ckpt, good, quar).awaitTermination()
    assert(spark.read.parquet(good).select("event_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 4L, 5L))
    assert(spark.read.parquet(quar).count() === 2)
  }
}
