package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Sinks

/** The PERMISSIVE CSV intake (the third member of the dirty-feed trio
  * beside q_json_intake / q_xml_intake): a cell that fails its schema
  * type quarantines exactly that ROW to `_corrupt_record` — neighbors
  * in the same file are untouched — and the raw line survives in the
  * quarantine column. Plus the streaming twin's route-and-resume
  * contract.
  */
class CsvIntakeSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("event_type", StringType),
    StructField("value_r", DoubleType)))

  test("permissive intake quarantines exactly the malformed row") {
    val dir = Files.createTempDirectory("graft-csv").toString + "/feed"
    val lines = Seq(
      "1,t1,0.5",
      "oops,bad,0.5",
      "3,t3,1.5")
    spark.createDataset(lines).toDF("value")
      .coalesce(1).write.mode("overwrite").text(dir)
    val got = Sinks.permissiveRead(spark, dir, schema, "csv")
    val good = got.filter(col("_corrupt_record").isNull)
      .select("event_id", "event_type").as[(Long, String)]
      .collect().sortBy(_._1)
    val bad = got.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").as[String].collect()
    assert(good.toSeq === Seq((1L, "t1"), (3L, "t3")))
    assert(bad.length === 1)
    assert(bad.head.contains("oops"), "the quarantine column carries the raw line")
  }

  test("empty cells read back as NULL, not as a shifted row") {
    val dir = Files.createTempDirectory("graft-csv").toString + "/nulls"
    spark.createDataset(Seq("7,t7,", "8,,0.25")).toDF("value")
      .coalesce(1).write.mode("overwrite").text(dir)
    val got = Sinks.permissiveRead(spark, dir, schema, "csv")
      .filter(col("_corrupt_record").isNull)
      .select("event_id", "event_type", "value_r")
      .collect().sortBy(_.getLong(0))
    assert(got.length === 2)
    assert(got(0).getLong(0) === 7L && got(0).getString(1) === "t7" && got(0).isNullAt(2))
    assert(got(1).getLong(0) === 8L && got(1).isNullAt(1) && got(1).getDouble(2) === 0.25)
  }

  test("streaming twin routes good rows and quarantines raw lines across drops") {
    val base = Files.createTempDirectory("graft-csv-stream").toString
    val (src, good, quar, ckpt) =
      (s"$base/src", s"$base/good", s"$base/quar", s"$base/ckpt")
    val s2 = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType)))

    // drop 1: a malformed long cell between good rows
    Seq("1,a", "oops,bad", "4,b")
      .toDF("value").coalesce(1).write.mode("append").text(src)
    graft.streaming.StreamingCorpus
      .dirtyCsvIntake(spark, src, s2, ckpt, good, quar).awaitTermination()
    assert(spark.read.parquet(good).select("event_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 4L))
    assert(spark.read.parquet(quar).count() === 1)

    // drop 2: the file source resumes from its log — only the new file
    // processes, sinks accumulate
    Seq("5,c")
      .toDF("value").coalesce(1).write.mode("append").text(src)
    graft.streaming.StreamingCorpus
      .dirtyCsvIntake(spark, src, s2, ckpt, good, quar).awaitTermination()
    assert(spark.read.parquet(good).select("event_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 4L, 5L))
    assert(spark.read.parquet(quar).count() === 1)
  }
}
