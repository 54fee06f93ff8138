package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TimeFns

/** F1 — multi-format parse with the reference's fallback order
  * (`/root/reference/extract_bq.py:278-288`): `%Y-%m-%d`, `%Y/%m/%d`,
  * `%d-%m-%Y`, `%d/%m/%Y`; nothing matches → NULL.
  */
class DateParseSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def parse(ss: String*): Seq[Option[String]] =
    ss.toDF("raw")
      .select(TimeFns.parseMultiFormat(col("raw")).cast("string").as("d"))
      .collect().toSeq.map(r => Option(r.getString(0)))

  test("each supported format parses to the same date") {
    assert(parse("2024-03-05", "2024/03/05", "05-03-2024", "05/03/2024")
      === Seq.fill(4)(Some("2024-03-05")))
  }

  test("first matching format wins (ISO preferred over day-first)") {
    // 2024-01-15 could only be ISO (day 2024 is invalid for dd-MM-yyyy),
    // but an all-ambiguous string like 01-02-0003 must resolve by order:
    // yyyy-MM-dd does not match (year 01?), dd-MM-yyyy does.
    assert(parse("2024-01-15") === Seq(Some("2024-01-15")))
  }

  test("unparseable input yields NULL, not an error") {
    assert(parse("not-a-date", "2024-13-40", "") === Seq(None, None, None))
  }

  test("day-first formats accept days above 12") {
    assert(parse("25/12/2024") === Seq(Some("2024-12-25")))
  }
}
