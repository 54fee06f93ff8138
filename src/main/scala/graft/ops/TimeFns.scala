package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar date/time capabilities (SURVEY.md §2.9), mirrored from the
  * reference's hand-rolled Python helpers. All pure built-ins —
  * codegen'd, no UDFs.
  */
object TimeFns {

  /** F1 — multi-format date parse with the reference's exact fallback
    * order: `%Y-%m-%d`, `%Y/%m/%d`, `%d-%m-%Y`, `%d/%m/%Y`
    * (`/root/reference/extract_bq.py:278-288`); no format matches →
    * NULL (the reference raises; in a columnar engine the per-row
    * equivalent is NULL + a downstream null-count check).
    * `try_to_date` because ANSI mode is on.
    */
  val parseFormats: Seq[String] = Seq("yyyy-MM-dd", "yyyy/MM/dd", "dd-MM-yyyy", "dd/MM/yyyy")

  def parseMultiFormat(c: Column): Column =
    coalesce(parseFormats.map(f => try_to_date(c, f)): _*)

  /** F2 — `YYYY-MM-DD` → `YYYYMMDD` shard-suffix reformat
    * (`/root/reference/extract_bq.py:99-100`).
    */
  def toSuffix(ts: Column): Column = date_format(ts, "yyyyMMdd")

  /** F6 — ISO-8601 second-precision format
    * (`/root/reference/flask_server.py:213` `.isoformat()`).
    */
  def toIso(ts: Column): Column = date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")

  /** F4 — epoch-micros ↔ timestamp, the reference's `/1e6` and `*1e6`
    * conversions (`/root/reference/flask_server.py:66,96,213,256`).
    */
  def microsToTs(us: Column): Column = timestamp_micros(us)
  def tsToMicros(ts: Column): Column = unix_micros(ts)

  /** F3 — relative date arithmetic (`now - N days` / `- N hours`,
    * `/root/reference/extract_bq.py:340-342`,
    * `/root/reference/flask_server.py:64-66`) — exposed against an
    * explicit anchor column so query results stay deterministic.
    */
  def minusDays(ts: Column, n: Int): Column = ts - expr(s"INTERVAL $n DAYS")
  def plusHours(ts: Column, n: Int): Column = ts + expr(s"INTERVAL $n HOURS")

  /** Demo frame over events: every F-capability on one pass. */
  def dateKitchenSink(events: DataFrame): DataFrame = {
    val ts = timestamp_micros(col("ts_us"))
    events.select(
      col("event_id"),
      toSuffix(ts).as("ymd"),
      toIso(ts).as("iso"),
      date_format(minusDays(ts, 7), "yyyy-MM-dd HH:mm:ss").as("minus_7d"),
      date_format(plusHours(ts, 36), "yyyy-MM-dd HH:mm:ss").as("plus_36h"),
      datediff(to_date(ts), lit("2024-01-01").cast("date")).cast("long").as("days_since"))
  }
}
