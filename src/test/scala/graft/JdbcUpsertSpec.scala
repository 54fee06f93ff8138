package graft

import java.sql.DriverManager
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Sinks

/** The JDBC conflict-skip upsert, exercised for real against embedded
  * Derby (in Spark's own classpath): executor-side connections,
  * addBatch/executeBatch with a non-divisible batch size, both commit
  * modes, parallel partition writers, and the idempotence +
  * first-write-wins contract the reference's ON CONFLICT DO NOTHING
  * provides (`/root/reference/extract_bq.py:216-258`).
  */
class JdbcUpsertSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private var dbN = 0
  private def freshDb(): String = synchronized {
    dbN += 1
    val url = s"jdbc:derby:memory:upsert$dbN;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE events_sink (
        |  user_id BIGINT NOT NULL, ts_us BIGINT NOT NULL,
        |  event_type VARCHAR(40) NOT NULL, payload VARCHAR(200),
        |  PRIMARY KEY (user_id, ts_us, event_type))""".stripMargin)
    conn.close()
    url
  }

  private def contents(url: String): Map[(Long, Long, String), String] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery("SELECT user_id, ts_us, event_type, payload FROM events_sink")
      val b = Map.newBuilder[(Long, Long, String), String]
      while (rs.next()) b += ((rs.getLong(1), rs.getLong(2), rs.getString(3)) -> rs.getString(4))
      b.result()
    } finally conn.close()
  }

  private val keys = Seq("user_id", "ts_us", "event_type")

  test("insert, conflict-skip on overlap, first write wins") {
    val url = freshDb()
    val batch1 = (1 to 100)
      .map(i => (i.toLong, 1000L + i, "click", s"first$i"))
      .toDF("user_id", "ts_us", "event_type", "payload")
    val n1 = Sinks.jdbcUpsert(batch1, url, "events_sink", keys,
      Sinks.insertWhereAbsentDialect, batchSize = 7)
    assert(n1 === 100L)
    // overlap 51-100 with CHANGED payloads; 101-150 new
    val batch2 = (51 to 150)
      .map(i => (i.toLong, 1000L + i, "click", s"second$i"))
      .toDF("user_id", "ts_us", "event_type", "payload")
    val n2 = Sinks.jdbcUpsert(batch2, url, "events_sink", keys,
      Sinks.insertWhereAbsentDialect, batchSize = 7)
    assert(n2 === 50L)
    val rows = contents(url)
    assert(rows.size === 150)
    assert(rows((51L, 1051L, "click")) === "first51")   // conflict skipped, not updated
    assert(rows((150L, 1150L, "click")) === "second150")
  }

  test("re-running the same batch is a no-op (idempotent ingestion)") {
    val url = freshDb()
    val batch = (1 to 40)
      .map(i => (i.toLong, 2000L + i, "view", s"p$i"))
      .toDF("user_id", "ts_us", "event_type", "payload")
    assert(Sinks.jdbcUpsert(batch, url, "events_sink", keys,
      Sinks.insertWhereAbsentDialect) === 40L)
    assert(Sinks.jdbcUpsert(batch, url, "events_sink", keys,
      Sinks.insertWhereAbsentDialect) === 0L)
    assert(contents(url).size === 40)
  }

  test("parallel partition writers with single-commit mode land every row") {
    val url = freshDb()
    val big = (1 to 500)
      .map(i => (i.toLong % 50, 3000L + i, "purchase", s"p$i"))
      .toDF("user_id", "ts_us", "event_type", "payload")
      .repartition(8)
    val n = Sinks.jdbcUpsert(big, url, "events_sink", keys,
      Sinks.insertWhereAbsentDialect, batchSize = 33, commitPerBatch = false)
    assert(n === 500L)
    assert(contents(url).size === 500)
  }

  test("streaming foreachBatch into the JDBC sink is exactly-once, even after checkpoint loss") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val url = freshDb()
    val base = Files.createTempDirectory("graft-jdbc-stream").toString
    val src = s"$base/src"
    val ckpt = s"$base/ckpt"
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("event_type", StringType), StructField("payload", StringType)))
    val t0 = System.currentTimeMillis() * 1000L
    val toDb: org.apache.spark.sql.DataFrame => Long =
      b => Sinks.jdbcUpsert(b, url, "events_sink", keys, Sinks.insertWhereAbsentDialect)

    Seq((1L, t0 + 1, "click", "a"), (2L, t0 + 2, "view", "b"),
      (1L, t0 + 1, "click", "dup-in-stream"))
      .toDF("user_id", "ts_us", "event_type", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    graft.streaming.StreamingIncremental.start(
      spark, src, schema, "ts_us", keys, ckpt, toDb).awaitTermination()
    assert(contents(url).size === 2)

    // new file: one replayed key + one new row; resumed checkpoint
    Seq((2L, t0 + 2, "view", "replay"), (3L, t0 + 3, "buy", "c"))
      .toDF("user_id", "ts_us", "event_type", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    graft.streaming.StreamingIncremental.start(
      spark, src, schema, "ts_us", keys, ckpt, toDb).awaitTermination()
    val after2 = contents(url)
    assert(after2.size === 3)
    assert(after2((2L, t0 + 2, "view")) === "b") // replay skipped, original kept

    // checkpoint loss: full source replay, database absorbs every row
    graft.streaming.StreamingIncremental.start(
      spark, src, schema, "ts_us", keys, s"$base/ckpt2", toDb).awaitTermination()
    assert(contents(url) === after2)
  }

  test("postgres dialect renders the reference statement") {
    val d = Sinks.postgresOnConflictDialect(
      "events", Seq("a", "b", "c"), Seq("a", "b"))
    assert(d.sql.contains("ON CONFLICT (a, b) DO NOTHING"))
    assert(d.bindCols === Seq("a", "b", "c"))
  }
}
