package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.EventOps
import graft.Tables._
import graft.EntrySupport._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2.12 for the declared
  * query inventory. Every query is deterministic: total ORDER BY on a
  * unique key, doubles rounded, timestamps emitted as epoch-micros
  * bigints or formatted strings (never raw timestamp columns — the
  * testdata's TIMESTAMP(NANOS) physical type has no loss-free common
  * representation between Spark and the DuckDB oracle).
  */
object SparkEntry {

  /** Flagship: the reference's core extraction pipeline (SURVEY §7.2) on
    * sf0.001 — scan → non-null user filter → tracked-event IN-list →
    * params extraction → natural-key first-write dedup → time order.
    * Mirrors `/root/reference/extract_bq.py:86-117` + `:155-165`.
    */
  def entry(spark: SparkSession): DataFrame = {
    val s = ensure(spark)
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val tracked = Seq("click", "view", "purchase", "signup", "error")
    val filtered = EventOps.filterIn(EventOps.filterNonNull(ev), tracked)
    val extracted = EventOps.extractJsonLong(filtered, "props", "k", "param_k")
    EventOps
      .dedupFirstWrite(extracted, Seq("user_id", "ts_us", "event_type"), "ts_us", "event_id")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"), col("param_k"))
      .orderBy(col("ts_us"), col("event_id"))
  }

  /** The declared-query registry: one [[Query]] record per query, filed
    * by domain under `graft/queries/`; adding a query means adding one
    * record to its domain file. The maps below are views of it; keys
    * match SURVEY.md §2.12.
    */
  lazy val declared: Seq[Query] =
    EventQueries.all ++ RelationalQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ SimQueries.all ++ CorpusQueries.all ++
      MediaQueries.all ++ SinkQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { q =>
      q.name -> ((spark: SparkSession, dir: String) => q.body(ensure(spark), dir))
    }.toMap

  def oracleSql: Map[String, String] =
    declared.collect { case Query(n, _, Sql(sql), _, _) => n -> sql }.toMap

  /** Queries whose body loads a model driver-side from a qtmp store. */
  def modelStoreReaders: Set[String] = declared.filter(_.modelStore).map(_.name).toSet

  /** Query name → the oracle CTE at its fixture boundary. */
  def oracleFixtureCte: Map[String, String] =
    declared.flatMap(q => q.fixtureCte.map(q.name -> _)).toMap

  /** Materialize every registered fixture store, then warm the
    * driver-side model memos the queries read at construct. Queries
    * materialize their stores lazily too; Bench calls this BEFORE the
    * timed region so store construction — an input, like the testdata
    * itself — isn't billed to whichever query happens to touch it
    * first.
    */
  def prepare(spark: SparkSession, sfDir: String): Unit = {
    val s = ensure(spark)
    EntrySupport.stores.foreach(materialize(_, s, sfDir))
    qualityModel(s, sfDir)
    pqModel(s, sfDir)
    bpeMerges(s, sfDir)
    spmModel(s, sfDir)
    tokPostingsQueryLocal(s, sfDir, 10)
    tokPostingsQueryLocal(s, sfDir, 20)
  }

  /** Oracle SQL whose text depends on an engine-built MODEL (data, not
    * code): generated at Verify time against the actual sfDir and
    * merged over [[oracleSql]] into oracle_sql.json. The pinned models
    * are trained once per call, independently of the stores the query
    * bodies read; DuckDB then recomputes the whole search or encode
    * from the embedded literals. Training QUALITY stays graded by the
    * specs (KmeansIvfSpec's recall bound and the like).
    */
  def oracleSqlDynamic(spark: SparkSession, sfDir: String): Map[String, String] = {
    val models = new PinnedModels(ensure(spark), sfDir)
    declared.collect { case Query(n, _, Pinned(sql), _, _) =>
      n -> sql(models)
    }.toMap
  }
}
