package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table readers over the driver-generated testdata star schema
  * (see /root/repo/TESTDATA.md).
  *
  * The `events` table is the analogue of the reference's date-sharded GA4
  * export (`/root/reference/extract_bq.py:95-110`): its `ts` column is
  * parquet TIMESTAMP(NANOS), which Spark only reads as a raw long via
  * `spark.sql.legacy.parquet.nanosAsLong` — so every session builder in
  * this project sets that flag, and [[Tables.events]] normalizes to
  * `ts_us` (epoch MICROSECONDS, bigint). Epoch-micros is exactly the
  * reference's storage model for `event_timestamp`
  * (`/root/reference/flask_server.py:66,96,213,256` — BIGINT micros), so
  * the whole engine standardizes on it.
  */
object Tables {

  /** Session-scoped configs every graft SparkSession needs — safe to
    * set at runtime on an externally-built session (SparkEntry.ensure
    * does exactly that). Kept in one place so Verify / Bench / tests
    * can't drift apart.
    */
  def sessionConfigs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // testdata events.ts is TIMESTAMP(NANOS); read as raw long nanos
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Coalesce post-shuffle partitions to the advisory SIZE rather than
    // preserving parallelism: a small intermediate collapses to one or
    // two tasks instead of 32 micro-tasks (measured ~7% off the bench
    // total), and at 100 TB size-targeted reducers are exactly what
    // keeps shuffle partitions within executor memory.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // Trust the in-bucket sort of bucketed tables (reported only when a
    // bucket is exactly one file — every graft bucketed write
    // repartitions on the bucket key first, which guarantees that), so
    // sort-merge probes against a bucketed standing index scan it with
    // zero exchanges AND zero sorts; without this a corpus-sized index
    // would be re-sorted per nightly probe for no reason.
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    // Scan-task count derives from DATA SIZE, never from core count:
    // the default minPartitionNum is the session's
    // defaultParallelism, so the same table scanned on a 32-core
    // driver becomes 32 splits and on an 8-core driver 8 splits —
    // task count tracking cores over a fixed input is exactly the
    // anti-scaling measured on a 32-core host (every sub-second query paid
    // 32-way task launch on KB-scale splits; the whole bench ran 24%
    // faster at 8 cores on the same binary). With the floor at 1,
    // split sizing is purely byte-driven — maxPartitionBytes (128 MB)
    // and openCostInBytes (4 MB) — which is unchanged at 100 TB
    // (bytes/128 MB splits dwarf any core count) and stops minting
    // micro-tasks at test scale. Parallelism for per-row-HEAVY
    // consumers comes from the data-proportional [[fanWidth]] spread,
    // not from shredding a megabyte scan 32 ways.
    "spark.sql.files.minPartitionNum" -> "1",
    // Pack far fewer small files per scan split: every
    // multi-file layout this engine writes gets its file count from
    // the data-proportional [[fanWidth]] — for row formats (JSONL/XML/
    // CSV feeds) that count IS the read-back parse-parallelism
    // ceiling, and at the default 4 MB open cost the planner packs
    // ~30 such sub-MB files into one split (each file is charged only
    // size+openCost against maxSplitBytes), silently serializing the
    // parse the write side deliberately fanned out. At 16 MB each
    // small file charges 16 MB of packing budget, so a 128 MB split
    // holds at most ~7 of them instead of ~30 (measured: intake trio
    // 0.79/0.62/0.56 s → 0.33/0.24/0.26 s; media decode 0.18→0.12;
    // bigram LM 0.41→0.32 — and 128 MB open cost, i.e. strict one-
    // file-per-task, measured WORSE: 1-file splits over-shard the
    // parquet fixture dirs). At 100 TB, compacted 128 MB-1 GB files
    // exceed maxPartitionBytes and split by byte range — this knob
    // never touches them; pathological millions of tiny EXTERNAL
    // files remain an upstream-compaction problem, 4× more
    // tasks there than the 4 MB default would mint.
    "spark.sql.files.openCostInBytes" -> "16777216"
  )

  /** STATIC configs — only settable on a session builder; setting them
    * at runtime throws. They tune cost only: a session built without
    * them (say, an external one handed to SparkEntry.ensure) runs the
    * same plans, the graft.plans kernels included, since those are
    * built as Columns rather than resolved by name.
    */
  def builderConfigs: Seq[(String, String)] = sessionConfigs ++ Seq(
    // The default codegen class cache holds 100 entries; a workload of
    // 136 distinct queries x several codegen units each thrashes it,
    // so every execution re-compiles Janino even in steady state. A
    // long-lived warehouse JVM serving a mixed workload wants the
    // compiled classes resident; entries are class metadata, so the
    // memory cost is trivial next to executor heap.
    "spark.sql.codegen.cache.maxEntries" -> "8192"
  )

  /** The one local session builder: `local[cpus]`, one shuffle
    * partition per core, no UI, [[builderConfigs]], and a throwaway
    * warehouse dir so `saveAsTable` targets (bucketed indexes) never
    * land in the working directory. Smoke, Verify, Bench and the test
    * session all build through here; a caller that wants
    * a different runtime SQL conf sets it on the returned session.
    */
  def localSession(cpus: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    builderConfigs.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }

  /** Parquet schema per path, inferred once per JVM. A catalog-backed
    * deployment owns table schemas; re-running footer-based inference
    * on every query is a per-query driver tax (a footer read, and a
    * distributed merge job once the table has many files) that buys
    * nothing on a static table. First read of a path infers and
    * caches; subsequent reads plan straight from the cached schema.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Fact/corpus tables whose consumers do real per-row work (tokenize,
    * JSON parse, vector math). At test scale each ships as ONE parquet
    * split, so without an explicit spread every map-side operator over
    * them runs single-threaded — the reader round-robins the scan to the
    * data-proportional [[fanWidth]] of the table's own bytes, so the
    * cached base frame (and every scan) fans out. This reader is the
    * one place that spread is decided: query bodies over these tables
    * add none of their own. At 100 TB the files bring at least that many
    * splits themselves, and a round-robin there would be a full shuffle
    * of the table, so [[readParquetCached]] does not spread a scan that
    * is already that wide. Predicates and column pruning push through
    * Repartition, so nothing is lost at the scan. Dimension tables stay
    * single-split: they feed broadcasts, where extra partitions are
    * pure task overhead.
    */
  private val spreadTables = Set("events", "documents", "embeddings", "lineitem")

  /** Bytes on disk under `path` (recursive), memoized — static inputs
    * and write-once fixtures by design; [[invalidatePath]] evicts when
    * a writer does rewrite. Unknown/unlistable paths report MaxValue,
    * which makes [[fanWidth]] fall back to its parallelism cap.
    */
  private val pathBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def pathBytes(spark: SparkSession, path: String): Long =
    pathBytesCache.computeIfAbsent(path, { p =>
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(hp).getLength
      } catch { case _: Throwable => java.lang.Long.MAX_VALUE }
    })

  /** Compressed input bytes per fan-out partition: see [[fanWidth]]. */
  private val FanTargetBytes: Long = 256L * 1024

  /** DATA-PROPORTIONAL fan-out width for per-row-heavy map work
    * (tokenize, JSON/XML parse, codec decode, vector math) over
    * `bytes` of compressed columnar input: one round-robin partition
    * per [[FanTargetBytes]] (256 KiB), clamped to
    * [1, defaultParallelism].
    *
    * Rationale: the per-task scheduler/launch floor is ~2-5 ms (measured
    * on a 32-core host); 256 KiB of zstd parquet is
    * ~1 MB of raw text ≈ 20-100 ms of tokenize/parse/decode work per
    * task — an order of magnitude over the floor — while a
    * core-count-derived width shreds a sub-MB input into micro-tasks
    * whose launch overhead exceeds their work (the measured 8-vs-32
    * core inversion). At production scale the byte term exceeds any
    * core count and the clamp hands back exactly the old behavior:
    * width = cluster parallelism.
    */
  def fanWidth(spark: SparkSession, bytes: Long, targetMult: Double = 1.0): Int = {
    val target = math.max(1L, (targetMult * FanTargetBytes).toLong)
    val byData =
      if (bytes >= java.lang.Long.MAX_VALUE - 1) Long.MaxValue
      else math.ceil(bytes.toDouble / math.max(1L, target)).toLong
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong, byData)).toInt
  }

  /** Analyzed-relation memo per (session, path, spread). A fresh
    * `spark.read.parquet` pays a footer schema-merge JOB plus a file
    * listing at EVERY query construction — sampled at ~20% of the
    * whole bench's driver-side plan time across 202 queries (timed
    * around query construction, before execution). A catalog-backed
    * deployment resolves a table to its relation once and serves it
    * to every query; this memo is that catalog. Static under a live
    * session by design (testdata and write-once fixtures);
    * [[invalidatePath]] drops entries when a writer does rewrite a
    * path.
    */
  private val dfCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), DataFrame]()

  /** Per-session never-reused id (an identity hash can be reused after
    * a dead session is GC'd, which could serve a defunct session's
    * DataFrame to a new one) plus a weak handle for purging: entries
    * for stopped/collected sessions are dropped lazily on the next
    * miss, so the memo stays bounded in a long-lived multi-session
    * JVM. `sessionIds` is weak-KEYED (identity semantics — SparkSession
    * doesn't override equals), so it never pins a session in memory.
    */
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private val liveSessions =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.WeakReference[SparkSession]]()

  private def sessionId(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, { s =>
      val id = java.util.UUID.randomUUID().toString
      liveSessions.put(id, new java.lang.ref.WeakReference(s))
      id
    })

  private def purgeDeadSessions(): Unit = {
    val deadIds = new java.util.HashSet[String]()
    liveSessions.forEach { (id, ref) =>
      val s = ref.get()
      if (s == null || s.sparkContext.isStopped) deadIds.add(id)
    }
    if (!deadIds.isEmpty) {
      deadIds.forEach(liveSessions.remove(_))
      dfCache.keySet.removeIf(k => deadIds.contains(k._1))
    }
  }

  /** Memoized parquet read — schema inferred once per path, files
    * listed once per (session, path), optional round-robin spread
    * baked into the memoized frame. Keyed by a stable, never-reused
    * per-session id; dead sessions' entries are purged on miss.
    *
    * `spread` is a CAP: callers pass their parallelism budget, and the
    * baked-in round-robin width is the data-proportional [[fanWidth]]
    * of the path's actual bytes — never more partitions than the data
    * warrants, never more than the caller's budget. A scan that
    * already has that many splits (estimated as ⌈bytes /
    * `spark.sql.files.maxPartitionBytes`⌉) is not spread at all: at
    * 100 TB the files bring the width themselves, and a round-robin
    * would only shuffle the whole table.
    */
  def readParquetCached(spark: SparkSession, path: String, spread: Int = 0): DataFrame = {
    // Purge BEFORE the computeIfAbsent: ConcurrentHashMap forbids the
    // mapping function from mutating other mappings (removeIf inside
    // the bin lock can drop the entry being computed or deadlock two
    // concurrent purging misses) — so the lazy dead-session sweep runs
    // outside the lambda, on every call; it is a cheap no-op when
    // nothing died.
    purgeDeadSessions()
    val width =
      if (spread <= 1) spread
      else {
        val bytes = pathBytes(spark, path)
        val splits = math.ceil(
          bytes.toDouble / spark.sessionState.conf.filesMaxPartitionBytes)
        val w = math.min(spread, fanWidth(spark, bytes))
        if (splits >= w) 0 else w
      }
    dfCache.computeIfAbsent((sessionId(spark), path, width), { _ =>
      val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
      val df = spark.read.schema(schema).parquet(path)
      if (width > 1) df.repartition(width) else df
    })
  }

  /** Drop memoized relations/schema for a path a writer just rewrote —
    * called by the write-once materializers on their write path, so a
    * rebuilt fixture is never served through a stale file listing.
    */
  def invalidatePath(path: String): Unit = {
    schemaCache.remove(path)
    pathBytesCache.remove(path)
    dfCache.keySet.removeIf(k => k._2 == path)
  }

  /** Memoized CATALOG-table resolution — the bucketed fixture tables'
    * `spark.table(name)` pays catalog lookup + relation resolution +
    * file-index construction on every query construct; a
    * catalog-backed warehouse resolves a static table once (measured
    * as part of the bucketed family's 0.2-0.6 s per-construct
    * driver cost). Same session-keyed memo as [[readParquetCached]];
    * valid because every graft bucketed fixture is write-once
    * (EntrySupport.writeOnce) under a live session.
    */
  def tableCached(spark: SparkSession, name: String): DataFrame = {
    purgeDeadSessions()
    dfCache.computeIfAbsent((sessionId(spark), s"table:$name", 0),
      _ => spark.table(name))
  }

  /** Evict a [[tableCached]] memo entry — called by the one writer
    * (EntrySupport.writeOnce) on its write branch so the memo can
    * never outlive a fixture rewrite (`invalidatePath` matches on path,
    * which the `table:` keys don't carry).
    */
  def invalidateTable(name: String): Unit =
    dfCache.keySet.removeIf(k => k._2 == s"table:$name")

  /** Bytes-per-task target multiplier per spread table: lineitem's
    * consumers are columnar aggregates/joins (an order of magnitude
    * more bytes/s per core than text parse or vector math), so its
    * fan-out tasks carry 4× the bytes of the parse-heavy tables.
    */
  private def spreadTargetMult(name: String): Double =
    if (name == "lineitem") 4.0 else 1.0

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val n =
      if (spreadTables(name)) fanWidth(spark, pathBytes(spark, path), spreadTargetMult(name))
      else 0
    readParquetCached(spark, path, n)
  }

  /** events with `ts_us` (epoch micros, bigint) added. `ts` is kept
    * for callers that want it; most queries should use `ts_us`.
    *
    * The generator has shipped `ts` in two physical forms —
    * TIMESTAMP(NANOS) (readable only as a raw nanos long, via the
    * legacy flag) and TIMESTAMP(MICROS) NTZ — so the normalization
    * dispatches on the INFERRED type rather than assuming either:
    * integer `div` keeps the nanos path a bigint (no double round
    * trip); the NTZ path casts through TIMESTAMP (session tz is pinned
    * UTC, so the naive value is taken as UTC — exactly how DuckDB's
    * `epoch_us(ts)` treats it) and takes `unix_micros`. Both yield the
    * same bigint epoch-micros for the all-positive timestamps in the
    * data, so every downstream query and oracle is physical-type
    * agnostic.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val t = table(spark, sfDir, "events")
    val tsUs = t.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    t.withColumn("ts_us", tsUs)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Epoch-micros literals used by the deterministic query set (UTC).
    * 2024-01-10 / 2024-01-15 / 2024-01-20 midnight.
    */
  val D2024_01_10_US: Long = 1704844800000000L
  val D2024_01_15_US: Long = 1705276800000000L
  val D2024_01_20_US: Long = 1705708800000000L
}
