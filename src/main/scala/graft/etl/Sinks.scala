package graft.etl

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.commons.io.FileUtils
import graft.ops.EventOps

/** Sink protocols (SURVEY.md §2.1 S4-S6). Parquet/CSV directories stand
  * in for the reference's Postgres table; the upsert protocol is the
  * anti-join-then-append form of `INSERT ... ON CONFLICT DO NOTHING`
  * (`/root/reference/extract_bq.py:220`) — correct under single-writer,
  * which the incremental orchestrator guarantees (the reference's
  * single-flight guard, `/root/reference/flask_server.py:86-90`).
  */
object Sinks {

  /** S4 — format round trip (the reference's CSV export, and the ORC,
    * JSON-lines and XML surfaces): write `df` to `dir` as `format`, then re-read it
    * with the explicit `schema` — never inferred, the reference's
    * schemas are always fixed, and inference would cost an extra pass
    * and can widen types. Returns the re-read frame so round-trip
    * fidelity is checkable. `options` go to both the writer and the
    * reader: `header` for CSV, `rowTag` for XML. The JSON writer emits
    * the shortest representation that parses back to the same IEEE
    * double; the XML writer escapes markup characters in string values
    * and omits elements for nulls, and the reader reverses both.
    */
  def roundTrip(df: DataFrame, dir: String, schema: StructType, format: String,
                options: Map[String, String] = Map.empty): DataFrame = {
    df.write.mode("overwrite").options(options).format(format).save(dir)
    df.sparkSession.read.schema(schema).options(options).format(format).load(dir)
  }

  /** Options of the line-delimited XML feed [[permissiveRead]] takes:
    * one `<row>…</row>` per line (`multiLine=false`). That is what keeps
    * quarantine granularity at ONE ROW — the default whole-document
    * parse dumps the entire remaining split into `_corrupt_record` at
    * the first failure (and at 100 TB a line-delimited feed is also
    * what makes the scan splittable at all, exactly like JSONL vs
    * multi-line JSON).
    */
  val xmlLineFeed: Map[String, String] = Map("rowTag" -> "row", "multiLine" -> "false")

  /** PERMISSIVE intake with corrupt-record routing — the real-world
    * dirty-feed contract for the JSONL, line-delimited XML
    * ([[xmlLineFeed]]) and CSV surfaces: a malformed LINE, or a cell
    * that fails its schema type (a non-numeric long), lands in a
    * `_corrupt_record` column instead of killing the read; well-formed
    * neighbors parse normally. The caller gets one frame with both, to
    * count/route/quarantine.
    *
    * The cache is REQUIRED, not an optimization: Spark refuses queries
    * that reference only the internal corrupt-record column of an
    * unmaterialized scan (SPARK-21610) — persisting first is the
    * documented pattern.
    */
  def permissiveRead(spark: SparkSession, dir: String, schema: StructType, format: String,
                     options: Map[String, String] = Map.empty): DataFrame =
    graft.CacheScope.cached(
      spark.read.schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
        .options(options)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .format(format).load(dir))

  /** S5 — batched append: Spark writes one file per partition per
    * batch; append mode accumulates (the `execute_batch` analogue,
    * `/root/reference/extract_bq.py:247-252`).
    */
  def append(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)

  def overwrite(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  /** Small-file compaction: rewrite a directory into `numFiles`
    * right-sized parquet files. Long-running append pipelines (the
    * incremental upsert sink) accumulate a file or two per run, one per
    * data-sized partition of the run's write (see [[upsertAppend]]);
    * at scale the fix is a periodic compaction pass sized so each file
    * is ~128MB-1GB. Writes to a temp dir then swaps, so a crash
    * mid-compact never loses the sink.
    */
  def compact(spark: SparkSession, dir: String, numFiles: Int): Unit = {
    val tmp = dir + ".compacting"
    spark.read.parquet(dir).repartition(numFiles)
      .write.mode("overwrite").parquet(tmp)
    val target = Paths.get(dir)
    val backup = Paths.get(dir + ".old")
    FileUtils.deleteQuietly(backup.toFile)
    // Files.move throws on failure (unlike File.renameTo, which returns
    // false and would let a failed swap fall through to the backup
    // delete below — losing the only copy of the sink).
    Files.move(target, backup)
    try Files.move(Paths.get(tmp), target)
    catch { case e: Throwable =>
      Files.move(backup, target) // roll back: restore the original sink
      throw e
    }
    // Only drop the backup once the swapped-in sink is really there.
    if (!Files.isDirectory(target) || !Files.exists(target.resolve("_SUCCESS")))
      throw new IllegalStateException(
        s"compact: swapped target $dir is missing or incomplete; backup kept at $backup")
    FileUtils.deleteQuietly(backup.toFile)
  }

  /** Conflict-skip insert statement for a SQL dialect: the statement
    * text plus the row fields to bind, in bind order.
    */
  final case class UpsertDialect(sql: String, bindCols: Seq[String])

  /** The reference's exact statement (`/root/reference/extract_bq.py:216-258`):
    * Postgres `INSERT ... ON CONFLICT (keys) DO NOTHING`. One bind per
    * column; the conflict check is atomic in the engine.
    */
  def postgresOnConflictDialect(table: String, cols: Seq[String], keys: Seq[String]): UpsertDialect =
    UpsertDialect(
      s"""INSERT INTO $table (${cols.mkString(", ")})
         |VALUES (${cols.map(_ => "?").mkString(", ")})
         |ON CONFLICT (${keys.mkString(", ")}) DO NOTHING""".stripMargin,
      cols)

  /** Insert-if-absent for engines without ON CONFLICT (Derby, the
    * embedded database this harness CAN run): binds every column, then
    * the key columns again for the NOT EXISTS probe. Safe when each
    * natural key is written by one partition (see [[jdbcUpsert]]).
    */
  def insertWhereAbsentDialect(table: String, cols: Seq[String], keys: Seq[String]): UpsertDialect =
    UpsertDialect(
      s"""INSERT INTO $table (${cols.mkString(", ")})
         |SELECT ${cols.map(_ => "?").mkString(", ")} FROM SYSIBM.SYSDUMMY1
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM $table WHERE ${keys.map(k => s"$k = ?").mkString(" AND ")})""".stripMargin,
      cols ++ keys)

  /** Real-database upsert (SURVEY §7.4): per-partition batched
    * conflict-skip insert — the reference's `execute_batch(page_size=1000)`
    * loop (`/root/reference/extract_bq.py:247-252`) becomes N parallel
    * writers, one connection per partition. `commitPerBatch = true`
    * mirrors extract_bq's commit-every-page; `false` mirrors
    * flask_server.py:196's single commit per partition.
    *
    * Returns the number of rows actually inserted (the reference's
    * `cursor.rowcount` accounting), summed across partitions via a
    * LongAccumulator — no collect.
    *
    * Correctness under parallel writers: the frame is always
    * hash-partitioned on the natural key first, so all rows for one key
    * are written by one partition and a NOT-EXISTS dialect cannot race
    * against a sibling writer. An atomic dialect (Postgres ON CONFLICT)
    * would not need the pre-shuffle for correctness, but it is still the
    * right 100 TB shape — it also dedupes writer/lock contention per key
    * range. Exercised end-to-end against embedded Derby in
    * JdbcUpsertSpec.
    */
  def jdbcUpsert(
      df: DataFrame, url: String, table: String, keys: Seq[String],
      dialect: (String, Seq[String], Seq[String]) => UpsertDialect,
      batchSize: Int = 1000,
      commitPerBatch: Boolean = true): Long = {
    val cols = df.schema.fieldNames.toSeq
    val d = dialect(table, cols, keys)
    val bindIdx = d.bindCols.map(c => cols.indexOf(c)).toArray
    require(bindIdx.forall(_ >= 0), s"dialect binds unknown column in ${d.bindCols}")
    val inserted = df.sparkSession.sparkContext.longAccumulator("jdbc_upsert_inserted")
    df.repartition(keys.map(df(_)): _*).foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.hasNext) {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(d.sql)
          rows.grouped(batchSize).foreach { batch =>
            batch.foreach { r =>
              var i = 0
              while (i < bindIdx.length) {
                ps.setObject(i + 1, r.get(bindIdx(i))); i += 1
              }
              ps.addBatch()
            }
            inserted.add(ps.executeBatch().map(_.toLong.max(0L)).sum)
            if (commitPerBatch) conn.commit()
          }
          if (!commitPerBatch) conn.commit()
          ps.close()
        } finally conn.close()
      }
    }
    inserted.value
  }

  /** Warehouse-scale Postgres load — the form the reference's
    * row-batched `execute_batch(INSERT ... ON CONFLICT)` loop
    * (`/root/reference/extract_bq.py:247-252`) takes at 100 TB: each
    * partition streams CSV through `COPY ... FROM STDIN` into an
    * UNLOGGED staging table (PostgreSQL's bulk fast path — no WAL, no
    * per-row round trip, concurrent COPY writers are safe), then ONE
    * set-based `INSERT ... SELECT ... ON CONFLICT (keys) DO NOTHING`
    * moves staging into the target atomically and reports the inserted
    * count (the reference's `cursor.rowcount` accounting, exactly).
    *
    * Transport is the `psql` CLI pipe (this sandbox ships a real
    * PostgreSQL 15 but no pgJDBC jar); production swaps the pipe for
    * the JDBC `CopyManager` — the byte stream and the SQL are
    * identical. Returns rows inserted into the TARGET (conflicts
    * skipped), like [[jdbcUpsert]].
    *
    * CSV contract: every non-null field is quoted (embedded quotes
    * doubled), nulls are unquoted empty (COPY csv's NULL spelling) —
    * lossless for arbitrary strings including delimiters/newlines.
    */
  def copyUpsertPostgres(df: DataFrame, psqlArgs: Seq[String], table: String,
                         keys: Seq[String]): Long = {
    import scala.sys.process._
    val cols = df.schema.fieldNames.toSeq
    val colList = cols.mkString(", ")
    // Unique per-call staging name: a fixed `${table}_stage` would let
    // two concurrent loads into the same target (a streaming drain plus
    // an ad-hoc batch) DROP/clobber each other's staging mid-COPY and
    // silently lose rows. Callers here are serialized (Incremental's
    // single-flight guard, AvailableNow triggers), but the sink must not
    // depend on that.
    val staging = s"${table}_stg_${java.util.UUID.randomUUID().toString.take(13).replace("-", "")}"
    // PostgreSQL truncates identifiers to 63 bytes with only a NOTICE —
    // a long target name would silently truncate the unique suffix away
    // and re-open the concurrent-clobber hole. Fail loudly instead.
    require(staging.getBytes("UTF-8").length <= 63,
      s"copyUpsertPostgres: staging identifier '$staging' exceeds PostgreSQL's " +
        "63-byte limit — use a shorter target table name")
    def psql(sql: String): String =
      (Seq("psql") ++ psqlArgs ++
        Seq("-X", "-t", "-A", "-v", "ON_ERROR_STOP=1", "-c", sql)).!!.trim
    psql(s"DROP TABLE IF EXISTS $staging")
    psql(s"CREATE UNLOGGED TABLE $staging (LIKE $table INCLUDING DEFAULTS)")
    try {
      val argsSer = psqlArgs // serializable capture for the task closure
      df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        if (rows.hasNext) {
          val cmd = Seq("psql") ++ argsSer ++ Seq("-X", "-v", "ON_ERROR_STOP=1",
            "-c", s"COPY $staging ($colList) FROM STDIN WITH (FORMAT csv)")
          val pb = new java.lang.ProcessBuilder(cmd: _*)
            .redirectOutput(java.lang.ProcessBuilder.Redirect.DISCARD)
            .redirectError(java.lang.ProcessBuilder.Redirect.INHERIT)
          val proc = pb.start()
          val out = new java.io.BufferedWriter(
            new java.io.OutputStreamWriter(proc.getOutputStream, "UTF-8"))
          // Whitelisted types only: primitives/temporals render to
          // PG-parseable unambiguous text; anything else (binary's
          // '[B@...', WrappedArray, struct Rows) would silently corrupt
          // the COPY stream — fail loudly instead.
          def field(v: Any): String = v match {
            case null => ""
            case s: String => "\"" + s.replace("\"", "\"\"") + "\""
            case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
                 _: java.lang.Byte | _: java.lang.Double | _: java.lang.Float |
                 _: java.lang.Boolean | _: java.math.BigDecimal |
                 _: java.sql.Timestamp | _: java.sql.Date |
                 _: java.time.Instant | _: java.time.LocalDate |
                 _: java.time.LocalDateTime => v.toString
            case other => sys.error(
              s"copyUpsertPostgres: unsupported field type ${other.getClass.getName}" +
                " — cast to a primitive/temporal/string column before the sink")
          }
          rows.foreach { r =>
            out.write((0 until r.length).map(i => field(r.get(i))).mkString(","))
            out.write("\n")
          }
          out.close()
          val rc = proc.waitFor()
          require(rc == 0, s"COPY writer exited $rc")
        }
      }
      val res = psql(
        s"""INSERT INTO $table ($colList)
           |SELECT $colList FROM $staging
           |ON CONFLICT (${keys.mkString(", ")}) DO NOTHING""".stripMargin)
      // psql prints the command tag "INSERT 0 <n>" even under -t -A —
      // the reference's cursor.rowcount, read from the same place
      "INSERT\\s+\\d+\\s+(\\d+)".r.findFirstMatchIn(res)
        .map(_.group(1).toLong)
        .getOrElse(sys.error(s"unexpected INSERT tag: '$res'"))
    } finally psql(s"DROP TABLE IF EXISTS $staging")
  }

  /** S6 — idempotent upsert: append only rows whose natural key is not
    * already in the sink. Returns the number of rows appended (the
    * reference's `cursor.rowcount`, `/root/reference/flask_server.py:197`).
    *
    * One action writes the anti-join of `incoming` against the sink's
    * keys (read with `incoming`'s key schema, so no footer is read for
    * inference) into a `_`-prefixed staging directory, which readers of
    * `dir` skip, and observes its row count. The files move into `dir`
    * only when that count is above 0: a run with nothing new adds no
    * file, and the query never writes where it reads. A lazy `incoming`
    * keeps its filters (see [[Incremental.runOnceTo]]), and AQE sizes the
    * write from the data, so a run appends a file or two.
    */
  def upsertAppend(spark: SparkSession, incoming: DataFrame, dir: String, keys: Seq[String]): Long = {
    val sink = Paths.get(dir)
    val existed = Files.exists(sink)
    val fresh =
      if (!existed) incoming
      else EventOps.newKeysOnly(incoming,
        spark.read.schema(StructType(keys.map(incoming.schema(_)))).parquet(dir), keys)
    val staging = sink.resolve(s"_staging-${java.util.UUID.randomUUID()}")
    val written = Observation()
    try {
      fresh.observe(written, count(lit(1))).write.parquet(staging.toString)
      val n = observed(written).fold(spark.read.parquet(staging.toString).count())(_.getLong(0))
      if (n > 0) staging.toFile.listFiles().foreach(f =>
        Files.move(f.toPath, sink.resolve(f.getName), StandardCopyOption.REPLACE_EXISTING))
      n
    } finally {
      FileUtils.deleteQuietly(staging.toFile)
      if (!existed) sink.toFile.delete() // only when empty: no rows, no sink
    }
  }

  /** `obs`'s metrics once its action has reported them, waiting at most
    * 100 ms (observations complete on the listener bus); None when no
    * action ran its frame or its plan lost the metrics.
    */
  private[etl] def observed(obs: Observation): Option[Row] =
    Try(Await.result(obs.future, 100.millis)).toOption.filter(_.length > 0)

  /** Z-order (Morton-curve) layout write: cluster rows so each output
    * file covers a small rectangle of the (c1, c2) value space instead
    * of a random slice of it. Parquet footers carry per-file/row-group
    * min/max for every column, and scans skip files whose range misses
    * the predicate — but that only bites when the layout makes ranges
    * NARROW. Sorting by one column leaves the other's per-file range at
    * ~100%; interleaving the bits of both ranks ("Databricks-style"
    * OPTIMIZE ZORDER, Delta Lake's data-skipping design; the curve is
    * Morton 1966) bounds BOTH, so a 2-d box predicate prunes ~O(√files)
    * instead of none.
    *
    * Normalization here is linear min/max → 16-bit grid (right for the
    * near-uniform synthetic keys; for skewed production data substitute
    * approxQuantile cut points — same broadcast-scalar shape as the
    * IVF centroid build). The min/max agg is one tiny job.
    *
    * File assignment is EQUAL-WIDTH bucketing of the 32-bit curve
    * (`bucket = z·nFiles >> 32`): each file owns one contiguous curve
    * segment — the same contiguity `repartitionByRange` would give,
    * WITHOUT the range partitioner's full sampling pass, so a
    * z-ordered write at 100 TB scans its input once, not twice. The
    * equal-width cut is safe because the grid coords are min/max
    * normalized (near-uniform on the curve); skewed data would swap in
    * quantile cut points at the same line. Buckets ride an ordinary
    * hash repartition (UnsafeRow shuffle — no RDD round-trip, no row
    * serialization) through a ROUTING TABLE: for each bucket we pick,
    * with the engine's own Murmur3Hash, a carrier value that lands in
    * a distinct partition — a driver-side search over a few dozen
    * integers — so the n buckets map 1:1 onto the n output files.
    */
  def zorderedWrite(df: DataFrame, c1: String, c2: String, dir: String,
                    nFiles: Int): Unit = {
    val b = df.agg(
      min(col(c1)).cast("double").as("lo1"), max(col(c1)).cast("double").as("hi1"),
      min(col(c2)).cast("double").as("lo2"), max(col(c2)).cast("double").as("hi2"))
    def grid(x: Column, lo: Column, hi: Column): Column =
      least(lit(65535),
        floor((x.cast("double") - lo) / (hi - lo + lit(1e-12)) * 65536).cast("long"))
    def interleave(g1: Column, g2: Column): Column =
      (0 until 16).map { i =>
        shiftleft(shiftright(g1, i).bitwiseAND(1), 2 * i)
          .bitwiseOR(shiftleft(shiftright(g2, i).bitwiseAND(1), 2 * i + 1))
      }.reduce(_.bitwiseOR(_))
    // bucket b -> a long whose Murmur3 hash (the exact expression
    // repartition uses, evaluated here on the driver) pmods to a
    // partition no other bucket routes to
    val route: Seq[Long] = {
      import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
      val byPartition = scala.collection.mutable.Map[Int, Long]()
      var v = 0L
      while (byPartition.size < nFiles) {
        val h = Murmur3Hash(Seq(Literal(v)), 42).eval(null).asInstanceOf[Int]
        val p = ((h % nFiles) + nFiles) % nFiles
        if (!byPartition.contains(p)) byPartition(p) = v
        v += 1
      }
      (0 until nFiles).map(byPartition)
    }
    df.crossJoin(broadcast(b))
      .withColumn("__z", interleave(
        grid(col(c1), col("lo1"), col("hi1")),
        grid(col(c2), col("lo2"), col("hi2"))))
      .withColumn("__route", element_at(
        array(route.map(lit(_)): _*),
        (shiftrightunsigned(col("__z") * nFiles, 32) + 1).cast("int")))
      .repartition(nFiles, col("__route"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__route", "lo1", "hi1", "lo2", "hi2")
      .write.mode("overwrite").parquet(dir)
  }
}
