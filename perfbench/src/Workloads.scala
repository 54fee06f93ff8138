package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{CacheScope, Tables}
import graft.etl.{Incremental, Sinks}
import graft.ops.{Corpus, Dedup, EventOps, Sim}

/** What one timed operation did: input rows consumed, rows fetched or
  * returned, layer figures the trace keeps per operation, and the output
  * check, which runs after the timer stops and returns the problems found.
  */
final case class OpResult(rowsIn: Long, rowsOut: Long, figures: Map[String, Double],
                          check: () => Seq[String])

/** `training`: the run only loads classes for the JVM's class-data-sharing
  * archive (see run.py), so workloads may build smaller standing state.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val training: Boolean = false)

trait Workload {
  /** Generate inputs and build the standing state under `dir`. */
  def setup(dir: Path): Unit
  /** Operations a run of `Workload.ReferenceSeconds` measures. */
  def opsPerRun: Int
  /** Unmeasured operations between set-up and the measured ones. */
  def warmUpOps: Int = 1
  /** Land the input of the next operation (not timed). */
  def arrive(op: Int): Unit
  /** The timed operation. */
  def op(op: Int): OpResult
  /** Check the final state against the model; returns the problems found. */
  def finish(): Seq[String]
  /** Bytes on disk in the sink per committed row. */
  def sinkBytesPerRow: Double
  /** Data files in the sink. */
  def sinkFiles: Long = 0L
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ga4_incremental" => new EtlWorkload(ctx, jdbc = false)
    case "ga4_incremental_jdbc" => new EtlWorkload(ctx, jdbc = true)
    case "ga4_range_extract" => new RangeExtractWorkload(ctx)
    case "corpus_nightly" => new CorpusNightlyWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Op-latency percentile reported as `op_latency_tail_s`. */
  val TailPercentile = 90

  /** `run_seconds` of BENCHMARK.json: a run of `--seconds s` measures
    * `opsPerRun * s / ReferenceSeconds` operations, whatever the host's
    * speed, so both sides of a comparison do the same work.
    */
  val ReferenceSeconds = 30

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def filesUnder(p: Path, keep: Path => Boolean): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) && keep(f)).toLong
      finally s.close()
    }

  /** Unmeasured operations before timing starts, which take the coldest
    * JIT, class-loading and codegen costs; fails on a wrong output.
    */
  def warmUp(w: Workload, ops: Int): Unit =
    for (i <- 1 to ops) {
      w.arrive(-i)
      val problems = w.op(-i).check()
      if (problems.nonEmpty) throw new IllegalStateException(s"warm-up: ${problems.mkString("; ")}")
    }

  def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")
}

/** `ga4_incremental` and `ga4_incremental_jdbc`: land the next daily
  * shard, then one `Incremental.runOnceTo` over every shard landed so far,
  * into the parquet upsert sink or into a Derby table through
  * `Sinks.jdbcUpsert`. Set-up lands 30 days of history and loads them with
  * one backfill run, so the measured runs meet a standing sink. Every third
  * operation first rolls the watermark back one run, as a crash after the
  * sink commit would leave it, so the run re-fetches rows the sink holds.
  */
final class EtlWorkload(ctx: Ctx, jdbc: Boolean) extends Workload {
  import ctx.{spark, tracer}
  // TESTDATA.md's sf0.1 `events` table, the scale graft.Bench runs at,
  // holds 100,000 events over 30 days: 3,333 a day, and 30 days of history
  // (two when the run only trains the class-data-sharing archive).
  private val perShard = 3333
  private val historyDays = if (ctx.training) 2 else 30
  private val rollbackEvery = 3
  val opsPerRun: Int = 3
  // The backfill run in set-up goes through the same code path.
  override val warmUpOps = 0
  private val defaultWatermark = Ga4.Day0Us - 1
  private val sourceSchema = Ga4.schema.add("suffix", StringType)

  private var gen: Ga4Generator = _
  private var oracle: EtlOracle = _
  private var root: Path = _
  private var statePath: String = _
  private var sinkDir: Path = _
  private var url: String = _
  private var lastStartWatermark = defaultWatermark

  if (jdbc) CountingJdbc.register()

  def setup(dir: Path): Unit = {
    gen = new Ga4Generator(ctx.seed, perShard)
    oracle = new EtlOracle(defaultWatermark)
    root = dir.resolve("ga4")
    statePath = dir.resolve("state").resolve("watermark").toString
    sinkDir = dir.resolve(if (jdbc) "derby" else "sink")
    if (jdbc) {
      url = s"jdbc:derby:${sinkDir.toAbsolutePath};create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().execute(
        """CREATE TABLE ga4_events (
          |  user_id VARCHAR(16) NOT NULL, event_timestamp BIGINT NOT NULL,
          |  event_name VARCHAR(32) NOT NULL, event_id VARCHAR(16),
          |  event_name_detail VARCHAR(16),
          |  PRIMARY KEY (user_id, event_timestamp, event_name))""".stripMargin)
      finally conn.close()
    } else {
      // The fact table exists before the first run, as the reference's
      // CREATE TABLE makes it, so the backfill takes the anti-join path
      // the operations take.
      val sinkSchema = StructType(Seq(StructField("user_id", StringType),
        StructField("event_timestamp", LongType), StructField("event_name", StringType),
        StructField("event_id", StringType), StructField("event_name_detail", StringType)))
      spark.createDataFrame(java.util.List.of[Row](), sinkSchema).write.parquet(sinkDir.toString)
    }
    tracer.span("input.land") {
      (0 until historyDays).foreach(_ => gen.next())
      spark.createDataFrame(gen.shards.flatten.map(Ga4.rowWithSuffix).asJava, sourceSchema)
        .write.partitionBy("suffix").parquet(root.toString)
    }
    val problems = runOnce(rolledBack = false).check()
    if (problems.nonEmpty) throw new IllegalStateException(s"backfill: ${problems.mkString("; ")}")
  }

  def arrive(op: Int): Unit = tracer.span("input.land") {
    val shard = gen.next()
    spark.createDataFrame(shard.map(Ga4.row).asJava, Ga4.schema)
      .write.parquet(root.resolve("suffix=" + Ga4.suffix(gen.shards.size - 1)).toString)
    if (rollsBack(op)) {
      Incremental.writeWatermark(statePath, lastStartWatermark)
      oracle.watermark = lastStartWatermark
    }
  }

  private def transform(df: DataFrame): DataFrame =
    df.filter(col("user_id").isNotNull && col("user_id") =!= "")
      .filter(col("event_name").isin(Ga4.Tracked: _*))
      .select(col("user_id"), col("event_timestamp"), col("event_name"),
        EventOps.extractParam(col("event_params"), "id").as("event_id"),
        EventOps.extractParam(col("event_params"), "name").as("event_name_detail"))

  private def sink(batch: DataFrame): Long =
    if (jdbc) Sinks.jdbcUpsert(batch, CountingJdbc.url(url), "ga4_events", Ga4.Keys,
      Sinks.insertWhereAbsentDialect)
    else Sinks.upsertAppend(spark, batch, sinkDir.toString, Ga4.Keys)

  /** One `runOnceTo` over every landed shard. The result's check replays
    * the run on the model.
    */
  private def runOnce(rolledBack: Boolean): OpResult = {
    val sinkRowsBefore = oracle.sink.size.toLong
    lastStartWatermark = oracle.watermark
    val batches0 = CountingJdbc.batches.get
    val connections0 = CountingJdbc.connections.get
    CountingJdbc.maxOpen.set(0)
    val source = tracer.span("scan.list") {
      spark.read.schema(sourceSchema).parquet(root.toString)
    }
    val run = tracer.span("incremental.runOnceTo") {
      Incremental.runOnceTo(spark, source, "event_timestamp", Ga4.Keys, statePath,
        defaultWatermark,
        sink = b => tracer.span("sinks.upsert")(sink(b)),
        transform = df => tracer.span("eventops.transform")(transform(df)))
    }.getOrElse(throw new IllegalStateException("runOnceTo refused: a run is in flight"))
    val jdbcFigures =
      if (!jdbc) Map.empty[String, Double]
      else Map("jdbc_batches" -> (CountingJdbc.batches.get - batches0).toDouble,
        "jdbc_connections" -> (CountingJdbc.connections.get - connections0).toDouble,
        "jdbc_max_open_connections" -> CountingJdbc.maxOpen.get.toDouble)
    OpResult(gen.shards.last.size.toLong, run.rowsFetched,
      Map("rows_fetched" -> run.rowsFetched.toDouble, "rows_inserted" -> run.rowsInserted.toDouble,
        "sink_rows_before" -> sinkRowsBefore.toDouble,
        "rolled_back" -> (if (rolledBack) 1.0 else 0.0)) ++ jdbcFigures,
      () => {
        val (fetched, inserted, wm) = oracle.run(gen.shards)
        Workload.expect("rows fetched", run.rowsFetched, fetched) ++
          Workload.expect("rows inserted", run.rowsInserted, inserted) ++
          Workload.expect("watermark", run.newWatermarkUs, wm)
      })
  }

  def op(op: Int): OpResult = runOnce(rollsBack(op))

  /** Whether operation `op` starts from a rolled-back watermark. */
  private def rollsBack(op: Int): Boolean = op >= 0 && (op + 1) % rollbackEvery == 0

  private def sinkRows(): Seq[(String, Long, String, String, String)] =
    if (jdbc) {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(
          "SELECT user_id, event_timestamp, event_name, event_id, event_name_detail FROM ga4_events")
        val out = mutable.ArrayBuffer[(String, Long, String, String, String)]()
        while (rs.next()) out += ((rs.getString(1), rs.getLong(2), rs.getString(3),
          rs.getString(4), rs.getString(5)))
        out.toSeq
      } finally conn.close()
    } else
      spark.read.parquet(sinkDir.toString)
        .select("user_id", "event_timestamp", "event_name", "event_id", "event_name_detail")
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))

  def finish(): Seq[String] = {
    val rows = sinkRows()
    val keys = rows.map(r => (r._1, r._2, r._3)).toSet
    Workload.expect("sink rows", rows.size, oracle.sink.size) ++
      Workload.expect("sink keys", keys == oracle.sink.keySet, true) ++
      Workload.expect("sink checksum",
        rows.map(r => Ga4.rowHash(r._1, r._2, r._3, r._4, r._5)).sum, oracle.checksum) ++
      Workload.expect("stored watermark",
        Incremental.readWatermark(statePath, defaultWatermark), oracle.watermark)
  }

  def sinkBytesPerRow: Double = Workload.bytesUnder(sinkDir).toDouble / math.max(1, oracle.sink.size)

  override def sinkFiles: Long =
    if (jdbc) Workload.filesUnder(sinkDir.resolve("seg0"), _ => true)
    else Workload.filesUnder(sinkDir, _.getFileName.toString.startsWith("part-"))

  override def close(): Unit =
    if (jdbc && url != null)
      try java.sql.DriverManager.getConnection(s"jdbc:derby:${sinkDir.toAbsolutePath};shutdown=true")
      catch { case _: java.sql.SQLException => () } // Derby reports a clean shutdown as an exception
}

/** `ga4_range_extract`: a seeded sequence of extract_bq.py-style queries
  * over the landed daily shards: a 1-14 day shard range, an optional
  * tracked-event IN-list, params extraction and first-write dedup; the
  * sorted result is collected. Every 14 operations use each range length
  * once, in a seeded order, and every other operation has no IN-list, so
  * the work of a run does not depend on the seed.
  */
final class RangeExtractWorkload(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  // The day volume of the incremental ETL; ranges of 1-14 days, as
  // extract_bq.py's `--days`.
  private val shards = 14
  private val perShard = 3333
  val opsPerRun = 14

  private var gen: Ga4Generator = _
  private var root: Path = _
  private var queries: java.util.SplittableRandom = _
  private var lengths = Vector.empty[Int]

  def setup(dir: Path): Unit = {
    gen = new Ga4Generator(ctx.seed, perShard)
    (0 until shards).foreach(_ => gen.next())
    root = dir.resolve("ga4")
    val all = gen.shards.flatten.map(Ga4.rowWithSuffix)
    spark.createDataFrame(all.asJava, Ga4.schema.add("suffix", StringType))
      .write.partitionBy("suffix").parquet(root.toString)
    queries = new java.util.SplittableRandom(ctx.seed * 31 + 7)
  }

  def arrive(op: Int): Unit = ()

  def op(op: Int): OpResult = {
    if (op >= 0 && op % shards == 0) lengths = shuffled((1 to shards).toVector)
    val len = if (op < 0) shards / 2 else lengths(op % shards)
    val first = queries.nextInt(shards - len + 1)
    val vocabulary =
      if (op % 2 == 0) Seq.empty[String]
      else shuffled(Ga4.Tracked.toVector).take(3 + queries.nextInt(3))
    val rows = tracer.span("eventops.construct") {
      val raw = Tables.readParquetCached(spark, root.toString)
        .filter(col("suffix").between(Ga4.suffix(first).toInt, Ga4.suffix(first + len - 1).toInt))
      EventOps.ga4Pipeline(raw, vocabulary, "event_timestamp")
        .select("user_id", "event_timestamp", "event_name", "event_id", "event_name_detail")
        .orderBy("user_id", "event_timestamp", "event_name")
    }
    val result = tracer.span("extract.collect")(rows.collect())
    val scanned = (first until first + len).map(d => gen.shards(d).size.toLong).sum
    OpResult(scanned, result.length, Map.empty, () => {
      val want = mutable.HashMap[(String, Long, String), Ga4Event]()
      val vocab = vocabulary.toSet
      for (d <- first until first + len; e <- gen.shards(d))
        if (Ga4.passes(e, vocab)) want.getOrElseUpdate(e.key, e)
      val got = result.map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4)))
      val sorted = got.iterator.sliding(2).forall {
        case Seq(a, b) => Ordering[(String, Long, String)].lt((a._1, a._2, a._3), (b._1, b._2, b._3))
        case _ => true
      }
      Workload.expect(s"rows in [$first, ${first + len}) ${vocabulary.mkString("|")}", got.length, want.size) ++
        Workload.expect("result checksum", got.map(r => Ga4.rowHash(r._1, r._2, r._3, r._4, r._5)).sum,
          want.valuesIterator.map(Ga4.rowHash).sum) ++
        Workload.expect("result sorted on the natural key", sorted, true)
    })
  }

  private def shuffled[T](xs: Vector[T]): Vector[T] =
    scala.util.Random.javaRandomToRandom(new java.util.Random(queries.nextLong())).shuffle(xs)

  def finish(): Seq[String] = Nil

  /** The extract has no sink. */
  def sinkBytesPerRow: Double = 0.0
}

/** `corpus_nightly`: one nightly batch of crawl pages and embeddings:
  * `Corpus.webCorpusNightlyCycle` against the standing indexes,
  * `Dedup.incrementalNewDocs` against the document store and the IVF
  * increments (`Sim.semanticDedupIncrement`, `Sim.cosineTopKIvfIncrement`)
  * under a frozen model; the index delta, the new documents and the
  * assigned vectors are appended to their stores.
  */
final class CorpusNightlyWorkload(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  // 2,000 standing vectors: TESTDATA.md's sf0.1 `embeddings` table. The
  // page counts, the batch sizes and the dimension are assumptions, sized
  // so one batch takes a few seconds on a 4-vCPU host (see README.md).
  private val standingPages = 1000
  private val standingVectors = 2000
  private val batchPages = 300
  private val batchVectors = 300
  private val dim = 32
  private val nQueries = 10
  private val k = 5
  private val minCos = 0.9
  val opsPerRun = 3
  // Batches keep getting faster for several batches after set-up, while
  // the JIT compiles the driver-side planning paths; timing starts after
  // three.
  override val warmUpOps = 3

  private val pageSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("html", StringType), StructField("text", StringType)))
  private val vectorSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  private var pages: PageGenerator = _
  private var vectors: VectorGenerator = _
  private var oracle: CorpusOracle = _
  private var cents: Sim.Centroids = _
  private var dir: Path = _
  private var batch: Vector[Page] = _
  private var batchVecs: Vector[(Long, Array[Double])] = _
  private var arrivals = 0

  private def path(name: String): String = dir.resolve(name).toString

  private def pageRows(ps: Seq[Page]) = ps.map(p => Row(p.id, p.html, p.text)).asJava
  private def vectorRows(vs: Seq[(Long, Array[Double])]) =
    vs.map { case (id, v) => Row(id, v.toSeq) }.asJava

  def setup(d: Path): Unit = {
    dir = d
    pages = new PageGenerator(ctx.seed)
    vectors = new VectorGenerator(ctx.seed, dim, 16)
    oracle = new CorpusOracle
    val standing = pages.standing(standingPages)
    oracle.buildIndexes(standing)
    spark.createDataFrame(pageRows(standing), pageSchema).write.parquet(path("standing_pages"))
    val sp = spark.read.parquet(path("standing_pages"))
    val (canonIdx, textIdx) = Corpus.webCorpusIndexes(sp)
    canonIdx.write.parquet(path("canon_idx"))
    textIdx.write.parquet(path("text_idx"))
    CacheScope.flush()
    sp.select("doc_id", "text").write.parquet(path("docs"))
    spark.createDataFrame(vectorRows(vectors.standing(standingVectors)), vectorSchema)
      .write.parquet(path("standing_vectors"))
    val sv = spark.read.parquet(path("standing_vectors"))
    cents = Sim.kmeansCentroidsSampledLocal(sv, 8, 4, 1)
    Sim.ivfAssign(sv, cents).write.partitionBy("cell").parquet(path("ivf"))
    val problems =
      Workload.expect("canonical index size", spark.read.parquet(path("canon_idx")).count(),
        oracle.canonIndex.size.toLong) ++
      Workload.expect("text index size", spark.read.parquet(path("text_idx")).count(),
        oracle.textIndex.size.toLong)
    if (problems.nonEmpty) throw new IllegalStateException(s"set-up: ${problems.mkString("; ")}")
  }

  def arrive(op: Int): Unit = tracer.span("input.land") {
    batch = pages.batch(batchPages)
    batchVecs = vectors.batch(10000000L + arrivals.toLong * batchVectors, batchVectors, nQueries)
    arrivals += 1
    spark.createDataFrame(pageRows(batch), pageSchema).write.parquet(path(s"landing/$arrivals/pages"))
    spark.createDataFrame(vectorRows(batchVecs), vectorSchema)
      .write.parquet(path(s"landing/$arrivals/vectors"))
  }

  def op(op: Int): OpResult = {
    val (pagesDf, vecsDf, canonIdx, textIdx, docs, store) = tracer.span("scan.list") {
      (spark.read.parquet(path(s"landing/$arrivals/pages")),
        spark.read.parquet(path(s"landing/$arrivals/vectors")),
        spark.read.parquet(path("canon_idx")), spark.read.parquet(path("text_idx")),
        spark.read.parquet(path("docs")), spark.read.parquet(path("ivf")))
    }
    val cycle = tracer.span("corpus.nightly_cycle") {
      Corpus.webCorpusNightlyCycle(canonIdx, textIdx, pagesDf).collect()
    }
    val newDocs = tracer.span("dedup.new_docs") {
      Dedup.incrementalNewDocs(docs, pagesDf.select("doc_id", "text")).collect()
    }
    val semantic = tracer.span("sim.semantic_dedup") {
      Sim.semanticDedupIncrement(store, vecsDf, cents, minCos).collect()
    }
    val knn = tracer.span("sim.ivf_search") {
      Sim.cosineTopKIvfIncrement(store, vecsDf, cents, nQueries, k).collect()
    }
    val delta = cycle.filter(_.getString(0) == "delta")
    val keepIds = newDocs.filter(_.getAs[Long]("keep") == 1L).map(_.getAs[Long]("doc_id"))
    tracer.span("corpus.index_append") {
      val canon = delta.filter(_.getAs[String]("kind") == "canon").map(r => Row(r.getAs[String]("key")))
      val text = delta.filter(_.getAs[String]("kind") == "text").map(r => Row(r.getAs[String]("key")))
      spark.createDataFrame(canon.toSeq.asJava, StructType(Seq(StructField("canonical", StringType))))
        .write.mode("append").parquet(path("canon_idx"))
      spark.createDataFrame(text.toSeq.asJava, StructType(Seq(StructField("th", StringType))))
        .write.mode("append").parquet(path("text_idx"))
      pagesDf.filter(col("doc_id").isin(keepIds.toSeq: _*)).select("doc_id", "text")
        .write.mode("append").parquet(path("docs"))
      Sim.ivfAssign(vecsDf, cents).write.mode("append").partitionBy("cell").parquet(path("ivf"))
    }
    tracer.span("cache.flush")(CacheScope.flush())
    val thisBatch = batch
    val thisVecs = batchVecs
    OpResult(thisBatch.size.toLong + thisVecs.size, thisBatch.size.toLong + thisVecs.size,
      Map.empty, () => check(thisBatch, thisVecs, cycle, newDocs, semantic, knn))
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private def check(batch: Vector[Page], vecs: Vector[(Long, Array[Double])], cycle: Array[Row],
                    newDocs: Array[Row], semantic: Array[Row], knn: Array[Row]): Seq[String] = {
    val want = oracle.nightly(batch)
    val stages = cycle.filter(_.getString(0) == "verdict")
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("stage")).toMap
    val delta = cycle.filter(_.getString(0) == "delta")
    def deltaKeys(kind: String) = delta.filter(_.getAs[String]("kind") == kind).map(_.getAs[String]("key")).toSet
    val classCounts = (m: Map[Long, String]) => m.groupBy(_._2).map { case (s, v) => s -> v.size }
    val wantDocs = oracle.newDocs(batch)
    val gotDocs = newDocs.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("dup_of_corpus"), r.getAs[Long]("dup_in_batch"), r.getAs[Long]("keep")))).toMap
    val gotKeep = semantic.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("keep_id")).toMap
    val wantKeep = vecs.map { case (id, _) => id -> vectors.keeper(id) }.toMap
    val byQuery = knn.groupBy(_.getAs[Long]("q_id"))
    val knnProblems = (0 until nQueries).flatMap { q =>
      val copies = vectors.copiesOf(q.toLong)
      val hits = byQuery.getOrElse(q.toLong, Array.empty[Row])
      val top = hits.find(_.getAs[Long]("rnk") == 1L)
      val exact = hits.count(_.getAs[Double]("cos_r") == 1.0)
      Workload.expect(s"query $q results", hits.length, k) ++
        Workload.expect(s"query $q exact-copy hits", exact, math.min(k, copies.size)) ++
        (if (copies.isEmpty) Nil
         else Workload.expect(s"query $q top hit", top.map(_.getAs[Long]("c_id")), Some(copies.min)))
    }
    Workload.expect("verdict classes", classCounts(stages), classCounts(want.stage)) ++
      Workload.expect("per-page verdicts", stages, want.stage) ++
      Workload.expect("canonical delta", deltaKeys("canon"), want.canonDelta) ++
      Workload.expect("text delta", deltaKeys("text"), want.textDelta.map(md5)) ++
      Workload.expect("new-doc verdicts", gotDocs, wantDocs) ++
      Workload.expect("semantic dedup keepers", gotKeep, wantKeep) ++
      knnProblems
  }

  def finish(): Seq[String] =
    Workload.expect("canonical index rows", spark.read.parquet(path("canon_idx")).count(),
      oracle.canonIndex.size.toLong) ++
      Workload.expect("text index rows", spark.read.parquet(path("text_idx")).count(),
        oracle.textIndex.size.toLong) ++
      Workload.expect("document store rows", spark.read.parquet(path("docs")).count(),
        oracle.docTexts.size.toLong) ++
      Workload.expect("vector store rows", spark.read.parquet(path("ivf")).count(),
        vectors.all.size.toLong)

  private def stores = Seq("canon_idx", "text_idx", "docs", "ivf").map(dir.resolve)

  def sinkBytesPerRow: Double =
    stores.map(Workload.bytesUnder).sum.toDouble /
      math.max(1L, oracle.canonIndex.size.toLong + oracle.textIndex.size + oracle.docTexts.size +
        vectors.all.size)

  override def sinkFiles: Long = stores.map(Workload.filesUnder(_, _.getFileName.toString.startsWith("part-"))).sum
}
