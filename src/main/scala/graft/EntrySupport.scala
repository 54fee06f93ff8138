package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Shared fixtures for the declared queries and their oracles: session
  * config guard, scratch-layout paths, derived corpora (perturbed /
  * exact-dup / chain), the GA4 nested table and the trained-model
  * stores. `private[graft]` because only the `graft.queries` registry
  * and SparkEntry compose them.
  */
private[graft] object EntrySupport {
  /** Some session configs (nanos-as-long, UTC) must be set even when the
    * harness builds the SparkSession itself — they are session-scoped
    * SQLConf entries, so set-at-runtime works.
    */
  private[graft] def ensure(s: SparkSession): SparkSession = {
    Tables.sessionConfigs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Write width of the row-format feed fixtures (dirty JSONL/XML/CSV,
    * the XML sink): the events table's data-proportional
    * [[Tables.fanWidth]] at 1/8 the bytes/task target. Their cost per
    * source byte is ~an order of magnitude over columnar work (text
    * expansion ×6 + java.regex/Jackson parse per row), and the written
    * FILE COUNT is the read-back parse parallelism ceiling (row formats
    * don't re-split below file boundaries once open-cost packing merges
    * small files). Measured on a 32-core host: the 8-file feed layout
    * parsed 2-4-way and cost the intake trio +0.35 s each vs the
    * ~380 KB/file layout this multiplier restores (still
    * data-proportional: byte-driven below the clamp, cluster-parallel
    * at 100 TB).
    */
  private[graft] def fanEvHeavyN(s: SparkSession, dir: String): Int =
    Tables.fanWidth(s, Tables.pathBytes(s, s"$dir/events.parquet"), targetMult = 0.125)

  /** Layout version for materialized scratch dirs: an ESCAPE HATCH for
    * layout changes the bytecode fingerprint below can't see (e.g. a
    * Spark upgrade changing parquet physical types). Routine producer
    * changes need no bump — the fingerprint keys the path.
    */
  private[graft] val qtmpVersion = "v2"

  /** Fingerprint of the fixture-PRODUCING logic, folded into every
    * qtmp path: an MD5 over the class bytes of everything a fixture
    * build can call (all of `graft.ops`, `graft.etl`, `graft.plans`,
    * plus `Tables`/`EntrySupport` and their synthetics). Any recompile
    * that changes producer bytecode — new shingle hash, new JPEG
    * quantizer, new corpus perturbation — changes the key, so a stale
    * artifact from older logic can never be re-served to Verify or
    * Bench (a hand-bumped `qtmpVersion` alone would serve a stale
    * artifact, and pass the correctness gate on it, whenever a producer
    * change forgot the bump).
    * Over-invalidation (comment shifts move line-number tables) is
    * deliberate: the failure mode is a rebuild, never a stale read.
    */
  private[graft] lazy val producerFingerprint: String =
    fingerprintOf(producerClassBytes())

  /** Order-insensitive digest of (name, bytes) class entries. */
  private[graft] def fingerprintOf(entries: Seq[(String, Array[Byte])]): String = {
    require(entries.nonEmpty, "fixture fingerprint: no producer class bytes found")
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sortBy(_._1).foreach { case (n, b) =>
      md.update(n.getBytes("UTF-8")); md.update(b)
    }
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  /** True for class-file paths (relative, '/'-separated) that belong
    * to fixture-producing code. The `graft/queries/` registry is EXCLUDED
    * on purpose: query bodies only COMPOSE on fixtures, and including
    * them would churn the key on every declared-query edit.
    */
  private[graft] def isProducerClass(rel: String): Boolean =
    rel.endsWith(".class") && (
      rel.startsWith("graft/ops/") || rel.startsWith("graft/etl/") ||
      rel.startsWith("graft/plans/") ||
      ((rel.startsWith("graft/Tables") || rel.startsWith("graft/EntrySupport")) &&
        !rel.drop("graft/".length).contains("/")))

  /** Enumerate producer class bytes from wherever this class loaded —
    * an exploded classes directory (sbt) or a jar (spark-submit).
    */
  private[graft] def producerClassBytes(): Seq[(String, Array[Byte])] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val loc = getClass.getProtectionDomain.getCodeSource.getLocation.toURI
    val base = Paths.get(loc)
    if (Files.isDirectory(base)) {
      val stream = Files.walk(base)
      try stream.iterator().asScala.toList.collect {
        case p: Path if Files.isRegularFile(p) &&
          isProducerClass(base.relativize(p).toString.replace('\\', '/')) =>
          (base.relativize(p).toString.replace('\\', '/'), Files.readAllBytes(p))
      }
      finally stream.close()
    } else {
      val jar = new java.util.jar.JarFile(base.toFile)
      try jar.entries().asScala.toList.collect {
        case e if isProducerClass(e.getName) =>
          val in = jar.getInputStream(e)
          try (e.getName, in.readAllBytes()) finally in.close()
      }
      finally jar.close()
    }
  }

  /** Drop qtmp sibling dirs under a superseded key — their artifacts
    * can never be read again once the fingerprint moved.
    */
  private[graft] def cleanStaleQtmp(root: java.io.File, keep: String): Unit =
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory && f.getName != keep)
        scala.reflect.io.Directory(f).deleteRecursively()
    }

  /** The fixture root of this checkout: `target/qtmp` under the working
    * directory, which is the project base for sbt's forked `run` and
    * `Test` (Bench reads `tools/` relative to it as well). Each checkout
    * keeps, and sweeps, only its own stores.
    */
  private[graft] val qtmpRoot: java.io.File = new java.io.File("target/qtmp").getAbsoluteFile

  private lazy val qtmpKey: String = {
    val key = s"$qtmpVersion-$producerFingerprint"
    // disk hygiene on first use (lazy val = once per JVM): repeated
    // edit cycles must not accumulate dead parquet
    cleanStaleQtmp(qtmpRoot, key)
    key
  }

  /** `<root>/<key>/<tag>_<sf>`: a store's path, and the plain scratch
    * path of the round-trip sink queries' own outputs (`csv`, `json`,
    * `orc`, `xml`, `append`, `zorder_events`), which are not stores.
    */
  private[graft] def tmpDir(tag: String, sfDir: String): String = {
    val sf = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    s"$qtmpRoot/$qtmpKey/${tag}_$sf"
  }

  /** How a store lays its rows out on disk. */
  private[graft] sealed trait Layout
  private[graft] case object Parquet extends Layout
  /** Raw text lines: a single `value` column. */
  private[graft] case object TextLines extends Layout
  /** Hive-style directories per value of `column`: the engine-side
    * analogue of the reference's date-sharded `events_YYYYMMDD` table
    * family (its `extract_bq.py:95-110`), so a predicate on the column
    * prunes whole directories at planning time.
    */
  private[graft] final case class PartitionedBy(column: String) extends Layout
  /** 8 buckets on `key`, sorted in-bucket, one file per bucket, and a
    * session catalog table over them: every join or aggregate on the
    * key reads the store exchange-free.
    */
  private[graft] final case class BucketedOn(key: String) extends Layout

  /** A named fixture store: a deterministic input derived from the
    * testdata (a layout, a stage output, a trained model), built once
    * per producer fingerprint and sfDir, then read like the testdata
    * itself. `spread` re-splits the read to the session's parallelism:
    * a megabytes-sized store arrives as ONE split, and without the
    * spread every downstream map stage serializes onto one core
    * (measured 0.73 → 1.32 s on q_dedup_ngram when it was left out).
    */
  private[graft] final case class Store(tag: String, layout: Layout, spread: Boolean = false)(
      val build: (SparkSession, String) => DataFrame)

  /** A memo cell: computes outside the memo map's bin lock, so one
    * memo's computation may read another memo, and concurrent callers
    * of one key wait for the single computation. A failed computation
    * leaves the cell empty, so the next call retries.
    */
  private final class Once(private var f: () => Any) {
    lazy val value: Any = { val v = f(); f = null; v }
  }

  /** The one driver-local memo: one value per key per JVM. A key is a
    * tuple of the memo's name and its inputs: the fingerprinted store
    * path for values read from a store (a producer change re-keys
    * them), `sfDir` plus parameters for values derived from the
    * read-only testdata.
    */
  private val memos = new java.util.concurrent.ConcurrentHashMap[Any, Once]
  private def memo[V](key: Any)(compute: => V): V =
    memos.computeIfAbsent(key, _ => new Once(() => compute)).value.asInstanceOf[V]

  /** The one write-once primitive: write `df` at `path` in `layout`
    * unless a previous run completed there (the `_SUCCESS` marker),
    * then evict any memoized relation over `path` (and the memoized
    * catalog table of a bucketed store), since a rebuilt path must not
    * be served through a stale file listing. `df` is by-name, so the
    * frame is not even planned on the hit path.
    *
    * A per-path lock guards the check-then-write: the bench's 8-way
    * throughput phase can race two lazily-materializing consumers of
    * the same store in ONE JVM (e.g. after a failed prepare()); without
    * the lock both see no marker and overwrite each other's in-flight
    * files. Per path, not one global monitor: an in-flight write of one
    * store must not stall every unrelated store's marker check. Writers
    * in separate JVMs still need external coordination; the stores are
    * per-checkout scratch, so the JVM-wide scope is the honest one.
    */
  private[graft] def writeOnce(s: SparkSession, path: String, layout: Layout)(
      df: => DataFrame): Unit =
    memo(("lock", path))(new Object).synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        layout match {
          case Parquet => df.write.mode("overwrite").parquet(path)
          case TextLines => df.write.mode("overwrite").text(path)
          case PartitionedBy(c) => df.write.mode("overwrite").partitionBy(c).parquet(path)
          case BucketedOn(key) =>
            // repartition on the bucket key first: one task per bucket ⇒
            // one file per bucket, which is what lets the read side trust
            // the in-bucket sort and elide both exchange AND sort
            df.repartition(Buckets, col(key))
              .write.bucketBy(Buckets, key).sortBy(key)
              .option("path", path).mode("overwrite").saveAsTable(bucketTable(path))
            Tables.invalidateTable(bucketTable(path))
        }
        Tables.invalidatePath(path)
      } else layout match {
        case BucketedOn(key) if !s.catalog.tableExists(bucketTable(path)) =>
          // re-registering pre-existing bucket files on a fresh session:
          // derive the DDL schema FROM the files, never from a
          // hand-maintained string — a hardcoded type that drifted from
          // the written data would only surface on exactly this path, as
          // a miscast the first-run saveAsTable branch never exhibits
          val ddlSchema = s.read.parquet(path).schema.toDDL
          s.sql(s"CREATE TABLE IF NOT EXISTS ${bucketTable(path)} ($ddlSchema) USING parquet " +
            s"CLUSTERED BY ($key) SORTED BY ($key) INTO $Buckets BUCKETS LOCATION '$path'")
        case _ => ()
      }
    }

  private val Buckets = 8
  /** The catalog name of the bucketed store at `path` (catalog entries
    * are in-memory per session; the files persist under the key).
    */
  private def bucketTable(path: String): String =
    "graft_b_" + java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8)

  /** Materialize `st` for `sfDir` (write-once) and return its path. */
  private[graft] def materialize(st: Store, s: SparkSession, sfDir: String): String = {
    val path = tmpDir(st.tag, sfDir)
    writeOnce(s, path, st.layout)(st.build(s, sfDir))
    path
  }

  /** `st`'s rows for `sfDir`, materialized on first use: a bucketed
    * store through its catalog table, any other as a memoized parquet
    * read.
    */
  private[graft] def readStore(st: Store, s: SparkSession, sfDir: String): DataFrame = {
    val path = materialize(st, s, sfDir)
    st.layout match {
      case BucketedOn(_) => Tables.tableCached(s, bucketTable(path))
      case _ => Tables.readParquetCached(s, path,
        if (st.spread) s.sparkContext.defaultParallelism else 0)
    }
  }

  /** True iff `path` is a registered store's path for `sfDir`. */
  private[graft] def isStore(path: String, sfDir: String): Boolean =
    stores.exists(st => tmpDir(st.tag, sfDir) == path)

  /** documents ∪ suffix-perturbed copies (high-Jaccard near-dups). */
  private[graft] def perturbedCorpus(s: SparkSession, dir: String, cap: Long = Long.MaxValue): DataFrame = {
    val d = Tables.documents(s, dir)
      .filter(col("doc_id") < cap)
      .select(col("doc_id"), col("text"))
    d.unionByName(d.select(
      (col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" zz9 zz9")).as("text")))
  }

  /** documents ∪ exact copies (identical token bags). */
  private[graft] def exactDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
  }

  /** documents ∪ two prefix-truncated generations — guaranteed
    * duplicate CHAINS. Prefix truncation keeps shingle sets nested, so
    * Jaccards are pure length ratios: B (80% prefix) ~ A at J≈0.8 and
    * C (64% prefix) ~ B at J≈0.8, but C ~ A only at J≈0.64 < 0.7 —
    * A-B-C connect transitively, never directly. Exactly the input a
    * one-hop keeper gets wrong and connected components gets right.
    */
  private[graft] def chainFrame(s: SparkSession, dir: String, cap: Long): DataFrame = {
    val d = Tables.documents(s, dir)
      .filter(col("doc_id") < cap)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"), col("text"))
    def prefix(frac: Double): Column =
      array_join(slice(col("toks"), lit(1), ceil(size(col("toks")) * frac).cast("int")), " ")
    d.select(col("doc_id"), col("text"))
      .unionByName(d.select((col("doc_id") + 100000L).as("doc_id"), prefix(0.80).as("text")))
      .unionByName(d.select((col("doc_id") + 200000L).as("doc_id"), prefix(0.64).as("text")))
  }

  /** The chain corpus is a deterministic derived FIXTURE (like the
    * date-partitioned layout and the GA4 parquet): the per-doc
    * tokenize+slice construction is an input, not part of the operator
    * under test. Its consumers read it plainly (no repartition, no
    * cache): they are cheap scans, and on this corpus size the
    * exchange + cache-materialize action cost more in job launches
    * than the md5 pipeline they would parallelize.
    */
  private[graft] val Chain500 = Store("chain_500", Parquet)((s, dir) => chainFrame(s, dir, 500))

  /** The materialized CC keeper assignment over the chain corpus —
    * the dedup OUTPUT that `q_dedup_cc` declares and the audit
    * (`q_dup_cluster_stats`) reads. In production, dedup keepers are
    * always materialized before anything composes on them (the audit
    * never re-runs the LSH → verify → fixpoint chain), and at 100 TB
    * this parquet IS the handoff between the dedup stage and every
    * downstream consumer.
    */
  private[graft] val CcKeepers500 = Store("cc_keepers_500", Parquet) { (s, dir) =>
    Dedup.ccKeepersFromEdges(
      Dedup.verifiedNearDupPairsFromFrame(ddfChain(s, dir), minJaccard = 0.7),
      ddfChain(s, dir).select(col("doc_id")))
  }
  private[graft] def ccKeepers(s: SparkSession, dir: String): DataFrame =
    readStore(CcKeepers500, s, dir)

  /** The materialized per-doc dedup frame over the FULL perturbed
    * corpus — (doc_id, hs shingle-hash array, sz, minhashes), i.e.
    * [[graft.ops.Dedup.docDedupFrame]] written once per corpus
    * version. This is how production dedup actually runs: signatures
    * and shingle-hash sets are computed AT INGEST and stored; LSH
    * banding, estimate audits, and exact verification are queries
    * over that store (every real LSH service — e.g. the Lee et al.
    * 2022 / RefinedWeb pipelines — materializes signatures before
    * pairing). Five declared queries read it instead of each re-running
    * tokenize → shingle → md5 → fold from raw text.
    */
  private[graft] val DdfPerturbed = Store("ddf_perturbed", Parquet, spread = true)(
    (s, dir) => Dedup.docDedupFrame(perturbedCorpus(s, dir), 16))
  private[graft] def ddfPerturbed(s: SparkSession, dir: String): DataFrame =
    readStore(DdfPerturbed, s, dir)

  /** The cap-bounded slice of [[ddfPerturbed]]: per-doc rows are
    * independent, so filtering the materialized frame to the capped
    * id range (originals < cap, copies 100000..100000+cap) is exactly
    * the frame of `perturbedCorpus(cap)`.
    */
  private[graft] def ddfPerturbedCap(s: SparkSession, dir: String, cap: Long): DataFrame =
    ddfPerturbed(s, dir).filter(col("doc_id") < cap ||
      (col("doc_id") >= 100000L && col("doc_id") < 100000L + cap))

  /** [[ddfPerturbed]]'s twin over the chain corpus (cap 500) — read by
    * the containment query and by the CC keeper fixture build.
    */
  private[graft] val DdfChain500 = Store("ddf_chain_500", Parquet, spread = true)(
    (s, dir) => Dedup.docDedupFrame(readStore(Chain500, s, dir), 16))
  private[graft] def ddfChain(s: SparkSession, dir: String): DataFrame =
    readStore(DdfChain500, s, dir)

  /** Materialized SimHash fingerprint tables — the at-ingest form
    * (crawl dedup stores one fingerprint per document, Manku et al.
    * 2007): one over the exact-dup corpus (hamming-0 clustering), one
    * over the first 1000 documents (the hamming-≤k banding query).
    */
  private[graft] val SimhashFpsExactDup = Store("simhash_fps_exactdup", Parquet, spread = true)(
    (s, dir) => Dedup.simhashFps(exactDupCorpus(s, dir)))
  private[graft] def simhashFpsExactDup(s: SparkSession, dir: String): DataFrame =
    readStore(SimhashFpsExactDup, s, dir)

  private[graft] val SimhashFps1k = Store("simhash_fps_1k", Parquet, spread = true)(
    (s, dir) => Dedup.simhashFps(Tables.documents(s, dir).filter(col("doc_id") < 1000)
      .select(col("doc_id"), col("text"))))
  private[graft] def simhashFpsDocs1k(s: SparkSession, dir: String): DataFrame =
    readStore(SimhashFps1k, s, dir)

  /** The materialized JPEG media table — deterministic per-8×8-block-
    * constant gray rasters ENCODED once by the real baseline encoder
    * ([[graft.ops.Jpeg.encodeGray]]) and stored as payload rows, every
    * 9th truncated mid-stream. Payload construction is input-building
    * (this sandbox's testdata ships no real media bytes — same
    * precedent as the GA4 parquet and the chain corpus); the operator
    * under test is the DECODE, which runs fully per query.
    */
  private[graft] val JpegMedia = Store("jpeg_media", Parquet, spread = true) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val wb = (2 + id % 3).toInt; val hb = (2 + id % 2).toInt
        val w = wb * 8; val h = hb * 8
        val base = (60 + (id % 80) * 2).toInt
        val y = new Array[Byte](w * h)
        var p = 0
        while (p < w * h) {
          val bk = (p / w / 8) * wb + (p % w) / 8
          y(p) = (base + 2 * bk).toByte
          p += 1
        }
        val bytes0 = graft.ops.Jpeg.encodeGray(w, h, y)
        val bytes = if (id % 9 == 0) bytes0.take(10) else bytes0
        graft.ops.Multimodal.MediaRow(id, "image", bytes, bytes.length.toLong, "jpeg")
      }.toDF()
  }
  private[graft] def jpegMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.ops.Multimodal.MediaRow] = {
    import s.implicits._
    readStore(JpegMedia, s, dir).as[graft.ops.Multimodal.MediaRow]
  }

  /** The PNG twin of [[jpegMedia]]: deterministic gray rasters
    * (pixel = base + x%4 + 2·(y%2), so mean and std derive from doc_id
    * arithmetically) ENCODED once by the real PNG encoder
    * ([[graft.ops.Png.encodeGray]]). Two corruption modes — every 11th
    * payload truncated mid-chunk, every 13th with a flipped final CRC
    * byte — so the quarantine path covers both torn and bit-rotted
    * streams. Payload construction is input-building (same precedent
    * as jpegMedia); the operator under test is the DECODE.
    */
  private[graft] val PngMedia = Store("png_media", Parquet, spread = true) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val w = (12 + (id % 7) * 4).toInt // multiple of 4: x%4 offsets balance
        val h = (10 + (id % 5) * 6).toInt // even: y%2 offsets balance
        val base = (40 + id % 150).toInt
        val y = new Array[Byte](w * h)
        var p = 0
        while (p < w * h) {
          y(p) = (base + (p % w) % 4 + 2 * ((p / w) % 2)).toByte
          p += 1
        }
        val bytes0 = graft.ops.Png.encodeGray(w, h, y)
        val bytes =
          if (id % 11 == 0) bytes0.take(25)
          else if (id % 13 == 0) {
            val b = bytes0.clone(); b(b.length - 1) = (b(b.length - 1) ^ 1).toByte; b
          } else bytes0
        graft.ops.Multimodal.MediaRow(id, "image", bytes, bytes.length.toLong, "png")
      }.toDF()
  }
  private[graft] def pngMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.ops.Multimodal.MediaRow] = {
    import s.implicits._
    readStore(PngMedia, s, dir).as[graft.ops.Multimodal.MediaRow]
  }

  /** One planted 8×8 black/white raster of the q_media_phash_band
    * family: bit i bright iff the multiply-xor-mod mix of (base, i)
    * says so, XOR the parity of `flips` hitting i — the construction
    * whose 64-bit aHash the DuckDB oracles restate arithmetically.
    * ONE definition for the standing corpus, the incremental batch,
    * and the spec, so the three cannot drift.
    */
  private def phashPpm(base: Long, flips: Seq[Int]): Array[Byte] = {
    val rgb = new Array[Byte](8 * 8 * 3)
    var i = 0
    while (i < 64) {
      val bright =
        (((i * 144115188075855881L) ^ (base * 2654435761L)) % 97 < 48) !=
          (flips.count(_ == i) % 2 == 1)
      val v: Byte = if (bright) 255.toByte else 0.toByte
      rgb(i * 3) = v; rgb(i * 3 + 1) = v; rgb(i * 3 + 2) = v
      i += 1
    }
    graft.ops.Multimodal.PpmCodec.encode(
      graft.ops.Multimodal.PpmCodec.Image(8, 8, rgb))
  }

  /** The STANDING media corpus of the perceptual-hash family
    * (q_media_phash_band / q_media_dedup_cc / the incremental tier):
    * base pattern from doc_id % 64, odd ids flip one bit at
    * (doc_id/64) % 64 — same-base groups sit at hamming 0/1/2 — and
    * every 9th payload corrupt (quarantined before banding).
    */
  private[graft] def phashMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.ops.Multimodal.MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir).filter(col("doc_id") < 2000)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val flips = if (id % 2 == 1) Seq(((id / 64) % 64).toInt) else Nil
        val bytes0 = phashPpm(id % 64, flips)
        val bytes = if (id % 9 == 0) bytes0.take(6) else bytes0
        graft.ops.Multimodal.MediaRow(id, "image", bytes,
          bytes.length.toLong, "ppm")
      }
  }

  /** The incremental BATCH the media-dedup nightly run probes with
    * (q_media_dedup_incremental): per standing original `o`, an exact
    * COPY (+1M, o%4==1 — pattern(o) verbatim, hamming 0), a NEAR-DUP
    * (+2M, o%4==2 — one extra bit flipped at (o·7)%64, hamming ≤ 1 of
    * the original), and a FRESH image (+3M, o%4==3 — base o%64+64,
    * outside the standing base space). Every original with o%9==5
    * ships a corrupt batch payload (the decode-quarantine class is
    * independent of the standing corrupt class o%9==0, so a valid
    * copy of a corrupt original exercises the dead-owner rule).
    */
  private[graft] def phashBatchMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.ops.Multimodal.MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") < 2000 && col("doc_id") % 4 =!= 0)
      .select(col("doc_id")).as[Long]
      .map { o =>
        val origFlips = if (o % 2 == 1) Seq(((o / 64) % 64).toInt) else Nil
        val (mid, base, flips) = (o % 4) match {
          case 1 => (o + 1000000L, o % 64, origFlips)
          case 2 => (o + 2000000L, o % 64, origFlips :+ ((o * 7) % 64).toInt)
          case _ => (o + 3000000L, o % 64 + 64, Seq.empty[Int])
        }
        val bytes0 = phashPpm(base, flips)
        val bytes = if (o % 9 == 5) bytes0.take(6) else bytes0
        graft.ops.Multimodal.MediaRow(mid, "image", bytes,
          bytes.length.toLong, "ppm")
      }
  }

  /** The MATERIALIZED standing pHash band index for
    * `q_media_dedup_incremental` —
    * [[graft.ops.Multimodal.phashBandIndex]] over [[phashMedia]]
    * written once per corpus version at prepare (the decode + hash of
    * the standing corpus is paid here, never per nightly run).
    */
  private[graft] val MediaBandIdx = Store("media_band_idx", Parquet)((s, dir) =>
    graft.ops.Multimodal.phashBandIndex(
      graft.ops.Multimodal.averageHash(phashMedia(s, dir), size = 8).toDF(),
      hashBits = 64, bands = 4))
  private[graft] def mediaBandIdx(s: SparkSession, dir: String): DataFrame =
    readStore(MediaBandIdx, s, dir)

  /** The materialized (doc_id, prev, next, c) bigram collapse every
    * LM scorer reads ([[graft.ops.Text.bigramCollapse]]) — the KenLM
    * count-table move: tokenize the corpus ONCE per version, serve
    * the counts to every model (`q_bigram_lm`, `q_lm_interp`,
    * `q_kn_bigram`) instead of re-building them per query. Plain read:
    * each scorer scans it twice (vocab lookup build + instance fold),
    * and two parquet scans of a counts table are cheaper than a
    * cache-materialize job.
    */
  private[graft] val LmCollapse = Store("lm_collapse", Parquet)((s, dir) =>
    graft.ops.Text.bigramCollapse(Tables.documents(s, dir)))
  private[graft] def lmCollapse(s: SparkSession, dir: String): DataFrame =
    readStore(LmCollapse, s, dir)

  /** The materialized impact-style posting store
    * ([[graft.ops.Text.postingStoreFrame]]) the lexical retrieval
    * queries read — per (doc_id, token): tf, df, kept flag, tf·idf
    * weight, kept-vocab unit weight, precomputed BM25 contribution.
    * Built once per corpus version at the declared queries' similarity
    * config (dfCapFrac 0.85, k1 1.2, b 0.75), so q_tfidf /
    * q_sparse_cosine / q_bm25 / q_rrf do not each re-run the tokenize →
    * collapse → weight chain per query. The cap bounds the tf·idf
    * rankers only: BM25 scores every posting, `kept` or not, as
    * q_bm25's uncapped oracle does. Spread on read — see
    * [[ddfPerturbed]].
    */
  private[graft] val TokPostings = Store("tok_postings", Parquet, spread = true)((s, dir) =>
    graft.ops.Text.postingStoreFrame(Tables.documents(s, dir), dfCapFrac = 0.85))
  private[graft] def tokPostings(s: SparkSession, dir: String): DataFrame =
    readStore(TokPostings, s, dir)

  /** Driver-local query slice of the posting store — the retrieval
    * queries' search-request side (docs 0..nQ-1's postings: q_id,
    * token, qw = kept-vocab unit weight, NULL on capped tokens). The
    * query SET is a bounded input that does not grow with the corpus
    * (100 TB scales the store, not the requests), so holding it
    * driver-side is the same sanctioned bounded-input pattern as Sim's
    * query matrices — and a LocalRelation's broadcast build needs no
    * scan job, cutting every retrieval consumer by one job + one store
    * scan. Memoized per (fingerprinted store path, nQ), so a producer
    * change re-collects; PostingStoreSpec pins the local-slice forms
    * bit-identical to the store-derived ones.
    */
  private[graft] def tokPostingsQueryLocal(s: SparkSession, dir: String, nQ: Int): DataFrame = {
    import s.implicits._
    val rows = memo(("tok_postings_q", tmpDir(TokPostings.tag, dir), nQ)) {
      tokPostings(s, dir).filter(col("doc_id") < nQ)
        .select(col("doc_id"), col("token"), col("wn"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    }
    rows.toDF("q_id", "token", "qw")
  }

  /** Driver-local query-vector slice of the embeddings table (vec_id <
    * nQ, id-ascending) — the bounded model-build collect every ANN
    * operator performs on its query side. Memoized per (dir, nQ): the
    * input is the RAW read-only testdata table (no produced fixture to
    * fingerprint), and the memo is per-JVM in-memory only, so there is
    * no stale-store risk. Feeding the memo back through each
    * operator's optional pre-collected parameter makes repeat
    * constructs job-free without changing a single result row
    * (QueryModelMemoSpec pins memo-fed ≡ collect-path per operator).
    */
  private[graft] def embQueryLocal(s: SparkSession, dir: String,
                                   nQ: Int): IndexedSeq[(Long, Array[Double])] =
    memo(("emb_q", dir, nQ)) {
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .filter(col("vec_id") < nQ).orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toIndexedSeq
    }

  /** Driver-local labeled holdout slice (vec_id % modulus == 0,
    * id-ascending) — knnLabelVote's query-matrix model build. Same
    * bounded-collect family and memo reasoning as [[embQueryLocal]].
    */
  private[graft] def embHoldoutLocal(s: SparkSession, dir: String,
                                     modulus: Int): IndexedSeq[(Long, Int, Array[Double])] =
    memo(("emb_holdout", dir, modulus)) {
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .filter(pmod(col("vec_id"), lit(modulus.toLong)) === 0)
        .orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .toIndexedSeq
    }

  /** Memoized DSIR bucket-ratio model — the B-row (bucket, loglr_u6)
    * table [[graft.ops.Text.dsirWeightsFrom]] replays as a
    * LocalRelation. Bounded by construction (B rows regardless of
    * corpus size — the model IS a fixed-size artifact, like the
    * classifier weights and k-means centroids), computed once per
    * (dir, buckets) from the raw table via the SAME plan the in-plan
    * form broadcasts (Text.dsirRatioPlan), so the two forms cannot
    * drift; DsirSpec pins model-fed ≡ in-plan row-for-row.
    */
  private[graft] def dsirRatioLocal(s: SparkSession, dir: String,
                                    buckets: Int): Seq[(Long, Long)] =
    memo(("dsir_ratio", dir, buckets)) {
      graft.ops.Text.dsirRatio(Tables.documents(s, dir), col("lang") === "en", buckets)
    }

  /** Memoized routed-query model for [[graft.ops.Hnsw.hnswTopKRouted]]
    * — each query's vector plus its nProbe best cells under the shared
    * corpus-versioned k-means quantizer ([[pqModel]]). The probe lists
    * are computed ONCE by the operator's own model-build path (so the
    * probe arithmetic stays in one place) and replayed
    * on every later construct. Keyed by dir + params; the centroids
    * are a pure function of dir through the fingerprinted pq store.
    */
  private[graft] def hnswRoutedQueryLocal(s: SparkSession, dir: String,
      nQ: Int, nProbe: Int): IndexedSeq[(Long, Array[Double], Array[Int])] =
    memo(("hnsw_routed", dir, nQ, nProbe)) {
      graft.ops.Hnsw.routedQueryModel(
        Tables.embeddings(s, dir), pqModel(s, dir)._1, nQ, nProbe).toIndexedSeq
    }

  /** Memoized row count of a raw testdata table — the size a
    * [[graft.ops.Relational.bandedNtile]] consumer probes to pick its
    * execution path. At warehouse scale this is parquet-footer
    * metadata, not a job; here the first call pays one count and every
    * later construct is job-free. Only valid for counts of frames that
    * are ROW-PRESERVING derivations of the named table (the ntile
    * consumers' contract — each caller documents why).
    */
  private[graft] def tableCountLocal(s: SparkSession, dir: String,
                                     table: String): Long =
    memo(("table_count", dir, table))(Tables.table(s, dir, table).count())

  /** Memoized count of docs carrying at least one bigram (the
    * interp-LM scorer's output row count) — the banding probe for the
    * perplexity-band query, same family as [[tableCountLocal]].
    */
  private[graft] def lmDocCountLocal(s: SparkSession, dir: String): Long =
    memo(("lm_doc_count", dir))(lmCollapse(s, dir).select(col("doc_id")).distinct().count())

  /** Memoized |users| of the RFM per-user aggregate at an anchor —
    * [[graft.ops.EventOps.rfmSegments]]'s single banding probe. Keyed
    * by (dir, anchor); the aggregate is a pure function of the
    * read-only events table.
    */
  private[graft] def rfmUserCountLocal(s: SparkSession, dir: String,
                                       anchorUs: Long): Long =
    memo(("rfm_user_count", dir, anchorUs)) {
      graft.ops.EventOps.rfmPerUser(Tables.events(s, dir), anchorUs).count()
    }

  /** Bucketed twin tables for the co-located join: orders
    * and customer written ONCE as 8-bucket tables on the join key
    * (one file per bucket, sorted in-bucket), so the per-customer
    * pre-aggregate runs WITHOUT an exchange (bucketing satisfies the
    * group-by clustering), the orders⋈customer sort-merge join runs
    * WITHOUT an exchange on either side, and only the final
    * nation-sized aggregate shuffles — the canonical 100 TB layout
    * answer to a repeated big-join key (bucket both sides at ingest;
    * every downstream join/agg on that key is exchange-free forever).
    * Files persist under the fingerprinted qtmp dir; the catalog entry
    * (in-memory per session) is re-registered by DDL over the existing
    * LOCATION on each fresh session. BucketJoinSpec pins the plan
    * shape (zero custkey exchanges) and the row-for-row equivalence
    * with the plain shuffled join.
    */
  private[graft] val BucketOrders = Store("bucket_orders", BucketedOn("o_custkey"))((s, dir) =>
    Tables.table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
  private[graft] val BucketCustomer = Store("bucket_customer", BucketedOn("c_custkey"))((s, dir) =>
    Tables.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")))
  private[graft] def bucketedOrdersCustomer(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (readStore(BucketOrders, s, dir), readStore(BucketCustomer, s, dir))

  /** The GA4-shaped nested table (the reference's actual N1 input,
    * `/root/reference/extract_bq.py:155-164`): `event_params` is
    * ARRAY<STRUCT<key, value STRUCT<string_value, int_value>>>,
    * derived deterministically from `events` so the DuckDB oracle can
    * state the expected extraction from first principles. The five
    * shapes by event_id % 5: NULL array (0), key among others (1),
    * DUPLICATE key — last must win (2), key absent (3), key first (4).
    */
  private[graft] def ga4Frame(events: DataFrame): DataFrame = {
    val kStr = get_json_object(col("props"), "$.k")
    val kLong = kStr.cast("long")
    def p(key: String, sv: Column, iv: Column): Column = struct(
      lit(key).as("key"),
      struct(sv.as("string_value"), iv.as("int_value")).as("value"))
    def pStr(key: String, sv: Column): Column = p(key, sv, lit(null).cast("long"))
    val m = col("event_id") % 5
    val params =
      when(m === 0, lit(null))
        .when(m === 1, array(pStr("page", lit("home")), p("k", kStr, kLong)))
        .when(m === 2, array(
          p("k", kStr, kLong),
          p("k", (kLong * 2).cast("string"), kLong * 2)))
        .when(m === 3, array(pStr("page", lit("search"))))
        .otherwise(array(p("k", kStr, kLong), pStr("page", lit("cart"))))
    events.select(
      col("event_id"),
      col("user_id").cast("string").as("user_id"),
      col("ts_us").as("event_timestamp"),
      col("event_type").as("event_name"),
      params.as("event_params"))
  }

  private[graft] val Ga4 = Store("ga4", Parquet)((s, dir) => ga4Frame(Tables.events(s, dir)))
  private[graft] def ga4Table(s: SparkSession, dir: String): DataFrame = readStore(Ga4, s, dir)

  /** The date-partitioned events layout (the reference's sharded
    * `events_YYYYMMDD` family): one directory per `event_date`.
    */
  private[graft] val EventsByDate = Store("events_by_date", PartitionedBy("event_date"))((s, dir) =>
    Tables.events(s, dir).withColumn(
      "event_date", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd")))

  /** The deliberately-dirty intake feeds of the PERMISSIVE trio
    * (`q_json_intake`, `q_xml_intake`, `q_csv_intake`): the events
    * table as text lines in which every 13th record is malformed, so
    * the oracles state the quarantine counts straight from the clean
    * table. Fan-out: the regenerated events parquet arrives as ONE
    * split, and a single-file feed would serialize the permissive parse
    * (the whole cost of those queries) onto one core.
    */
  private[graft] val DirtyJsonl = Store("dirty_jsonl", TextLines)((s, dir) =>
    Tables.events(s, dir).select(
      when(col("event_id") % 13 === 0, lit("{broken json line"))
        .otherwise(to_json(struct(
          col("event_id"), col("event_type"),
          col("user_id"), col("ts_us")))).as("value"))
      .repartition(fanEvHeavyN(s, dir)))

  /** Line-delimited XML: the malformed record carries a non-numeric
    * event_id cell inside well-formed markup, and event_type is
    * entity-escaped so the feed itself stays well-formed.
    */
  private[graft] val DirtyXml = Store("dirty_xml", TextLines) { (s, dir) =>
    val esc = (c: Column) =>
      regexp_replace(regexp_replace(regexp_replace(c,
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
    // a NULL field omits its element (the writer convention; reads
    // back as NULL) — concat over a raw NULL would null the LINE and
    // break the text sink
    val elem = (name: String, v: Column) =>
      when(v.isNull, lit("")).otherwise(
        concat(lit(s"<$name>"), v, lit(s"</$name>")))
    Tables.events(s, dir).select(concat(
      lit("<row>"),
      elem("event_id",
        when(col("event_id") % 13 === 0, concat(lit("x"), col("event_id")))
          .otherwise(col("event_id").cast("string"))),
      elem("event_type", esc(col("event_type"))),
      elem("user_id", col("user_id").cast("string")),
      elem("ts_us", col("ts_us").cast("string")),
      lit("</row>")).as("value"))
      .repartition(fanEvHeavyN(s, dir))
  }

  /** CSV: the malformed line carries a non-numeric event_id cell.
    * event_type values are comma-free, so the unquoted writer is
    * unambiguous; a NULL user_id writes as an empty cell (reads back
    * NULL) — concat_ws would DROP the cell and shift the row.
    */
  private[graft] val DirtyCsv = Store("dirty_csv", TextLines)((s, dir) =>
    Tables.events(s, dir).select(concat_ws(",",
      when(col("event_id") % 13 === 0, concat(lit("x"), col("event_id")))
        .otherwise(col("event_id").cast("string")),
      col("event_type"),
      coalesce(col("user_id").cast("string"), lit("")),
      col("ts_us").cast("string")).as("value"))
      .repartition(fanEvHeavyN(s, dir)))

  /** Materialized trained quality-classifier model — (idx, w) rows,
    * idx −1 carrying the bias ([[graft.ops.Text.trainQualityLrLocal]],
    * deterministic, so this is a derived corpus-versioned constant
    * exactly like the PQ codebooks). Production ships the trained
    * gate as an artifact (the fastText .bin analog) and every scoring
    * run loads it; training per query invocation would re-collect and
    * re-tokenize the sample each time. Memoized per JVM after the
    * first read (a model constant, not a data cache — CacheScope
    * hygiene does not apply); doubles round-trip parquet bit-exactly,
    * and the dynamic oracle re-trains INDEPENDENTLY at Verify time,
    * so a drifted store fails the hash gate rather than hiding.
    */
  private[graft] val QualityLr = Store("quality_lr", Parquet) { (s, dir) =>
    import s.implicits._
    val (w, b) = graft.ops.Text.trainQualityLrLocal(
      graft.ops.Text.qualityCorpus(Tables.documents(s, dir)), dim = 256)
    (w.zipWithIndex.map { case (x, i) => (i, x) }.toSeq :+ ((-1, b)))
      .toDF("idx", "w")
  }
  private[graft] def qualityModel(s: SparkSession, dir: String)
      : (Array[Double], Double) =
    memo(("quality_lr", tmpDir(QualityLr.tag, dir))) {
      val rows = s.read.parquet(materialize(QualityLr, s, dir)).collect()
        .map(r => (r.getInt(0), r.getDouble(1)))
      val w = new Array[Double](256)
      var b = 0.0
      rows.foreach { case (i, x) => if (i < 0) b = x else w(i) = x }
      (w, b)
    }

  /** Materialized trained BPE merge list — (rank, a, b) rows from
    * [[graft.ops.Text.bpeTrain]] (deterministic: exact vocab-weighted
    * pair counts, argmax tiebreak (count DESC, pair ASC)). The trained
    * tokenizer is THE canonical shipped artifact of an LLM data
    * pipeline (merges.txt); every encode run loads it. Same memo /
    * independent-retrain reasoning as [[qualityModel]]: the dynamic
    * oracle re-trains at Verify time with the identical call, so a
    * drifted store fails the hash gate rather than hiding.
    */
  private[graft] val BpeMerges = Store("bpe_merges", Parquet) { (s, dir) =>
    import s.implicits._
    val m = graft.ops.Text.bpeTrain(Tables.documents(s, dir), nMerges = 32, minWordCount = 2L)
    m.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("rank", "a", "b")
  }
  private[graft] def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    memo(("bpe_merges", tmpDir(BpeMerges.tag, dir))) {
      s.read.parquet(materialize(BpeMerges, s, dir)).collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
    }

  /** The SPM training configuration both the store build and the
    * dynamic oracle's independent re-train share — ONE definition so
    * they cannot drift (vocab 300 pieces, ≤4-char pieces, 3 hard-EM
    * rounds, hapax words pruned).
    */
  private[graft] val SpmVocabSize = 300
  private[graft] val SpmMaxPieceLen = 4
  private[graft] val SpmEmIters = 3
  /** Sampling temperature for q_spm_sample in integer micro-nats
    * (0.3 nat — wide enough to flip close segmentation calls, far
    * below the UNK penalty). Shared by the query and its dynamic
    * oracle.
    */
  private[graft] val SpmSampleTauU6 = 300000L
  private[graft] def spmTrain(s: SparkSession, dir: String): Seq[(String, Long)] =
    graft.ops.Text.spmTrainLocal(Tables.documents(s, dir),
      vocabSize = SpmVocabSize, maxPieceLen = SpmMaxPieceLen,
      emIters = SpmEmIters, minWordCount = 2L)

  /** Materialized trained unigram-LM piece vocabulary — (piece,
    * cost_u6) rows from [[graft.ops.Text.spmTrainLocal]]. The SECOND
    * canonical shipped tokenizer artifact next to [[bpeMerges]]
    * (SentencePiece's .model file); same memo / independent-retrain
    * reasoning — the dynamic oracle re-trains at Verify time with the
    * identical call, so a drifted store fails the hash gate.
    */
  private[graft] val SpmModel = Store("spm_model", Parquet) { (s, dir) =>
    import s.implicits._
    spmTrain(s, dir).toDF("piece", "cost_u6")
  }
  private[graft] def spmModel(s: SparkSession, dir: String): Seq[(String, Long)] =
    memo(("spm_model", tmpDir(SpmModel.tag, dir))) {
      s.read.parquet(materialize(SpmModel, s, dir)).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    }

  /** Memoized pre-segmented vocabulary — (word, n_pieces, cost_u6) for
    * every corpus word type PLUS the planted-doc words, computed ONCE
    * by the operator's own DP ([[graft.ops.Text.spmSegmentFrame]], so
    * the arithmetic stays in one place) and replayed as a
    * LocalRelation by both spm queries. Bounded (Heaps-law vocab; 31
    * types on this corpus) — the segmented word list is a derived
    * artifact of the shipped tokenizer, exactly the
    * [[dsirRatioLocal]]/[[embQueryLocal]] pattern; the in-plan guard
    * raises loudly on any word the slice misses.
    */
  private[graft] def spmSegLocal(s: SparkSession, dir: String): Seq[(String, Long, Long)] =
    memo(("spm_seg", dir)) {
      import s.implicits._
      val model = spmModel(s, dir)
      val words = Tables.documents(s, dir).select(col("text"))
        .unionByName(spmPlantedDocs(model).map(_._2).toDF("text"))
        .select(explode(graft.ops.Dedup.tokens(col("text"))).as("word"))
        .distinct()
      graft.ops.Text.spmSegmentFrame(words, model, SpmMaxPieceLen)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    }

  /** [[spmSegLocal]]'s BYTE-FALLBACK twin — (word, n_pieces, cost_u6,
    * n_fallback_pieces) for every corpus word type PLUS the fallback
    * planted-doc words, computed once by the operator's own fallback
    * DP (so q_spm_byte_fallback runs the same memoized-vocab 1-job
    * shape as q_spm_encode instead of re-running its DP in-plan per
    * sample — same bounded-artifact rationale, same in-plan raise guard on any
    * missing word; SpmSpec pins memo-fed ≡ internal for the fallback
    * form too).
    */
  private[graft] def spmSegFbLocal(s: SparkSession, dir: String): Seq[(String, Long, Long, Long)] =
    memo(("spm_seg_fb", dir)) {
      import s.implicits._
      val model = spmModel(s, dir)
      val words = Tables.documents(s, dir).select(col("text"))
        .unionByName(spmFallbackPlantedDocs.map(_._2).toDF("text"))
        .select(explode(graft.ops.Dedup.tokens(col("text"))).as("word"))
        .distinct()
      graft.ops.Text.spmSegmentFrame(words, model, SpmMaxPieceLen,
          byteFallback = true)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    }

  /** [[spmSegLocal]]'s SAMPLED twin — the per-(tau, epoch) perturbed
    * segmentation of the corpus vocabulary (q_spm_sample's model
    * slice; no planted docs in that query). Same bounded-artifact and
    * loud-guard reasoning.
    */
  private[graft] def spmSampleSegLocal(s: SparkSession, dir: String,
      tauU6: Long, epoch: Int): Seq[(String, Long, Long)] =
    memo(("spm_sample_seg", dir, tauU6, epoch)) {
      val words = Tables.documents(s, dir)
        .select(explode(graft.ops.Dedup.tokens(col("text"))).as("word"))
        .distinct()
      graft.ops.Text.spmSampleSegmentFrame(words, spmModel(s, dir),
          SpmMaxPieceLen, tauU6, epoch)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    }

  /** Adversarial planted docs for q_spm_encode — piece-concatenation
    * words (the DP must choose pieces over chars), an out-of-vocab
    * character (`~` never appears in corpus tokens — exercises the
    * UNK single-char fallback on BOTH engines), and prefix-overlap
    * words where greedy longest-match and Viterbi can diverge. Built
    * from the two longest learned pieces so the corners exercise the
    * real trained vocabulary whatever the corpus.
    */
  private[graft] def spmPlantedDocs(model: Seq[(String, Long)]): Seq[(Long, String)] = {
    val multis = model.map(_._1).filter(_.length > 1)
      .sortBy(p => (-p.length, p))
    val p = multis.headOption.getOrElse("aa")
    val q = multis.drop(1).headOption.getOrElse("bb")
    Seq(
      (9100001L, s"$p$q$p $q$p $p$p"),
      (9100002L, s"$p~$q ~~ ~$p~"),
      (9100003L, s"${p.head}$p $q${q.last} $p${p.head}$q"))
  }

  /** Planted docs for q_spm_byte_fallback — precomposed accents, CJK,
    * and NON-BMP code points (4-byte UTF-8, one code point = two Java
    * chars — the surrogate-pair case the codepoint-based DP must
    * handle) that the training corpus never saw, plus an all-ASCII
    * control row where n_fb must be 0 (single-char coverage survives
    * training). Literal rows, mirrored verbatim into the oracle.
    */
  private[graft] val spmFallbackPlantedDocs: Seq[(Long, String)] = Seq(
    (9200001L, "naïve café déjà"),
    (9200002L, "東京 データ 処理"),
    (9200003L, "🎼 music 𝄞 clef 🚀"),
    (9200004L, "plain ascii control row"))

  /** Planted multilingual docs for q_lang_segments (w = 8): a clean
    * two-half doc (article→query, 2 segments), an alternating-thirds
    * doc (article→stream→article, 3 segments — the run break), and a
    * two-chunk same-language doc (collapses to ONE segment, n_chunks
    * = 2). Literal rows, mirrored verbatim into the oracle.
    */
  private[graft] val langSegPlantedDocs: Seq[(Long, String)] = Seq(
    (9300001L, "the a order key the key order a " +
      "spark query table row spark row table query"),
    (9300002L, "the a order key order the key a " +
      "batch stream window merge stream batch merge window " +
      "the key a order a the order key"),
    (9300003L, "batch stream window merge merge window stream batch " +
      "batch batch stream stream window window merge merge"))

  /** Adversarial planted docs for q_bpe_encode — adjacent-occurrence
    * and self-pair merge corners that random corpus text may never
    * hit, run through BOTH engines' replace chains (the oracle mirrors
    * these rows as literals). Built from the two highest-ranked
    * learned merges so the corners exercise real patterns from the
    * trained list whatever the corpus.
    */
  private[graft] def bpePlantedDocs(merges: Seq[(String, String)]): Seq[(Long, String)] = {
    val (a, b) = merges.headOption.getOrElse(("a", "b"))
    val (c, d) = merges.drop(1).headOption.getOrElse(("c", "d"))
    Seq(
      (9000001L, s"$a$b$a$b$a$b $a$b$a$b $c$d$c$d"), // adjacent occurrences, both merges
      (9000002L, s"$a$a$a$a $a$a$a $a$a $c$c$c"), // self-pair odd/even runs
      (9000003L, s"$b$a $a$b$b$a$b $a$b$c$d$d$c")) // pattern straddles its own pieces; rank-0 output feeds rank-1 context
  }

  /** Materialized IVF/PQ model — the coarse centroids and per-subspace
    * codebooks every trained-ANN query shares (nCells=8, m=8, ks=16,
    * iters=4, sampleMod=2 — the q_sim_ann_kmeans configuration; the
    * dynamic oracles re-run [[graft.ops.Sim.pqTrainLocal]]
    * INDEPENDENTLY at Verify time, so store drift fails the hash
    * gate). faiss trains an index as a build step and serves it to
    * every search; this is that artifact. Same memo/round-trip
    * reasoning as [[qualityModel]].
    */
  private[graft] val PqModel = Store("pq_model", Parquet) { (s, dir) =>
    import s.implicits._
    val (cents, cbs) = graft.ops.Sim.pqTrainLocal(
      Tables.embeddings(s, dir), nCells = 8, m = 8, ks = 16,
      iters = 4, sampleMod = 2)
    (cents.map { case (id, v) => ("cent", id.toInt, 0, v.toSeq) } ++
      cbs.zipWithIndex.flatMap { case (codes, j) =>
        codes.zipWithIndex.map { case (cv, c) => ("cb", j, c, cv.toSeq) }
      }).toDF("kind", "i", "j", "vec")
  }
  private[graft] def pqModel(s: SparkSession, dir: String)
      : (graft.ops.Sim.Centroids, graft.ops.Sim.Codebooks) =
    memo(("pq_model", tmpDir(PqModel.tag, dir))) {
      val rows = s.read.parquet(materialize(PqModel, s, dir)).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
          r.getSeq[Double](3).toArray))
      val cents: graft.ops.Sim.Centroids = rows.filter(_._1 == "cent")
        .sortBy(_._2).map(r => (r._2.toLong, r._4)).toSeq
      val nSub = rows.filter(_._1 == "cb").map(_._2).max + 1
      val cbs: graft.ops.Sim.Codebooks = (0 until nSub).map { j =>
        rows.filter(r => r._1 == "cb" && r._2 == j)
          .sortBy(_._3).map(_._4).toSeq
      }
      (cents, cbs)
    }

  /** The planted link-farm block q_html_extract appends to every
    * doc_id % 7 == 3 page — ONE definition interpolated into both the
    * Spark construction and the DuckDB oracle so the planted chrome
    * cannot drift between engines (40 anchors, 110 anchor chars).
    */
  private[graft] val htmlLinkFarm: String =
    (0 until 40).map(i => s"""<a href="/p$i">x$i</a>""")
      .mkString("<div>", " ", "</div>")

  /** The MATERIALIZED standing IVF index for `q_sim_ivf_incremental` —
    * [[graft.ops.Sim.ivfAssign]] over the embeddings table under the
    * frozen pqModel coarse quantizer, written once per corpus version
    * PARTITIONED BY cell (faiss's inverted lists as a parquet layout:
    * a probe that filters on cell prunes whole partitions at scan
    * time). Nightly maintenance appends batch assignments to this
    * store; the declared query exercises the read + map-side batch
    * assignment + union search path.
    */
  private[graft] val IvfAssigned8 = Store("ivf_assigned_8", PartitionedBy("cell"))((s, dir) =>
    graft.ops.Sim.ivfAssign(Tables.embeddings(s, dir), pqModel(s, dir)._1))
  private[graft] def ivfAssignedStore(s: SparkSession, dir: String): DataFrame =
    readStore(IvfAssigned8, s, dir)

  /** The planted incremental embedding BATCH `q_sim_ivf_incremental`
    * assigns and searches: reversed copies (+1M, vec_id % 3 == 0 —
    * same elements, permuted order, so every arithmetic fold runs in
    * the identical element order in both engines) and exact copies
    * (+2M, vec_id % 5 == 1 — planted cos 1.0 hits: a copied query
    * vector's nearest neighbor must be its original). ONE definition
    * with [[ivfBatchSql]] so the Spark construction and the DuckDB
    * oracle cannot drift.
    */
  private[graft] def ivfBatch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    emb.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      .unionByName(
        emb.filter(col("vec_id") % 5 === 1)
          .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")))
  }

  /** The SEALED segment store for `q_sim_hnsw_sealed` —
    * [[graft.ops.Hnsw.hnswSealSegment]] over the planted [[ivfBatch]]
    * written once at prepare (the compaction a vector store runs when
    * a growing segment reaches its flush size): per-cell graphs built
    * off the frozen quantizer, serialized node rows. The declared
    * query walks this store, proving seal → persist → load → search
    * loses nothing vs the growing tier.
    */
  private[graft] val HnswSealedSeg = Store("hnsw_sealed_seg", Parquet)((s, dir) =>
    graft.ops.Hnsw.hnswSealSegment(ivfBatch(s, dir), pqModel(s, dir)._1,
      m = 8, efConstruction = 64))
  private[graft] def hnswSealedStore(s: SparkSession, dir: String): DataFrame =
    readStore(HnswSealedSeg, s, dir)

  /** [[ivfBatch]] as UNION ALL branches for the dynamic oracle's
    * corpus CTE. */
  private[graft] val ivfBatchSql: String =
    """
      |  UNION ALL SELECT vec_id + 1000000,
      |    list_reverse(CAST(embedding AS DOUBLE[]))
      |  FROM embeddings WHERE vec_id % 3 = 0
      |  UNION ALL SELECT vec_id + 2000000, CAST(embedding AS DOUBLE[])
      |  FROM embeddings WHERE vec_id % 5 = 1""".stripMargin

  /** The FROZEN approx-percentile threshold model for
    * `q_quality_votes_approx` — [[graft.ops.Text.qualityVotesMediansApprox]]
    * collected once per (dir) and memoized (the dsirRatioLocal
    * discipline: bounded driver-local trained artifact, loud require
    * inside the builder, parity pinned by QualityVotesSpec). The
    * dynamic oracle embeds these same four doubles, so query and
    * oracle cannot drift within a Verify run even though
    * approx_percentile's merge order is not canonical across runs.
    */
  private[graft] def qvApproxLocal(s: SparkSession, dir: String): (Double, Double, Double, Double) =
    memo(("qv_approx", dir)) {
      graft.ops.Text.qualityVotesMediansApprox(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        stopwords = Seq("the", "a"))
    }

  /** The planted standing-corpus HTML frame shared by
    * `q_web_corpus_incremental` (in-plan indexes), `q_web_corpus_store`
    * (prepare-materialized indexes — via [[wcIndexes]]), and the
    * WebCorpusStream capstone spec: every documents row wrapped as a
    * full page with planted noindex (%5), canonical hints (%3, target
    * doc_id/9 so canonical groups have width 3), broken script (%13),
    * link farms (%7==3), and entity-bearing chrome. ONE definition so
    * the three consumers and both oracles cannot drift.
    */
  private[graft] def wcStandingPages(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).select(col("doc_id"), concat(
      lit("<html><head><title>doc "), col("doc_id").cast("string"),
      lit("</title>"),
      when(col("doc_id") % 5 === 0,
        lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit("<link rel=\"canonical\" href=\"https://example.com/c/"),
          expr("doc_id div 9").cast("string"), lit("\">")))
        .otherwise(lit("")),
      lit("<style>p { margin: 0; }</style></head><body>"),
      when(col("doc_id") % 13 === 0, lit("<script>var broken = trackers["))
        .otherwise(lit("<script>track();</script>")),
      when(col("doc_id") % 7 === 3, lit(htmlLinkFarm)).otherwise(lit("")),
      lit("<p>R&amp;D says x &lt; y</p><p>"), col("text"),
      lit("</p></body></html>")).as("html"))
  }

  /** The planted incremental BATCH the two incremental web-corpus
    * queries probe with: impersonating copies of standing pages
    * (doc_id % 4 == copyMod, +5M — full-page impersonation including
    * the title, so the text stage sees a true duplicate),
    * fresh pages (% 4 == freshMod, +6M), and an in-batch same-text
    * pair (+7M). The mod classes differ between the two queries so
    * their outputs are distinct while sharing one oracle template.
    */
  private[graft] def wcBatchPages(s: SparkSession, dir: String,
                                  copyMod: Int, freshMod: Int): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val copies = docs.filter(col("doc_id") % 4 === copyMod).select(
      (col("doc_id") + 5000000L).as("doc_id"),
      concat(lit("<html><head><title>doc "), col("doc_id").cast("string"),
        lit("</title>"),
        when(col("doc_id") % 3 === 0,
          concat(lit("<link rel=\"canonical\" href=\"https://example.com/c/"),
            expr("doc_id div 9").cast("string"), lit("\">")))
          .otherwise(lit("")),
        lit("</head><body><script>track();</script>"),
        lit("<p>R&amp;D says x &lt; y</p><p>"), col("text"),
        lit("</p></body></html>")).as("html"))
    val fresh = docs.filter(col("doc_id") % 4 === freshMod).select(
      (col("doc_id") + 6000000L).as("doc_id"),
      concat(lit("<html><head><title>new "), col("doc_id").cast("string"),
        lit("</title></head><body><script>track();</script><p>"),
        col("text"), lit(" fresh9</p></body></html>")).as("html"))
    val pairHtml = "<html><head><title>pair</title></head><body>" +
      "<script>track();</script><p>k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12" +
      "</p></body></html>"
    val pair = Seq((7000000L, pairHtml), (7000001L, pairHtml))
      .toDF("doc_id", "html")
    copies.unionByName(fresh).unionByName(pair)
  }

  /** The MATERIALIZED standing-index store for `q_web_corpus_store` —
    * [[graft.ops.Corpus.webCorpusIndexes]] over the planted standing
    * corpus written once per corpus version at prepare time (the
    * production contract the webCorpusIncrement scaladoc names: a
    * nightly ingest probes maintained index tables, it does not
    * re-derive them from the standing corpus per run). Returns the two
    * skinny frames read back from parquet.
    */
  private[graft] val WcCanonIdx = Store("wc_canon_idx", Parquet)(wcCanonBuild)
  private[graft] val WcTextIdx = Store("wc_text_idx", Parquet)(wcTextBuild)
  private[graft] def wcIndexes(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (readStore(WcCanonIdx, s, dir), readStore(WcTextIdx, s, dir))
  // Each build calls webCorpusIndexes for its half; the two calls plan
  // the same gate frame, so while its CacheScope cache lives, the
  // second build reads the first one's cached gate.
  private def wcCanonBuild(s: SparkSession, dir: String): DataFrame =
    graft.ops.Corpus.webCorpusIndexes(wcStandingPages(s, dir))._1
  private def wcTextBuild(s: SparkSession, dir: String): DataFrame =
    graft.ops.Corpus.webCorpusIndexes(wcStandingPages(s, dir))._2

  /** The standing-index store of [[wcIndexes]] written as BUCKETED
    * tables on their key (8 buckets, sorted — the `q_bucket_join`
    * DDL), for `q_web_corpus_store_bucketed` /
    * `q_web_corpus_index_delta_bucketed`: the corpus-version layout a
    * deployment switches to once an index outgrows the broadcast
    * budget, bought once at prepare so every nightly probe reads the
    * standing side exchange-free forever.
    */
  private[graft] val WcCanonIdxB = Store("wc_canon_idx_b", BucketedOn("canonical"))(wcCanonBuild)
  private[graft] val WcTextIdxB = Store("wc_text_idx_b", BucketedOn("th"))(wcTextBuild)
  private[graft] def wcIndexesBucketed(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (readStore(WcCanonIdxB, s, dir), readStore(WcTextIdxB, s, dir))

  /** Every store, in the order [[graft.SparkEntry.prepare]] builds them
    * (a build reads the stores it derives from through their accessors,
    * so the order only sets when each is paid).
    */
  private[graft] lazy val stores: Seq[Store] = Seq(
    EventsByDate, Ga4, Chain500, DdfPerturbed, DdfChain500, CcKeepers500,
    LmCollapse, JpegMedia, PngMedia, SimhashFpsExactDup, SimhashFps1k,
    QualityLr, PqModel, BpeMerges, SpmModel, TokPostings,
    BucketOrders, BucketCustomer, WcCanonIdx, WcTextIdx, WcCanonIdxB, WcTextIdxB,
    MediaBandIdx, IvfAssigned8, HnswSealedSeg, DirtyJsonl, DirtyXml, DirtyCsv)
}
