package graft

import org.scalatest.funsuite.AnyFunSuite

/** The qtmp fixture-integrity guard: materialized stores are keyed on
  * a FINGERPRINT of the producing bytecode, so a change to
  * fixture-producing logic re-keys the store and forces a rebuild — a
  * stale artifact can never be re-served to the correctness gate behind
  * an unchanged hand-bumped version string. Each checkout owns its own
  * root, and `SparkEntry.prepare` writes every registered store once.
  */
class FixtureIntegritySpec extends AnyFunSuite {

  test("producer enumeration finds the real fixture-producing classes") {
    val entries = EntrySupport.producerClassBytes()
    val names = entries.map(_._1)
    assert(names.exists(_.startsWith("graft/ops/Dedup")), "Dedup (ddf/cc producers)")
    assert(names.exists(_.startsWith("graft/ops/Text")), "Text (lm_collapse producer)")
    assert(names.exists(_.startsWith("graft/ops/Jpeg")), "Jpeg (media payload producer)")
    assert(names.exists(_.startsWith("graft/etl/Sinks")), "Sinks (sink layer)")
    assert(names.exists(_.startsWith("graft/EntrySupport")),
      "EntrySupport (fixture stores and the write-once protocol)")
    assert(names.exists(_.startsWith("graft/Tables")), "Tables (corpus readers)")
    // query bodies must NOT churn the key — they only compose on fixtures
    assert(!names.exists(_.startsWith("graft/queries/")), "query bodies and oracles excluded")
    assert(entries.size > 20, s"suspiciously few producer classes: ${entries.size}")
    assert(entries.forall(_._2.nonEmpty), "empty class bytes")
  }

  test("fingerprint is deterministic and folded into every qtmp path") {
    val fp = EntrySupport.producerFingerprint
    assert(fp.matches("[0-9a-f]{12}"), s"not a 12-hex digest: $fp")
    assert(fp === EntrySupport.fingerprintOf(EntrySupport.producerClassBytes()))
    val dir = EntrySupport.tmpDir("probe", "/root/testdata/sf0.001")
    assert(dir.contains(fp), s"qtmp path must carry the fingerprint: $dir")
    assert(dir.contains(EntrySupport.qtmpVersion), "layout escape hatch stays in the key")
  }

  test("any producer bytecode change re-keys the store") {
    val base = Seq("graft/ops/A.class" -> Array[Byte](1, 2, 3),
                   "graft/ops/B.class" -> Array[Byte](4, 5))
    val fp0 = EntrySupport.fingerprintOf(base)
    // same entries, any order -> same key (directory walk order is not load-bearing)
    assert(fp0 === EntrySupport.fingerprintOf(base.reverse))
    // one flipped byte (a changed constant, a new expression) -> new key
    val flipped = Seq("graft/ops/A.class" -> Array[Byte](1, 2, 4),
                      "graft/ops/B.class" -> Array[Byte](4, 5))
    assert(fp0 !== EntrySupport.fingerprintOf(flipped))
    // a NEW producer class (logic moved to a helper file) -> new key
    assert(fp0 !== EntrySupport.fingerprintOf(
      base :+ ("graft/ops/C.class" -> Array[Byte](9))))
    // renaming without changing bytes -> new key (name feeds the digest)
    assert(fp0 !== EntrySupport.fingerprintOf(Seq(
      "graft/ops/A2.class" -> Array[Byte](1, 2, 3),
      "graft/ops/B.class" -> Array[Byte](4, 5))))
  }

  test("a producer change orphans the old artifact instead of re-serving it") {
    // Simulate a build with changed producer logic: the write-once
    // store under the OLD key holds a poisoned artifact; the NEW key's
    // path must come up empty and rebuild from current code.
    val spark = SparkTestSession.spark
    val root = java.nio.file.Files.createTempDirectory("qtmp_guard").toFile
    def dirFor(fp: String) = new java.io.File(root, s"v2-$fp/fix_sf").getPath
    val fpOld = EntrySupport.fingerprintOf(Seq("graft/ops/A.class" -> Array[Byte](1)))
    val fpNew = EntrySupport.fingerprintOf(Seq("graft/ops/A.class" -> Array[Byte](2)))
    assert(fpOld !== fpNew)
    import spark.implicits._
    EntrySupport.writeOnce(spark, dirFor(fpOld), EntrySupport.Parquet)(
      Seq(("stale", 1L)).toDF("tag", "v"))
    assert(new java.io.File(dirFor(fpOld), "_SUCCESS").exists())
    // the re-keyed path ignores the stale artifact and builds fresh
    assert(!new java.io.File(dirFor(fpNew), "_SUCCESS").exists())
    EntrySupport.writeOnce(spark, dirFor(fpNew), EntrySupport.Parquet)(
      Seq(("fresh", 2L)).toDF("tag", "v"))
    val got = spark.read.parquet(dirFor(fpNew)).as[(String, Long)].collect()
    assert(got.toSeq === Seq(("fresh", 2L)))
    // hygiene pass drops the orphaned key entirely
    EntrySupport.cleanStaleQtmp(root, s"v2-$fpNew")
    assert(!new java.io.File(root, s"v2-$fpOld").exists(), "orphan must be deleted")
    assert(new java.io.File(dirFor(fpNew), "_SUCCESS").exists(), "current key kept")
    scala.reflect.io.Directory(root).deleteRecursively()
  }

  test("a sweep of one checkout's qtmp root leaves a sibling root's keys alone") {
    assert(EntrySupport.qtmpRoot === new java.io.File("target/qtmp").getAbsoluteFile)
    assert(EntrySupport.tmpDir("probe", "sf").startsWith(EntrySupport.qtmpRoot.getPath + "/"),
      "stores live under this checkout's root")
    val base = java.nio.file.Files.createTempDirectory("qtmp_roots").toFile
    val (mine, sibling) = (new java.io.File(base, "a/target/qtmp"), new java.io.File(base, "b/target/qtmp"))
    for (root <- Seq(mine, sibling); key <- Seq("v2-old", "v2-new"))
      assert(new java.io.File(root, s"$key/fix_sf").mkdirs())
    EntrySupport.cleanStaleQtmp(mine, "v2-new")
    assert(!new java.io.File(mine, "v2-old").exists(), "own stale key swept")
    assert(new java.io.File(mine, "v2-new/fix_sf").isDirectory, "own current key kept")
    for (key <- Seq("v2-old", "v2-new"))
      assert(new java.io.File(sibling, s"$key/fix_sf").isDirectory, s"sibling's $key untouched")
    scala.reflect.io.Directory(base).deleteRecursively()
  }

  test("prepare writes every registered store once; a second prepare rewrites nothing") {
    val spark = SparkTestSession.spark
    val dir = "/root/testdata/sf0.001"
    def markers = EntrySupport.stores.map { st =>
      st.tag -> new java.io.File(EntrySupport.tmpDir(st.tag, dir), "_SUCCESS")
    }
    SparkEntry.prepare(spark, dir)
    val missing = markers.collect { case (t, m) if !m.isFile => t }
    assert(missing.isEmpty, s"stores without a marker after prepare: $missing")
    assert(Seq("dirty_xml", "dirty_csv").forall(t => markers.exists(_._1 == t)))
    // Bench's fixture_readers flag: a store's path is a store, a
    // round-trip sink query's own output is not
    assert(EntrySupport.stores.forall(st => EntrySupport.isStore(EntrySupport.tmpDir(st.tag, dir), dir)))
    assert(!EntrySupport.isStore(EntrySupport.tmpDir("csv", dir), dir))
    val before = markers.map { case (t, m) => t -> m.lastModified() }
    SparkEntry.prepare(spark, dir)
    assert(markers.map { case (t, m) => t -> m.lastModified() } === before)
  }

  test("the dedup-frame stores are a pure function of their key: AQE on and AQE off " +
      "at 4 reducers build the same rows, array order included") {
    val spark = SparkTestSession.spark
    val dir = "/root/testdata/sf0.001"
    val stores = Seq(EntrySupport.DdfPerturbed, EntrySupport.DdfChain500)
    def build(aqe: Boolean, reducers: Int): Seq[Seq[Seq[Any]]] = {
      val settings = Seq("spark.sql.adaptive.enabled" -> aqe.toString,
        "spark.sql.shuffle.partitions" -> reducers.toString)
      val prior = settings.map { case (k, _) => k -> spark.conf.get(k) }
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try stores.map(_.build(spark, dir).orderBy("doc_id").collect().map(_.toSeq).toSeq)
      finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    val verifySession = build(aqe = true, spark.sparkContext.defaultParallelism)
    val benchSession = build(aqe = false, 4)
    for ((st, (a, b)) <- stores.zip(verifySession.zip(benchSession))) {
      assert(a.nonEmpty, s"${st.tag} built no rows")
      val (rows, differ) = (a.size, a.zip(b).count { case (x, y) => x != y })
      assert(rows === b.size, s"${st.tag}: row counts differ")
      assert(differ === 0, s"${st.tag}: $differ of $rows rows differ between the two sessions")
    }
  }
}
