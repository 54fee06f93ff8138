package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * declared.json, the names this run declared (the compare's
  * denominator, so a query whose oracle SQL could not be built counts
  * as a failure instead of dropping out). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Tables.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Iteration aid (mirrors Bench): SPARK_GRAFT_ONLY="q_a,q_b" dumps
    // just those queries + their oracle SQL. The driver runs the full
    // set (env unset).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
    selected.foreach { case (name, fn) =>
      spark.catalog.clearCache() // per-query cache hygiene
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$outDir/declared.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    // model-dependent oracles (pinned-literal SQL generated from the
    // engine's own deterministic model build); a failure here must not
    // zero the static oracles, and the compare reports the missing
    // ones as NO-ORACLE against declared.json
    val dynamic =
      try SparkEntry.oracleSqlDynamic(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracle failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    val all = SparkEntry.oracleSql ++ dynamic
    val json = only.fold(all)(ks => all.filter(kv => ks(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // fixture-boundary annotations for tools/time_oracle.py's split
    // timings (see the registry's fixtureCte)
    val cteJson = SparkEntry.oracleFixtureCte.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_fixture_cte.json"), cteJson)
    spark.stop()
  }
}
