package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc profiling of the minhash pipeline stages. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    Tables.builderConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()

    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = d.unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" zz9 zz9")).as("text")))
      .repartition(32)

    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    time("corpus count")(corpus.count())
    (1 to 2).foreach { i =>
      time(s"ngram run $i")(println("  pairs=" +
        graft.ops.Dedup.ngramJaccardPairs(corpus, 0.7).count()))
    }
    time("docShingles")(println("  shingles=" + graft.ops.Dedup.docShingles(corpus).count()))
    time("docShingles+md5")(println("  hashed=" + graft.ops.Dedup.docShingles(corpus)
      .withColumn("h", expr("cast(conv(substring(md5(cast(shingle as binary)), 1, 8), 16, 10) as bigint) % 2147483647"))
      .agg(sum("h")).collect().head))
    val sigs = graft.ops.Dedup.minhashSignatures(corpus, 16)
    time("signatures")(sigs.count())
    val cands = graft.ops.Dedup.minhashLshCandidates(corpus, 16, 4)
    time("lsh candidates")(println("  candidates=" + cands.count()))
    // bucket size distribution
    val rows = 4
    val b = graft.ops.Dedup.minhashSignatures(corpus, 16)
      .withColumn("band", explode(expr(
        """transform(sequence(0, 3),
          |  b -> struct(b as band_id,
          |              array_join(transform(slice(minhashes, b * 4 + 1, 4),
          |                                   x -> cast(x as string)), ',') as sig))""".stripMargin)))
      .select(col("band.band_id"), col("band.sig"))
    time("bucket histogram") {
      b.groupBy("band_id", "sig").count()
        .groupBy().agg(max("count"), avg("count"), count(lit(1)))
        .show(false)
    }

    // top-k per group: full-sort window vs bounded-state aggregation.
    // 4M rows, 40k groups of 100, k=5 — the window shuffles and sorts
    // all 4M; the agg forms shuffle |groups|·k after map-side partials.
    val tk = spark.range(4000000).select(
      (col("id") % 40000).cast("string").as("g"),
      (hash(col("id")) % 100000).cast("double").as("score"),
      col("id").as("rid"))
      .cache()
    tk.count()
    time("topk window-rank (4M, 40k groups)") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("rid").asc)
      println("  rows=" + tk.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5).count())
    }
    time("topk agg collect+slice (4M)") {
      println("  rows=" + graft.ops.TopK.topKPerGroup(tk, "g", "score", "rid", 5).count())
    }
    time("topk typed bounded-state agg (4M)") {
      println("  rows=" + graft.ops.TopK.topKPerGroupTyped(tk, "g", "score", "rid", 5).count())
    }
    tk.unpersist()
    // same contest on BIG groups (4k groups of 1000) — the shape where
    // per-group sorting hurts and bounded state shines
    val tkBig = spark.range(4000000).select(
      (col("id") % 4000).cast("string").as("g"),
      (hash(col("id")) % 100000).cast("double").as("score"),
      col("id").as("rid"))
      .cache()
    tkBig.count()
    time("topk window-rank (4M, 4k groups of 1k)") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("rid").asc)
      println("  rows=" + tkBig.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5).count())
    }
    time("topk typed bounded-state agg (4M, 4k groups)") {
      println("  rows=" + graft.ops.TopK.topKPerGroupTyped(tkBig, "g", "score", "rid", 5).count())
    }
    tkBig.unpersist()
    spark.stop()
  }
}
