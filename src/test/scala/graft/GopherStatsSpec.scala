package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GopherStats

/** Law-pins the native graft_gopher kernel (plans/GopherStats.scala)
  * against the declarative HOF formulation it replaces: identical raw
  * counts on the real corpus AND on adversarial shapes (multi-space
  * runs, unicode, all-digit, single-token, empty, repeated bigrams).
  * The fractions on top are shared SQL, so count equality IS signal
  * equality.
  */
class GopherStatsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def hofCounts(df: org.apache.spark.sql.DataFrame) = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val d = df.withColumn("toks", toks)
      .withColumn("n_words", size(col("toks")).cast("long"))
    val bgLen = greatest(col("n_words").cast("int") - 1, lit(0))
    val bigrams = zip_with(
      slice(col("toks"), lit(1), bgLen),
      slice(col("toks"), lit(2), bgLen),
      (a, b) => concat_ws(" ", a, b))
    d.withColumn("bg", bigrams)
      .select(
        col("id"),
        col("n_words"),
        length(array_join(col("toks"), "")).cast("long").as("n_nonspace"),
        size(col("bg")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bg"))).cast("long").as("n_bigrams_distinct"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", ""))).cast("long").as("n_digits"),
        length(col("text")).cast("long").as("n_chars"))
  }

  private def nativeCounts(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), GopherStats.column(col("text")).as("g"))
      .select(col("id"), col("g.n_words"), col("g.n_nonspace"), col("g.n_bigrams"),
        col("g.n_bigrams_distinct"), col("g.n_digits"), col("g.n_chars"))

  test("kernel == HOF on the sf0.001 documents corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"), col("text"))
    val n = nativeCounts(docs)
    val h = hofCounts(docs)
    assert(n.exceptAll(h).isEmpty && h.exceptAll(n).isEmpty)
    assert(n.count() === docs.count())
  }

  test("kernel == HOF on adversarial shapes") {
    val texts = Seq(
      "",                       // empty
      " ",                      // only spaces
      "one",                    // single token, no bigrams
      "a b",                    // one bigram
      "a  b   c",               // multi-space runs collapse
      "a b a b a b",            // repeated bigrams (dup_frac > 0)
      "12 34 a1b2 99",          // digits inside and as tokens
      "über straße café über straße", // non-ASCII, repeated bigram
      "𝕏 y 𝕏 y",                // surrogate pairs (code-point counting)
      "tab\tand\nnewline stay inside tokens",
      "trailing space ",
      " leading space")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "text")
    val n = nativeCounts(df).orderBy("id").collect()
    val h = hofCounts(df).orderBy("id").collect()
    n.zip(h).foreach { case (a, b) => assert(a === b, s"row ${a.getLong(0)}") }
  }

  test("gopherSignals (native path) matches recomputed fractions") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(200)
    val sig = ops.Corpus.gopherSignals(docs)
    val h = hofCounts(docs.select(col("doc_id").as("id"), col("text")))
      .select(
        col("id").as("doc_id"),
        col("n_words"),
        when(col("n_words") > 0,
          round(col("n_nonspace").cast("double") / col("n_words"), 4))
          .otherwise(0.0).as("mean_wlen"),
        when(col("n_chars") > 0,
          round(col("n_digits").cast("double") / col("n_chars"), 4))
          .otherwise(0.0).as("digit_frac"),
        when(col("n_bigrams") > 0,
          round(lit(1.0) - col("n_bigrams_distinct").cast("double") / col("n_bigrams"), 4))
          .otherwise(0.0).as("dup_bigram_frac"))
    val joined = sig.join(h, "doc_id")
    assert(joined.filter(
      sig("n_words") =!= h("n_words") ||
        abs(sig("mean_wlen") - h("mean_wlen")) > 1e-12 ||
        abs(sig("digit_frac") - h("digit_frac")) > 1e-12 ||
        abs(sig("dup_bigram_frac") - h("dup_bigram_frac")) > 1e-12).isEmpty)
  }
}
