package graft

import org.scalatest.funsuite.AnyFunSuite

class CompactSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("buildCorpus is deterministic across independent runs") {
    val docs = (0L until 300L)
      .map(i => (i, (1 to 12).map(j => s"w${(i * 7 + j) % 50}").mkString(" "), if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    def run() = graft.ops.Corpus
      .buildCorpus(docs, "lang", Map("en" -> 1.0, "de" -> 0.5), 64, 256)
      .collect().map(_.toSeq).toSet
    assert(run() === run())
    assert(run().nonEmpty)
  }
}
