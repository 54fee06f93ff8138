package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Text

/** The trained quality gate (Text.qualityScoreFrom — the GPT-3/CCNet
  * classifier-filter shape: LR over length-normalized hashed-BoW,
  * driver-trained on a bounded sample, scored map-side). The oracle
  * gate proves score arithmetic under PINNED weights; these specs
  * grade what the oracle can't — that training actually LEARNS:
  * separation on a planted task, precision/recall on docs the model
  * never saw, and the bit-reproducibility the pinned-weights oracle
  * depends on.
  */
class QualityClassifierSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("planted separable toy task: perfect split, spam weight negative") {
    val docs = (0L until 40L).map { i =>
      val base = s"alpha beta gamma delta tok${i % 7} tok${i % 11}"
      if (i % 2 == 0) (i, base, 1) else (i, s"$base spamtok spamtok", 0)
    }.toDF("doc_id", "text", "label")
    val (w, b) = Text.trainQualityLrLocal(docs, dim = 64)
    val scored = Text.qualityScoreFrom(docs, 64, w, b).collect()
    assert(scored.forall(r => r.getAs[Int]("pred") == r.getAs[Int]("label")))
    // the spam token's bucket must carry negative weight — the model
    // learned the feature, not a length artifact (both classes here
    // differ by 2 tokens of ~8, so length alone can't split them)
    val md5 = org.apache.commons.codec.digest.DigestUtils.md5Hex("spamtok")
    val spamBucket = (java.lang.Long.parseLong(md5.substring(0, 8), 16) % 64).toInt
    val sign = (java.lang.Long.parseLong(md5.substring(8, 9), 16) % 2) * 2 - 1
    val contrib = w(spamBucket) * sign // the hashing trick signs the count
    assert(contrib < 0, s"spam contribution $contrib not negative")
  }

  test("heldout precision/recall on the real corpus task >= 0.95") {
    val corpus = Text.qualityCorpus(Tables.documents(spark, sf))
    // train on even clean-ids only (junk twins of even ids are also
    // even: +100000 preserves parity) — the odd half is never seen
    val (w, b) = Text.trainQualityLrLocal(
      corpus.filter(col("doc_id") % 2 === 0), dim = 256)
    val held = Text.qualityScoreFrom(
      corpus.filter(col("doc_id") % 2 === 1), 256, w, b)
    val m = held.groupBy(col("label"), col("pred")).count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val tp = m.getOrElse((1, 1), 0L).toDouble
    val fp = m.getOrElse((0, 1), 0L).toDouble
    val fn = m.getOrElse((1, 0), 0L).toDouble
    assert(tp > 0)
    val precision = tp / (tp + fp)
    val recall = tp / (tp + fn)
    withClue(s"precision=$precision recall=$recall confusion=$m ") {
      assert(precision >= 0.95 && recall >= 0.95)
    }
  }

  test("training is bit-reproducible (the pinned-weights oracle contract)") {
    val corpus = Text.qualityCorpus(Tables.documents(spark, sf))
    val (w1, b1) = Text.trainQualityLrLocal(corpus, dim = 256)
    val (w2, b2) = Text.trainQualityLrLocal(corpus, dim = 256)
    assert(b1 == b2 && w1.sameElements(w2))
  }

  test("empty corpus: zero model, no crash, sigma(0)=0.5 scores") {
    val empty = Seq.empty[(Long, String, Int)].toDF("doc_id", "text", "label")
    val (w, b) = Text.trainQualityLrLocal(empty, dim = 64)
    assert(b == 0.0 && w.forall(_ == 0.0))
    assert(Text.qualityScoreFrom(empty, 64, w, b).count() === 0)
  }
}
