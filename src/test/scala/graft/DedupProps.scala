package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.ops.Dedup

/** Structural laws of the near-dup operators on arbitrary small
  * corpora (token alphabet kept tiny so collisions/overlaps actually
  * occur).
  */
object DedupProps extends Properties("Dedup") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private lazy val spark = SparkTestSession.spark

  private val genDoc: Gen[String] =
    Gen.chooseNum(3, 12).flatMap { n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" "))
    }

  private val genCorpus: Gen[List[(Long, String)]] =
    Gen.chooseNum(2, 8).flatMap { n =>
      Gen.listOfN(n, genDoc).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    }

  property("jaccard is within [0,1] and exact dups score 1.0") =
    Prop.forAll(genCorpus) { docs =>
      import spark.implicits._
      // append an exact copy of doc 0 with a fresh id
      val corpus = (docs :+ (1000L, docs.head._2)).toDF("doc_id", "text")
      val pairs = Dedup.ngramJaccardPairs(corpus, threshold = 0.0).collect()
      val inRange = pairs.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      val dupPair = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 1000L)
      inRange && dupPair.exists(_.getDouble(2) == 1.0)
    }

  property("identical docs are never missed by MinHash LSH") =
    Prop.forAll(genCorpus) { docs =>
      import spark.implicits._
      val corpus = (docs :+ (1000L, docs.head._2)).toDF("doc_id", "text")
      // identical shingle sets ⇒ identical signatures ⇒ same bucket in
      // every band: a J=1 pair cannot be dropped by banding
      Dedup.minhashLshCandidates(corpus)
        .collect().exists(r => r.getLong(0) == 0L && r.getLong(1) == 1000L)
    }

  property("simhash clustering is a partition: keep_id is a member with min id") =
    Prop.forAll(genCorpus) { docs =>
      import spark.implicits._
      val corpus = docs.toDF("doc_id", "text")
      val rows = Dedup.simhashClusters(corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val byFp = rows.groupBy(_._2)
      rows.length == docs.length &&
        byFp.values.forall { cluster =>
          val ids = cluster.map(_._1)
          cluster.forall(_._3 == ids.min)
        }
    }

  property("map-side signature expression equals the batch groupBy signatures") =
    Prop.forAll(genCorpus) { docs =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val corpus = docs.toDF("doc_id", "text")
      val batch = Dedup.minhashSignatures(corpus, 16)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val mapSide = corpus
        .select(col("doc_id"), Dedup.minhashSignatureExpr(col("text"), 16).as("mh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      batch == mapSide
    }
}
