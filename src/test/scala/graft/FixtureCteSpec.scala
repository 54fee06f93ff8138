package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[SparkEntry.oracleFixtureCte]] — the bench-transparency
  * annotation mapping each fixture-reading query to the oracle CTE at
  * its fixture boundary (tools/time_oracle.py times that prefix
  * standalone so BENCH's like-for-like ratios are auditable). A stale
  * entry here would silently drop a query from the split, so every
  * entry must name a declared query and a CTE that exists in its
  * oracle SQL.
  */
class FixtureCteSpec extends AnyFunSuite {

  test("every annotated query is declared with an oracle (static or " +
      "dynamic)") {
    SparkEntry.oracleFixtureCte.keys.foreach { q =>
      assert(SparkEntry.queries.contains(q), s"$q not in SparkEntry.queries")
    }
  }

  test("every annotated CTE exists in its oracle's WITH chain") {
    // dynamic oracles (model-pinned SQL) are generated exactly as
    // Verify generates them — the annotation must hold in the SQL
    // time_oracle.py will actually see
    lazy val dynamic = SparkEntry.oracleSqlDynamic(
      SparkTestSession.spark, "/root/testdata/sf0.001")
    SparkEntry.oracleFixtureCte.foreach { case (q, cte) =>
      val sql = SparkEntry.oracleSql.getOrElse(q, dynamic(q))
      assert(("""(?s).*\b""" + cte + """\s+AS\s*\(.*""").r.matches(sql),
        s"$q: CTE '$cte' not found in oracle SQL")
    }
  }

  test("every declared model-store reader is a declared query") {
    SparkEntry.modelStoreReaders.foreach { q =>
      assert(SparkEntry.queries.contains(q), s"$q not in SparkEntry.queries")
    }
  }

  test("every routed-HNSW query is a declared model-store reader") {
    // each loads the pq_model store's coarse quantizer driver-side
    // (pqModel(s, dir)._1), which Bench's plan walk cannot see
    val routed = Set("q_sim_hnsw_routed", "q_sim_hnsw_growing", "q_sim_hnsw_sealed")
    assert(routed.subsetOf(SparkEntry.modelStoreReaders),
      s"missing: ${routed -- SparkEntry.modelStoreReaders}")
  }

  test("the known fixture-reading lexical/LM family is annotated") {
    // the families whose Spark side reads a qtmp store while the
    // oracle recomputes from raw text (media derivation oracles are
    // deliberately absent — they are nominal by construction)
    val expected = Set(
      "q_dedup_minhash", "q_dedup_minhash_est", "q_minhash_error",
      "q_dedup_ngram", "q_dedup_contain", "q_ngram_novelty",
      "q_dedup_pipeline", "q_dedup_simhash", "q_dedup_simhash_band",
      "q_dedup_cc", "q_dup_cluster_stats",
      "q_bigram_lm", "q_lm_interp", "q_kn_bigram",
      "q_tfidf", "q_sparse_cosine", "q_bm25", "q_rrf",
      "q_sim_ivf_incremental")
    assert(SparkEntry.oracleFixtureCte.keySet == expected)
  }
}
