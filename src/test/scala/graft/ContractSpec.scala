package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's internal consistency: every declared query
  * has an oracle, names are distinct and well-formed, and the flagship
  * entry produces rows (the t1 gate). The derived maps silently keep
  * the last of two records with one name, so a copy-paste slip would
  * otherwise drop a query without any compile error.
  */
class ContractSpec extends AnyFunSuite {

  test("every oracle names a declared query; only the named exceptions lack one") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // The trained-centroid queries have DYNAMIC oracles (generated at
    // Verify time from the actual model via oracleSqlDynamic — pinned
    // centroid literals), so they are absent from the static map only.
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ===
      Set("q_sim_ann_kmeans", "q_dedup_semantic", "q_sim_ann_pq",
        "q_sim_ann_pq_refine", "q_cluster_purity", "q_quality_classifier",
        "q_sim_hnsw_routed", "q_bpe_encode", "q_bpe_fertility",
        "q_spm_encode", "q_spm_fertility", "q_spm_sample",
        "q_spm_byte_fallback", "q_quality_votes_approx",
        "q_sim_ivf_incremental", "q_sim_hnsw_growing",
        "q_dedup_semantic_incremental", "q_sim_hnsw_sealed"))
  }

  test("dynamic oracles cover exactly the static-map gaps") {
    val spark = SparkTestSession.spark
    val dyn = SparkEntry.oracleSqlDynamic(spark, "/root/testdata/sf0.001").keySet
    assert(dyn === SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
  }

  test("registry names are distinct") {
    // a Seq keeps a duplicate record that the derived Map would drop
    val names = SparkEntry.declared.map(_.name)
    assert(names.diff(names.distinct).isEmpty, "duplicate query names")
    assert(names.size === SparkEntry.queries.size)
  }

  test("query names are well-formed") {
    assert(SparkEntry.queries.keySet.forall(_.matches("q_[a-z0-9_]+")))
  }

  test("declared inventory has the expected size") {
    // round 10: 193 + q_media_png + q_quality_classifier + q_sim_hnsw
    // + q_sim_hnsw_routed + q_sink_xml + q_xml_intake + q_xpath_extract
    // + q_csv_intake + q_bpe_encode = 202
    // round 11: + q_sketch_hll + q_sketch_cms + q_bloom_dedup
    // + q_sketch_quantile + q_sketch_overlap = 207
    // round 12: + q_sketch_hll_raw + q_sketch_cms_raw + q_bucket_join
    // + q_dp_counts + q_minhash_union + q_random_projection
    // + q_dp_sum + q_sketch_hdr_merge + q_sim_rp_ann = 216
    // round 13: + q_sketch_theta + q_dsir_weights + q_dsir_select
    // + q_bpe_fertility + q_ppl_band = 221
    // round 14: + q_sketch_theta_raw + q_html_extract + q_spm_encode
    // + q_spm_fertility + q_dedup_substr_spans50 + q_dedup_substr_trim50
    // + q_spm_sample + q_html_meta + q_crawl_pipeline = 230
    // round 15: + q_web_corpus + q_spm_byte_fallback + q_lang_segments
    // + q_quality_votes + q_web_corpus_incremental = 235
    // round 16: + q_web_corpus_store + q_quality_votes_approx
    // + q_sim_ivf_incremental + q_sim_hnsw_growing
    // + q_web_corpus_index_delta + q_dedup_semantic_incremental = 241
    // round 17: + q_web_corpus_store_bucketed
    // + q_web_corpus_index_delta_bucketed + q_nightly_cycle
    // + q_media_dedup_incremental + q_sim_hnsw_sealed
    // + q_corpus_index_retention + q_nightly_cycle_bucketed = 248
    assert(SparkEntry.queries.size === 248)
  }

  test("entry (t1 smoke) returns rows on sf0.001") {
    assert(SparkEntry.entry(SparkTestSession.spark).count() > 0)
  }
}
