package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{EntrySupport, Tables}
import graft.ops.{Dedup, Hnsw, Sim}
import graft.Tables._
import graft.EntrySupport._

/** Vector similarity: exact top-k, LSH/RP/SQ, IVF/PQ, HNSW, semantic
  * dedup and the embedding-side training ops. */
private[graft] object SimQueries {

  /** The seeded ±1 JL matrix (`s`, 16 x 64 from md5 bits) and every vector
    * projected through it (`p`), scaled by 1/sqrt(16). */
  private val randomProjectionCtes: String =
    """s AS (
      |  SELECT i.i, j.j,
      |         CASE WHEN ('0x' || substr(md5('rp|' || i.i || '|' || j.j), 1, 1))::BIGINT % 2 = 0
      |              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS sg
      |  FROM (SELECT unnest(generate_series(0, 15)) AS i) i,
      |       (SELECT unnest(generate_series(0, 63)) AS j) j),
      |e AS (
      |  SELECT vec_id, j.j, CAST(embedding[j.j + 1] AS DOUBLE) AS x
      |  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS j) j),
      |p AS (
      |  SELECT e.vec_id, s.i, sum(e.x * s.sg) / CAST(4 AS DOUBLE) AS pv
      |  FROM e JOIN s ON e.j = s.j
      |  GROUP BY 1, 2)""".stripMargin

  /** Exact cosine top-5 of the first 10 vectors by brute force. */
  private val exactTop5Sql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |pairs AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cos_r
      |  FROM n q, n c
      |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |ranked AS (
      |  SELECT q_id, c_id, cos_r,
      |         CAST(row_number() OVER (PARTITION BY q_id
      |                                 ORDER BY cos_r DESC, c_id) AS BIGINT) AS rnk
      |  FROM pairs)
      |SELECT q_id, c_id, cos_r, rnk FROM ranked
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q_sim_cosine_topk", (s, dir) => {
      Sim.cosineTopK(Tables.embeddings(s, dir), nQueries = 10, k = 5)
        .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    }, Sql(exactTop5Sql)),

    Query("q_dedup_embed", (s, dir) => {
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), cap = 500, n = 50)
    }, Sql(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 500),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |       round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS cos_r
        |FROM n x JOIN n y ON x.vec_id < y.vec_id
        |ORDER BY cos_r DESC, a, b LIMIT 50""".stripMargin)),

    Query("q_sim_ann", (s, dir) => {
      // first-8-vectors coarse quantizer, served from the memoized
      // query-slice collect (EntrySupport.embQueryLocal) — identical
      // centroids to cosineTopKIvf's internal collect, zero construct
      // jobs on repeat; nProbe=1 is cosineTopKIvf's search config
      Sim.cosineTopKIvfFrom(Tables.embeddings(s, dir),
          embQueryLocal(s, dir, 8), nQueries = 10, k = 5, nProbe = 1)
        .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    }, Sql(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
        |assign AS (
        |  SELECT vec_id, v, nrm, cent_id AS cell FROM (
        |    SELECT n.vec_id, n.v, n.nrm, c.cent_id,
        |           row_number() OVER (
        |             PARTITION BY n.vec_id
        |             ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) DESC,
        |                      c.cent_id) AS rn
        |    FROM n, cent c) t WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM assign
        |      WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, a.vec_id AS c_id,
        |         round(list_dot_product(q.qv, a.v) / (q.qn * a.nrm), 4) AS cos_r
        |  FROM assign a JOIN q ON a.cell = q.cell AND a.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, c_id, cos_r,
        |         CAST(row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY cos_r DESC, c_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT q_id, c_id, cos_r, rnk FROM ranked
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin)),

    Query("q_sim_ann_kmeans", (s, dir) => {
      // model (8 cells trained on every 2nd vector — faiss-style
      // bounded sample) loads from the corpus-versioned store
      // (EntrySupport.pqModel — index training is a build step)
      Sim.cosineTopKIvfFrom(Tables.embeddings(s, dir),
        pqModel(s, dir)._1, nQueries = 10, k = 5, nProbe = 2)
        .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    }, Pinned(m =>
      Sim.ivfSearchOracleSql(m.centroids, nQueries = 10, k = 5, nProbe = 2)),
      modelStore = true),

    Query("q_sim_ann_pq", (s, dir) => {
      // IVF-PQ: trained cells + per-subspace product quantization —
      // the billion-scale ANN configuration (candidates scored against
      // m-byte code reconstructions, not raw vectors). dim 64, m=8 →
      // 8-dim subspaces × 16 codes; same coarse quantizer as
      // q_sim_ann_kmeans.
      locally { val (cents, cbs) = pqModel(s, dir)
        Sim.cosineTopKIvfPqFrom(Tables.embeddings(s, dir), cents, cbs,
          nQueries = 10, k = 5, nProbe = 2) }
        .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    }, Pinned(m =>
      Sim.ivfPqSearchOracleSql(m.centroids, m.codebooks, nQueries = 10,
        k = 5, nProbe = 2)),
      modelStore = true),

    Query("q_sim_ann_pq_refine", (s, dir) => {
      // The production two-stage shape: PQ codes shortlist 20
      // candidates per query, full vectors rescore only the shortlist
      // (faiss IndexRefine). Oracle recomputes BOTH stages.
      locally { val (cents, cbs) = pqModel(s, dir)
        Sim.cosineTopKIvfPqFrom(Tables.embeddings(s, dir), cents, cbs,
          nQueries = 10, k = 5, nProbe = 2, refine = 20) }
        .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    }, Pinned(m =>
      Sim.ivfPqSearchOracleSql(m.centroids, m.codebooks, nQueries = 10,
        k = 5, nProbe = 2, refine = 20)),
      modelStore = true),

    Query("q_dedup_semantic", (s, dir) => {
      // SemDeDup: cluster-bounded embedding near-dup keepers. Same
      // trained quantizer configuration as q_sim_ann_kmeans; the 0.40
      // threshold is tuned to this synthetic table's cosine range
      // (top pairs ~0.5-0.6) so the pair/keeper path is exercised —
      // production text embeddings use ~0.95+ (the paper's range).
      Sim.semanticDedupKeepersFrom(Tables.embeddings(s, dir),
        pqModel(s, dir)._1, minCos = 0.40)
        .orderBy(col("vec_id"))
    }, Pinned(m =>
      Sim.semanticDedupOracleSql(m.centroids, minCos = 0.40)),
      modelStore = true),

    Query("q_sim_lsh", (s, dir) => {
      // hyperplane LSH bucket assignment, oracle-checked end to end:
      // the oracle embeds the same 8×64 Gaussian plane literals (see
      // Sim.gaussianPlanes) and recomputes every sign. sign(dot) is
      // float-noise-safe here: |dot| ~ O(√dim), never within 1e-10 of
      // the boundary on this data.
      Sim.hyperplaneLshBuckets(Tables.embeddings(s, dir), dim = 64, nPlanes = 8)
        .select(col("vec_id"), col("bucket"))
        .orderBy(col("vec_id"))
    }, Sql {
      // generated, not hand-written: the plane matrix must be the
      // SAME doubles the Spark query uses (Scala's toString is the
      // shortest round-trip representation, so DuckDB parses back the
      // identical binary double)
      val planes = graft.ops.Sim.gaussianPlanes(dim = 64, nPlanes = 8)
      val terms = planes.zipWithIndex.map { case (p, i) =>
        val lits = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), $lits) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""SELECT vec_id, CAST($terms AS BIGINT) AS bucket
         |FROM embeddings ORDER BY vec_id""".stripMargin
    }),

    Query("q_embed_proto", (s, dir) => {
      Sim.prototypicality(Tables.embeddings(s, dir))
        .orderBy(col("vec_id"))
    }, Sql(
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (
        |  SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
        |cd AS (SELECT label, i, avg(x) AS cx FROM d GROUP BY label, i),
        |cl AS (SELECT label, list(cx ORDER BY i) AS cv FROM cd GROUP BY label),
        |scored AS (
        |  SELECT e.vec_id, e.label,
        |         round(list_dot_product(e.v, cl.cv)
        |               / (sqrt(list_dot_product(e.v, e.v))
        |                  * sqrt(list_dot_product(cl.cv, cl.cv))), 4) AS cos_r
        |  FROM e JOIN cl USING (label))
        |SELECT vec_id, label, cos_r,
        |       CAST(row_number() OVER (PARTITION BY label
        |              ORDER BY cos_r DESC, vec_id ASC) AS BIGINT) AS proto_rnk
        |FROM scored ORDER BY vec_id""".stripMargin)),

    Query("q_hard_negatives", (s, dir) => {
      Sim.hardNegatives(Tables.embeddings(s, dir), 10, 5)
        .orderBy(col("q_id"), col("rnk"))
    }, Sql(
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn
        |      FROM n WHERE vec_id < 10),
        |sc AS (
        |  SELECT q.q_id, c.vec_id AS c_id, c.label AS c_label,
        |         round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4) AS cos_r
        |  FROM q JOIN n c ON c.label != q.q_label),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |                    ORDER BY cos_r DESC, c_id ASC) AS BIGINT) AS rnk
        |  FROM sc)
        |SELECT q_id, c_id, c_label, cos_r, rnk FROM ranked
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin)),

    Query("q_knn_vote", (s, dir) => {
      Sim.knnLabelVote(Tables.embeddings(s, dir), 10, 5,
          holdoutRows = Some(embHoldoutLocal(s, dir, 10)))
        .orderBy(col("vec_id"))
    }, Sql(
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn
        |      FROM n WHERE vec_id % 10 = 0),
        |c AS (SELECT vec_id AS c_id, label AS c_label, v AS cv, nrm AS cn
        |      FROM n WHERE vec_id % 10 != 0),
        |sc AS (
        |  SELECT q_id, q_label, c_id, c_label,
        |         round(list_dot_product(qv, cv) / (qn * cn), 4) AS cos_r
        |  FROM q, c),
        |top AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |                ORDER BY cos_r DESC, c_id ASC) AS rnk
        |    FROM sc) WHERE rnk <= 5),
        |votes AS (
        |  SELECT q_id, q_label, c_label, count(*) AS votes
        |  FROM top GROUP BY 1, 2, 3),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |              ORDER BY votes DESC, c_label ASC) AS vr
        |  FROM votes)
        |SELECT q_id AS vec_id, q_label AS label, c_label AS pred_label, votes,
        |       CAST(CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS BIGINT)
        |         AS correct
        |FROM best WHERE vr = 1 ORDER BY vec_id""".stripMargin)),

    Query("q_cluster_purity", (s, dir) => {
      // same trained quantizer configuration as q_sim_ann_kmeans /
      // q_dedup_semantic, so the dynamic oracle shares one model build
      Sim.clusterPurityFrom(Tables.embeddings(s, dir), pqModel(s, dir)._1)
        .orderBy(col("cell"))
    }, Pinned(m =>
      Sim.clusterPurityOracleSql(m.centroids)),
      modelStore = true),

    Query("q_sim_sq", (s, dir) => {
      Sim.cosineTopKSq(Tables.embeddings(s, dir),
          nQueries = 10, k = 5, shortlist = 20,
          queryRows = Some(embQueryLocal(s, dir, 10)))
        .orderBy(col("q_id"), col("rnk"))
    }, Sql(
      // SQ8 shortlist in the QUANTIZED domain: both sides become
      // round(x/scale) int8 codes from the same per-vector max-abs
      // scale the Spark index stores; scales cancel out of the cosine,
      // so the shortlist score is the pure integer-code cosine (every
      // dot term |c| <= 127^2, the sum is an exact integer in a double,
      // so the 6dp rank boundary is engine-independent)
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sq AS (
        |  SELECT vec_id, v,
        |         CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
        |              ELSE list_max(list_transform(v, x -> abs(x))) / 127 END AS scale
        |  FROM e),
        |cd AS (
        |  SELECT vec_id, v,
        |         list_transform(v, x -> round(x / scale)) AS codes
        |  FROM sq),
        |n AS (
        |  SELECT vec_id, v, codes,
        |         sqrt(list_dot_product(v, v)) AS nrm,
        |         sqrt(list_dot_product(codes, codes)) AS cn
        |  FROM cd),
        |adc AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         round(list_dot_product(q.codes, c.codes) / (q.cn * c.cn), 6) AS adc_r
        |  FROM n q, n c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |short AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY adc_r DESC, c_id) AS srnk
        |    FROM adc) WHERE srnk <= 20),
        |re AS (
        |  SELECT s.q_id, s.c_id,
        |         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cos_r
        |  FROM short s JOIN n q ON q.vec_id = s.q_id JOIN n c ON c.vec_id = s.c_id)
        |SELECT q_id, c_id, cos_r, rnk FROM (
        |  SELECT q_id, c_id, cos_r,
        |         CAST(row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY cos_r DESC, c_id) AS BIGINT) AS rnk
        |  FROM re) WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin)),

    Query("q_maxsim", (s, dir) => {
      Sim.maxSimTopK(Tables.embeddings(s, dir),
          groupEvery = 4, nQueryDocs = 5, k = 5,
          queryRows = Some(embQueryLocal(s, dir, 20)))
        .orderBy(col("q_doc"), col("rnk"))
    }, Sql(
      """WITH t AS (
        |  SELECT vec_id // 4 AS did, vec_id AS tid,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |n AS (SELECT did, tid, v, sqrt(list_dot_product(v, v)) AS nrm FROM t),
        |pt AS (
        |  SELECT q.did AS q_doc, c.did AS c_doc, q.tid AS q_idx,
        |         max(round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6)) AS best
        |  FROM n q JOIN n c ON q.did < 5 AND c.did >= 5
        |  GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT q_doc, c_doc, round(sum(best), 4) AS maxsim_r
        |  FROM pt GROUP BY 1, 2)
        |SELECT q_doc, c_doc, maxsim_r, rnk FROM (
        |  SELECT q_doc, c_doc, maxsim_r,
        |         CAST(row_number() OVER (PARTITION BY q_doc
        |                                 ORDER BY maxsim_r DESC, c_doc) AS BIGINT) AS rnk
        |  FROM sc)
        |WHERE rnk <= 5 ORDER BY q_doc, rnk""".stripMargin)),

    Query("q_sim_hnsw", (s, dir) => {
      // graph-tier ANN (ops.Hnsw): segment-local HNSW graphs +
      // scatter-gather merge (the Vespa/Milvus/Lucene distribution
      // shape). At the verify scales efSearch=512 ≥ every segment, so
      // the graph walk is saturated and the EXACT brute-force oracle
      // is the recall claim itself (a detached level-0 component or a
      // broken merge fails the hash gate); HnswSpec grades the
      // production configuration (efSearch=64) by recall at sf0.1.
      graft.ops.Hnsw.hnswTopK(Tables.embeddings(s, dir),
          nQueries = 10, k = 5, m = 8, efConstruction = 64, efSearch = 512,
          queryRows = Some(embQueryLocal(s, dir, 10)))
        .orderBy(col("q_id"), col("rnk"))
    }, Sql(
      // the EXACT brute-force top-k (q_sim_cosine_topk's oracle): the
      // HNSW query saturates its segment graphs at verify scale
      // (efSearch ≥ segment size), so matching this oracle IS the
      // proof that graph build + scatter-gather merge lose nothing
      exactTop5Sql)),

    Query("q_sim_hnsw_routed", (s, dir) => {
      // IVF-routed graph tier: the trained coarse quantizer (the same
      // corpus-versioned model q_sim_ann_kmeans serves) routes each
      // query to nProbe cells; per-cell HNSW graphs answer only routed
      // queries. efSearch=4096 ≥ any cell at verify scale saturates
      // the walk, so exhaustive-within-probed-cells ≡ multi-probe IVF
      // exact search and Sim.ivfSearchOracleSql pins it row-for-row
      // (oracleSqlDynamic); HnswSpec grades production ef by recall.
      graft.ops.Hnsw.hnswTopKRouted(Tables.embeddings(s, dir),
          pqModel(s, dir)._1, nQueries = 10, k = 5, nProbe = 2,
          m = 8, efConstruction = 64, efSearch = 4096,
          queryModel = Some(hnswRoutedQueryLocal(s, dir, 10, 2)))
        .orderBy(col("q_id"), col("rnk"))
    }, Pinned(m =>
      Sim.ivfSearchOracleSql(m.centroids, nQueries = 10, k = 5, nProbe = 2)),
      modelStore = true),

    Query("q_dedup_semantic_incremental", (s, dir) => {
      // SemDeDup's nightly form — the dedup twin of
      // q_sim_ivf_incremental over the SAME frozen quantizer and the
      // SAME cell-partitioned standing store: the planted batch
      // (ivfBatch — reversed +1M, exact copies +2M) assigns map-side,
      // scores only its cell's standing + in-batch mates, and each
      // batch vector gets the union keeper rule (exact copies MUST
      // discard onto a standing id). The ORACLE re-runs the full
      // SemDeDup over standing ∪ batch from centroid literals
      // restricted to batch ids — increment ≡ union, cross-engine.
      Sim.semanticDedupIncrement(ivfAssignedStore(s, dir),
          ivfBatch(s, dir), pqModel(s, dir)._1, minCos = 0.40)
        .orderBy(col("vec_id"))
    }, Pinned(m =>
      Sim.semanticDedupOracleSql(m.centroids, minCos = 0.40,
        extraCorpusSql = ivfBatchSql,
        restrictSql = "WHERE s.vec_id >= 1000000")),
      modelStore = true),

    Query("q_sim_hnsw_growing", (s, dir) => {
      // the graph tier's INCREMENTAL shape (its
      // "segment graphs" half): sealed per-cell HNSW graphs answer for
      // the standing corpus unchanged, the planted batch (ivfBatch —
      // the q_sim_ivf_incremental corpus) is brute-force scanned as
      // the GROWING segment within each query's probed cells, and the
      // per-query merge is lossless by construction. Saturated
      // efSearch ≡ multi-probe IVF exact over standing ∪ batch, so the
      // SAME pinned-centroid oracle as q_sim_ivf_incremental applies
      // (identical SQL on purpose — the two operators implement one
      // law through different physical tiers); IvfIncrementSpec pins
      // growing ≡ increment Spark-vs-Spark at this configuration.
      graft.ops.Hnsw.hnswTopKRoutedGrowing(Tables.embeddings(s, dir),
          ivfBatch(s, dir), pqModel(s, dir)._1,
          nQueries = 10, k = 5, nProbe = 2,
          m = 8, efConstruction = 64, efSearch = 4096,
          queryModel = Some(hnswRoutedQueryLocal(s, dir, 10, 2)))
        .orderBy(col("q_id"), col("rnk"))
    }, Pinned(m =>
      Sim.ivfSearchOracleSql(m.centroids, nQueries = 10, k = 5, nProbe = 2,
        extraCorpusSql = ivfBatchSql)),
      modelStore = true),

    Query("q_sim_hnsw_sealed", (s, dir) => {
      // the graph tier's COMPACTION: the growing
      // segment q_sim_hnsw_growing brute-forces has been SEALED — its
      // per-cell graphs built once off the frozen quantizer and
      // serialized to the segment store at prepare
      // (EntrySupport.hnswSealedStore) — and search now walks standing
      // graphs + the loaded sealed graphs, the brute-force path
      // retired (Hnsw.hnswTopKRoutedSealedFrom). Saturated efSearch ≡
      // multi-probe IVF exact over standing ∪ batch, so the SAME
      // pinned-centroid oracle as the growing/increment forms applies
      // (one law, three physical tiers); HnswSealSpec pins
      // seal → persist → load → search ≡ growing Spark-vs-Spark.
      graft.ops.Hnsw.hnswTopKRoutedSealedFrom(Tables.embeddings(s, dir),
          hnswSealedStore(s, dir), pqModel(s, dir)._1,
          nQueries = 10, k = 5, nProbe = 2,
          m = 8, efConstruction = 64, efSearch = 4096,
          queryModel = Some(hnswRoutedQueryLocal(s, dir, 10, 2)))
        .orderBy(col("q_id"), col("rnk"))
    }, Pinned(m =>
      Sim.ivfSearchOracleSql(m.centroids, nQueries = 10, k = 5, nProbe = 2,
        extraCorpusSql = ivfBatchSql)),
      modelStore = true),

    Query("q_random_projection", (s, dir) => {
      // Johnson-Lindenstrauss ±1 projection 64 -> 16: the
      // deterministic md5-parity sign matrix is baked into the plan as
      // literals; output carries sample components + both norms + the
      // distance-preservation ratio
      Sim.randomProjection(Tables.embeddings(s, dir), inDim = 64, outDim = 16)
        .orderBy(col("vec_id"))
    }, Sql(
      // JL random projection: the ±1 sign matrix restated from the same
      // md5 parity, per-vector components and norms re-derived
      s"""WITH $randomProjectionCtes,
        |comp AS (
        |  SELECT vec_id,
        |         round(max(CASE WHEN i = 0 THEN pv END), 4) AS p0_r,
        |         round(max(CASE WHEN i = 1 THEN pv END), 4) AS p1_r,
        |         round(max(CASE WHEN i = 2 THEN pv END), 4) AS p2_r,
        |         round(max(CASE WHEN i = 3 THEN pv END), 4) AS p3_r,
        |         sqrt(sum(pv * pv)) AS pn
        |  FROM p GROUP BY 1),
        |onorm AS (SELECT vec_id, sqrt(sum(x * x)) AS onr FROM e GROUP BY 1)
        |SELECT c.vec_id, p0_r, p1_r, p2_r, p3_r,
        |       round(c.pn, 4) AS pnorm_r, round(o.onr, 4) AS onorm_r,
        |       round(c.pn / o.onr, 4) AS ratio_r
        |FROM comp c JOIN onorm o USING (vec_id)
        |ORDER BY vec_id""".stripMargin)),

    Query("q_sim_rp_ann", (s, dir) => {
      // two-stage ANN through the JL projection: shortlist
      // by 16-d projected cosine (4x smaller resident index), exact
      // 64-d refine from the base table
      Sim.cosineTopKRp(Tables.embeddings(s, dir), nQueries = 10, k = 5,
          shortlist = 40, queryRows = Some(embQueryLocal(s, dir, 10)))
        .orderBy(col("q_id"), col("rnk"))
    }, Sql(
      // two-stage RP ANN: projection + projected-cosine shortlist +
      // exact refine, every stage restated; ranks on ROUNDED scores with
      // id tiebreak (repo convention), so both engines rank identically
      s"""WITH $randomProjectionCtes,
        |pn AS (SELECT vec_id, sqrt(sum(pv * pv)) AS n FROM p GROUP BY 1),
        |onr AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM e GROUP BY 1),
        |pc AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         round(sum(q.pv * c.pv) / (qn.n * cn.n), 4) AS pcos_r
        |  FROM p q
        |  JOIN p c ON q.i = c.i AND c.vec_id <> q.vec_id
        |  JOIN pn qn ON qn.vec_id = q.vec_id
        |  JOIN pn cn ON cn.vec_id = c.vec_id
        |  WHERE q.vec_id < 10
        |  GROUP BY q.vec_id, c.vec_id, qn.n, cn.n),
        |short AS (
        |  SELECT q_id, c_id, pcos_r FROM (
        |    SELECT q_id, c_id, pcos_r,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY pcos_r DESC, c_id) AS srnk
        |    FROM pc)
        |  WHERE srnk <= 40),
        |ref AS (
        |  SELECT sh.q_id, sh.c_id, sh.pcos_r,
        |         round(sum(eq.x * ec.x) / (qn.n * cn.n), 4) AS cos_r
        |  FROM short sh
        |  JOIN e eq ON eq.vec_id = sh.q_id
        |  JOIN e ec ON ec.vec_id = sh.c_id AND ec.j = eq.j
        |  JOIN onr qn ON qn.vec_id = sh.q_id
        |  JOIN onr cn ON cn.vec_id = sh.c_id
        |  GROUP BY sh.q_id, sh.c_id, sh.pcos_r, qn.n, cn.n)
        |SELECT q_id, c_id, pcos_r, cos_r, rnk FROM (
        |  SELECT q_id, c_id, pcos_r, cos_r,
        |         CAST(row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY cos_r DESC, c_id) AS BIGINT) AS rnk
        |  FROM ref)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin)),

    Query("q_sim_ivf_incremental", (s, dir) => {
      // IVF index MAINTENANCE (the ANN twin
      // of q_dedup_incremental): the standing corpus reads PRE-ASSIGNED
      // from the cell-partitioned index store (built once per corpus
      // version at prepare — EntrySupport.ivfAssignedStore), the
      // planted batch (reversed +1M, exact copies +2M) assigns
      // map-side against the SAME frozen coarse quantizer, and the
      // multi-probe search runs over standing ∪ batch with no retrain
      // and no standing re-assignment. The ORACLE recomputes the whole
      // search from the centroid literals over the unioned corpus —
      // a hash match IS the maintenance ≡ rebuild-assignment law
      // cross-engine; IvfIncrementSpec pins it Spark-vs-Spark plus the
      // planted cos 1.0 copy hits.
      Sim.cosineTopKIvfIncrement(ivfAssignedStore(s, dir), ivfBatch(s, dir),
          pqModel(s, dir)._1, nQueries = 10, k = 5, nProbe = 2)
        .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    }, Pinned(m =>
      Sim.ivfSearchOracleSql(m.centroids, nQueries = 10, k = 5, nProbe = 2,
        extraCorpusSql = ivfBatchSql)),
      modelStore = true, fixtureCte = Some("assign"))
  )
}
