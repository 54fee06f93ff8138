package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{EntrySupport, Tables}
import graft.ops.{Corpus, Dedup, Text}
import graft.Tables._
import graft.EntrySupport._

/** Exact, near-duplicate and sub-document text dedup: n-gram, MinHash,
  * SimHash, connected-component keepers and ExactSubstr. */
private[graft] object DedupQueries {

  /** Distinct 3-gram shingles of a `corpus(doc_id, text)` CTE, hashed to
    * 31 bits (`hx`) exactly as [[graft.ops.Dedup.docDedupFrame]] does;
    * shared by every shingle-level dedup oracle and the CC chain below.
    */
  private val shingleHashCtes: String =
    """tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
      |  FROM corpus),
      |shx AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks) - 2, 1)),
      |    i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))) AS shingle
      |  FROM tok),
      |hx AS (
      |  SELECT doc_id,
      |         ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS h
      |  FROM shx)""".stripMargin

  /** 16 MinHash values per doc over `hx`, folded into 4 bands of 4. */
  private val minhashBandCtes: String =
    """mh AS (
      |  SELECT doc_id, seeds.seed,
      |         min(((37 + 101 * seeds.seed) * h + 13 + 97 * seeds.seed) % 2147483647) AS mh
      |  FROM hx, (SELECT unnest(generate_series(0, 15)) AS seed) seeds
      |  GROUP BY doc_id, seeds.seed),
      |bands AS (
      |  SELECT doc_id, seed // 4 AS band_id,
      |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS sig
      |  FROM mh GROUP BY doc_id, seed // 4)""".stripMargin

  /** The CC keeper oracle's CTE chain (corpus construction → shingle
    * hashes → verified edges → transitive reach), shared verbatim by
    * `q_dedup_cc` and the cluster-size histogram that composes on it.
    */
  private val ccKeeperCtes: String =
    s"""        |base AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM documents WHERE doc_id < 500),
        |corpus AS (
        |  SELECT doc_id, array_to_string(toks, ' ') AS text FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |         array_to_string(toks[1:CAST(ceil(len(toks) * CAST(0.80 AS DOUBLE)) AS INT)], ' ')
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |         array_to_string(toks[1:CAST(ceil(len(toks) * CAST(0.64 AS DOUBLE)) AS INT)], ' ')
        |  FROM base),
        |$shingleHashCtes,
        |$minhashBandCtes,
        |cands AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.band_id = y.band_id AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM hx GROUP BY doc_id),
        |common AS (
        |  SELECT c.a, c.b, count(*) AS cnt FROM cands c
        |  JOIN hx xa ON xa.doc_id = c.a
        |  JOIN hx xb ON xb.doc_id = c.b AND xb.h = xa.h
        |  GROUP BY c.a, c.b),
        |verified AS (
        |  SELECT m.a, m.b FROM common m
        |  JOIN sizes sa ON sa.doc_id = m.a
        |  JOIN sizes sb ON sb.doc_id = m.b
        |  WHERE round(m.cnt / (sa.sz + sb.sz - m.cnt), 4) >= 0.7),
        |edges AS (
        |  SELECT a, b FROM verified UNION ALL SELECT b, a FROM verified),
        |reach AS (
        |  SELECT a AS doc_id, b AS r FROM edges
        |  UNION
        |  SELECT rc.doc_id, e.b FROM reach rc JOIN edges e ON e.a = rc.r)""".stripMargin

  /** The perturbed corpus split into lines and 8-token segments, each keyed
    * by its (doc, line, segment) position `k`. */
  private val lineSegmentCtes: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text || ' zz9 zz9' FROM documents),
      |ln AS (
      |  SELECT doc_id, li,
      |         list_filter(string_split(lines[li], ' '), t -> t != '') AS toks
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM corpus),
      |       unnest(generate_series(1, len(lines))) AS u(li)),
      |seg AS (
      |  SELECT doc_id, li, si,
      |         array_to_string(list_slice(toks, si * 8 + 1, si * 8 + 8), ' ') AS seg
      |  FROM ln, unnest(generate_series(0, (len(toks) - 1) // 8)) AS v(si)
      |  WHERE len(toks) >= 1),
      |keyed AS (
      |  SELECT doc_id, seg,
      |         doc_id * 1000000 + (li - 1) * 1000 + si AS k
      |  FROM seg)""".stripMargin

  /** Docs 0..1999 plus their suffix-perturbed copies at +100000, as
    * [[graft.EntrySupport.perturbedCorpus]] builds them with cap 2000. */
  private val perturbedCorpus2kCte: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
      |  UNION ALL
      |  SELECT doc_id + 100000, text || ' zz9 zz9' FROM documents
      |  WHERE doc_id < 2000)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q_dedup_exact", (s, dir) => {
      Text.exactDedup(Tables.documents(s, dir)).orderBy(col("keep_id"))
    }, Sql(
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // The documents corpus has no natural near-duplicates, so the dedup
    // queries construct them: every doc is unioned with a perturbed
    // (suffix-appended) or exact copy at doc_id + 100000. The
    // construction is pure relational algebra, mirrored in the oracle,
    // so the operators are exercised against known-positive pairs.
    Query("q_dedup_ngram", (s, dir) => {
      // EXACT pairwise Jaccard is the quadratic-cost ground truth — run
      // on a bounded block (doc_id < 2000, like the embedding-pair
      // cap). The unbounded scale path is q_dedup_minhash: LSH gives
      // sub-quadratic candidates, and exact J is then only computed per
      // candidate pair.
      Dedup.ngramJaccardPairsFromFrame(ddfPerturbedCap(s, dir, 2000), threshold = 0.7)
        .orderBy(col("a"), col("b"))
    }, Sql(
      s"""WITH $perturbedCorpus2kCte,
        |$shingleHashCtes,
        |sizes AS (SELECT doc_id, count(*) AS sz FROM hx GROUP BY doc_id),
        |common AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |  FROM hx x JOIN hx y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT c.a, c.b, round(c.c / (sa.sz + sb.sz - c.c), 4) AS jaccard
        |FROM common c
        |JOIN sizes sa ON sa.doc_id = c.a
        |JOIN sizes sb ON sb.doc_id = c.b
        |WHERE round(c.c / (sa.sz + sb.sz - c.c), 4) >= 0.7
        |ORDER BY c.a, c.b""".stripMargin),
      fixtureCte = Some("hx")),

    Query("q_dedup_minhash", (s, dir) => {
      // LSH banding over the materialized at-ingest signature store
      // (EntrySupport.ddfPerturbed) — the pairing stage of a
      // production dedup never re-derives signatures from raw text
      Dedup.minhashLshCandidatesFromFrame(ddfPerturbed(s, dir), numHashes = 16, bands = 4)
        .orderBy(col("a"), col("b"))
    }, Sql(
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' zz9 zz9' FROM documents),
        |$shingleHashCtes,
        |$minhashBandCtes
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |FROM bands x JOIN bands y
        |  ON x.band_id = y.band_id AND x.sig = y.sig AND x.doc_id < y.doc_id
        |ORDER BY a, b""".stripMargin),
      fixtureCte = Some("mh")),

    Query("q_dedup_minhash_est", (s, dir) => {
      Dedup.minhashJaccardEstimatesFromFrame(ddfPerturbedCap(s, dir, 2000))
        .orderBy(col("a"), col("b"))
    }, Sql(
      s"""WITH $perturbedCorpus2kCte,
        |$shingleHashCtes,
        |$minhashBandCtes,
        |cands AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.band_id = y.band_id AND x.sig = y.sig AND x.doc_id < y.doc_id)
        |SELECT c.a, c.b,
        |       round(CAST(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 4)
        |         AS j_est
        |FROM cands c
        |JOIN mh ma ON ma.doc_id = c.a
        |JOIN mh mb ON mb.doc_id = c.b AND mb.seed = ma.seed
        |GROUP BY c.a, c.b
        |ORDER BY c.a, c.b""".stripMargin),
      fixtureCte = Some("mh")),

    Query("q_dedup_pipeline", (s, dir) => {
      Dedup.lshDedupKeepersFromFrame(ddfPerturbedCap(s, dir, 2000), minJaccard = 0.7)
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH $perturbedCorpus2kCte,
        |$shingleHashCtes,
        |$minhashBandCtes,
        |cands AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.band_id = y.band_id AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM hx GROUP BY doc_id),
        |common AS (
        |  SELECT c.a, c.b, count(*) AS cnt FROM cands c
        |  JOIN hx xa ON xa.doc_id = c.a
        |  JOIN hx xb ON xb.doc_id = c.b AND xb.h = xa.h
        |  GROUP BY c.a, c.b),
        |verified AS (
        |  SELECT m.a, m.b FROM common m
        |  JOIN sizes sa ON sa.doc_id = m.a
        |  JOIN sizes sb ON sb.doc_id = m.b
        |  WHERE round(m.cnt / (sa.sz + sb.sz - m.cnt), 4) >= 0.7),
        |neighbors AS (
        |  SELECT a AS doc_id, b AS nb FROM verified
        |  UNION ALL SELECT b, a FROM verified)
        |SELECT c.doc_id, least(c.doc_id, coalesce(min(n.nb), c.doc_id)) AS keep_id
        |FROM (SELECT doc_id FROM corpus) c
        |LEFT JOIN neighbors n ON n.doc_id = c.doc_id
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),
      fixtureCte = Some("mh")),

    Query("q_dedup_simhash", (s, dir) => {
      // hamming-0 clustering over the materialized fingerprint table
      // (EntrySupport.simhashFpsExactDup — the at-ingest store)
      Dedup.simhashClustersFromFps(simhashFpsExactDup(s, dir))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_filter(string_split(text, ' '), t -> t != ''))) AS token
        |  FROM corpus),
        |h AS (
        |  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, bs.b, sum(2 * ((h >> bs.b) & 1) - 1) AS s
        |  FROM h, (SELECT unnest(generate_series(0, 31)) AS b) bs
        |  GROUP BY doc_id, bs.b),
        |fps AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS fp
        |  FROM bits GROUP BY doc_id)
        |SELECT f.doc_id, f.fp, m.keep_id
        |FROM fps f
        |JOIN (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp) m
        |  ON f.fp = m.fp
        |ORDER BY f.doc_id""".stripMargin),
      fixtureCte = Some("fps")),

    Query("q_fingerprint", (s, dir) => {
      Text.fingerprints(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id,
        |  array_to_string(list_sort(list_transform(
        |    list_distinct(list_filter(string_split(text, ' '), t -> t != '')),
        |    t -> md5(t)))[1:4], '-') AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("q_dedup_cc", (s, dir) => {
      // the keeper assignment is a write-once fixture (EntrySupport
      // .ccKeepers — LSH → verify → min-label fixpoint, materialized
      // like any production dedup output); this query declares it
      ccKeepers(s, dir).orderBy(col("doc_id"))
    }, Sql(
      // Transitive keeper: same LSH→verify pipeline as q_dedup_pipeline but
      // over the prefix-truncated CHAIN corpus, then a recursive CTE for
      // reachability — keep_id = min doc_id in the connected component.
      s"""WITH RECURSIVE $ccKeeperCtes
        |SELECT c.doc_id,
        |       least(c.doc_id, coalesce(min(rc.r), c.doc_id)) AS keep_id
        |FROM (SELECT doc_id FROM corpus) c
        |LEFT JOIN reach rc ON rc.doc_id = c.doc_id
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),
      fixtureCte = Some("reach")),

    Query("q_dedup_contain", (s, dir) => {
      // Containment on the CHAIN corpus: every prefix-truncated copy
      // has shingles nested inside its original, so cont≈1 while
      // Jaccard is only the length ratio — exactly the asymmetric
      // case Jaccard-threshold dedup misses.
      Dedup.ngramContainmentPairsFromFrame(ddfChain(s, dir), threshold = 0.9)
        .orderBy(col("a"), col("b"))
    }, Sql(
      """WITH base AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM documents WHERE doc_id < 500),
        |corpus AS (
        |  SELECT doc_id, array_to_string(toks, ' ') AS text FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |         array_to_string(toks[1:CAST(ceil(len(toks) * CAST(0.80 AS DOUBLE)) AS INT)], ' ')
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |         array_to_string(toks[1:CAST(ceil(len(toks) * CAST(0.64 AS DOUBLE)) AS INT)], ' ')
        |  FROM base),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM corpus),
        |shx AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))) AS shingle
        |  FROM tok),
        |hx AS (
        |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS h
        |  FROM shx),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM hx GROUP BY doc_id),
        |common AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |  FROM hx x JOIN hx y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT c.a, c.b,
        |       round(c.c / sa.sz, 4) AS cont_a,
        |       round(c.c / sb.sz, 4) AS cont_b
        |FROM common c
        |JOIN sizes sa ON sa.doc_id = c.a
        |JOIN sizes sb ON sb.doc_id = c.b
        |WHERE round(c.c / sa.sz, 4) >= 0.9 OR round(c.c / sb.sz, 4) >= 0.9
        |ORDER BY c.a, c.b""".stripMargin),
      fixtureCte = Some("hx")),

    Query("q_decontaminate", (s, dir) => {
      // Benchmark decontamination: the eval set is every 97th doc; the
      // training set additionally contains a perturbed near-copy of
      // each eval doc (suffix noise) — exactly the leakage an n-gram
      // overlap check must catch even though the copies aren't exact.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val train = docs
        .unionByName(bench.select(
          (col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" zz9 zz9")).as("text")))
      graft.ops.Corpus.decontaminate(train, bench, minShared = 5)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
        |train AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' zz9 zz9' FROM bench),
        |ttok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM train),
        |tsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))) AS shingle
        |  FROM ttok),
        |th AS (
        |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS h
        |  FROM tsh),
        |btok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM bench),
        |bsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))) AS shingle
        |  FROM btok),
        |bh AS (
        |  SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS h
        |  FROM bsh),
        |shared AS (
        |  SELECT t.doc_id, count(*) AS n_shared
        |  FROM th t JOIN bh USING (h) GROUP BY t.doc_id)
        |SELECT tr.doc_id,
        |       CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
        |       CAST(CASE WHEN coalesce(s.n_shared, 0) >= 5 THEN 1 ELSE 0 END AS BIGINT)
        |         AS contaminated
        |FROM train tr LEFT JOIN shared s USING (doc_id)
        |ORDER BY tr.doc_id""".stripMargin)),

    Query("q_dedup_substring", (s, dir) => {
      Dedup.substringDupScores(Tables.documents(s, dir), n = 8)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
        |  FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        |  WHERE len(toks) >= 8),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        |w AS (SELECT doc_id, cnt,
        |             sum(cnt) OVER (PARTITION BY gram) AS total
        |      FROM c)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_pos,
        |       CAST(sum(CASE WHEN total >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup,
        |       round(sum(CASE WHEN total >= 2 THEN cnt ELSE 0 END)
        |             / CAST(sum(cnt) AS DOUBLE), 4) AS dup_frac
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Query("q_dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // incoming batch: exact copies of every 3rd corpus doc (re-id'd),
      // fresh suffix-modified docs, and an in-batch duplicate of each
      // fresh doc (id+300000) — so all three verdict columns light up
      val copies = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val fresh = docs.filter(col("doc_id") % 3 === 1)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" zz8 zz8")).as("text"))
      val rebatch = fresh.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val batch = copies.unionByName(fresh).unionByName(rebatch)
      Dedup.incrementalNewDocs(docs, batch).orderBy(col("doc_id"))
    }, Sql(
      """WITH corpus AS (SELECT doc_id, text FROM documents),
        |batch AS (
        |  SELECT doc_id + 100000 AS doc_id, text FROM corpus WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text || ' zz8 zz8' FROM corpus
        |  WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 300000 AS doc_id, text || ' zz8 zz8' FROM corpus
        |  WHERE doc_id % 3 = 1),
        |hashed AS (
        |  SELECT doc_id, md5(text) AS h,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM batch),
        |idx AS (SELECT DISTINCT md5(text) AS h FROM corpus)
        |SELECT b.doc_id,
        |       CAST(CASE WHEN i.h IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |         AS dup_of_corpus,
        |       CAST(CASE WHEN b.rn > 1 THEN 1 ELSE 0 END AS BIGINT) AS dup_in_batch,
        |       CAST(CASE WHEN i.h IS NULL AND b.rn = 1 THEN 1 ELSE 0 END AS BIGINT)
        |         AS keep
        |FROM hashed b LEFT JOIN idx i USING (h)
        |ORDER BY b.doc_id""".stripMargin)),

    Query("q_overlap_matrix", (s, dir) => {
      Dedup.sourceOverlapMatrix(Tables.documents(s, dir))
        .orderBy(col("src_a"), col("src_b"))
    }, Sql(
      """WITH tok AS (
        |  SELECT source, list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM documents),
        |shx AS (
        |  SELECT source, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))) AS shingle
        |  FROM tok),
        |ss AS (
        |  SELECT DISTINCT source, hash(shingle) AS h
        |  FROM shx),
        |sz AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
        |inter AS (
        |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_shared
        |  FROM ss x JOIN ss y ON x.h = y.h AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, i.n_shared,
        |       a.n AS n_a, b.n AS n_b,
        |       round(i.n_shared / CAST(a.n + b.n - i.n_shared AS DOUBLE), 6)
        |         AS jaccard_r
        |FROM inter i
        |JOIN sz a ON a.source = i.src_a
        |JOIN sz b ON b.source = i.src_b
        |ORDER BY src_a, src_b""".stripMargin)),

    Query("q_winnow", (s, dir) => {
      Text.winnow(Tables.documents(s, dir), 3, 4)
        .orderBy(col("doc_id"), col("fp_pos"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |         concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]) AS gram,
        |         len(toks) - 2 AS m
        |  FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
        |  WHERE len(toks) >= 3),
        |h AS (
        |  SELECT doc_id, pos, m,
        |         ('0x' || substr(md5(gram), 1, 8))::BIGINT % 2147483647 AS hh
        |  FROM g),
        |sel AS (
        |  SELECT doc_id, pos, m,
        |         min({'h': hh, 'p': pos}) OVER (
        |           PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
        |  FROM h)
        |SELECT DISTINCT doc_id, s.p AS fp_pos, s.h AS fp_h
        |FROM sel WHERE pos <= m - 3
        |ORDER BY doc_id, fp_pos""".stripMargin)),

    Query("q_split_leakage", (s, dir) => {
      Corpus.splitLeakage(exactDupCorpus(s, dir),
          Seq(("train", 0.9), ("val", 0.95), ("test", 1.0)))
        .orderBy(col("a"), col("b"))
    }, Sql(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents),
        |s AS (
        |  SELECT doc_id, md5(text) AS h,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
        |           / 4294967296.0 AS u
        |  FROM corpus),
        |sp AS (
        |  SELECT doc_id, h,
        |         CASE WHEN u < 0.9 THEN 'train'
        |              WHEN u < 0.95 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM s)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |       a.split AS split_a, b.split AS split_b
        |FROM sp a JOIN sp b
        |  ON a.h = b.h AND a.doc_id < b.doc_id AND a.split != b.split
        |ORDER BY a, b""".stripMargin)),

    Query("q_dedup_url", (s, dir) => {
      // three URL variants per page — tracking query, cased host +
      // trailing slash, bare — that canonicalization must collapse
      val page = expr("doc_id div 3")
      val src = concat(lit("src"), pmod(page, lit(20L)).cast("string"))
      val raw = when(col("doc_id") % 3 === 0,
          concat(lit("https://"), src, lit(".example.com/page/"),
            page.cast("string"), lit("?utm_source=feed")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://"), upper(src), lit(".EXAMPLE.com/page/"),
            page.cast("string"), lit("/")))
        .otherwise(
          concat(lit("https://"), src, lit(".example.com/page/"),
            page.cast("string")))
      Text.canonicalUrlDedup(
          Tables.documents(s, dir).select(col("doc_id"), raw.as("url")))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH d AS (SELECT doc_id, doc_id // 3 AS page FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         'src' || CAST(page % 20 AS VARCHAR) || '.example.com/page/'
        |           || CAST(page AS VARCHAR) AS canon
        |  FROM d),
        |g AS (
        |  SELECT canon, min(doc_id) AS keep_id, count(*) AS n_variants
        |  FROM c GROUP BY canon)
        |SELECT c.doc_id, c.canon, g.keep_id,
        |       CAST(g.n_variants AS BIGINT) AS n_variants,
        |       CAST(CASE WHEN c.doc_id = g.keep_id THEN 1 ELSE 0 END AS BIGINT)
        |         AS keep
        |FROM c JOIN g USING (canon) ORDER BY c.doc_id""".stripMargin)),

    Query("q_ngram_novelty", (s, dir) => {
      // the perturbed corpus plants known non-novel docs: each
      // doc_id+100000 copy shares every original shingle, so its
      // novelty collapses while the original keeps scoring high.
      // Reads the materialized at-ingest signature store.
      Dedup.ngramNoveltyFromFrame(ddfPerturbed(s, dir))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' zz9 zz9' FROM documents),
        |$shingleHashCtes,
        |first AS (SELECT h, min(doc_id) AS first_id FROM hx GROUP BY h)
        |SELECT hx.doc_id,
        |       count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN f.first_id = hx.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_novel,
        |       round(sum(CASE WHEN f.first_id = hx.doc_id THEN 1 ELSE 0 END)
        |             / CAST(count(*) AS DOUBLE), 6) AS novelty_r
        |FROM hx JOIN first f USING (h)
        |GROUP BY hx.doc_id ORDER BY hx.doc_id""".stripMargin),
      fixtureCte = Some("hx")),

    Query("q_dup_cluster_stats", (s, dir) => {
      // the post-dedup audit reads the SAME materialized keeper
      // fixture q_dedup_cc declares (EntrySupport.ccKeepers) — the
      // audit never re-runs the LSH → verify → fixpoint chain
      Dedup.clusterSizeHistogram(ccKeepers(s, dir))
        .orderBy(col("cluster_size"))
    }, Sql(
      s"""WITH RECURSIVE $ccKeeperCtes,
        |keep AS (
        |  SELECT c.doc_id,
        |         least(c.doc_id, coalesce(min(rc.r), c.doc_id)) AS keep_id
        |  FROM (SELECT doc_id FROM corpus) c
        |  LEFT JOIN reach rc ON rc.doc_id = c.doc_id
        |  GROUP BY c.doc_id),
        |sz AS (SELECT keep_id, count(*) AS cluster_size FROM keep GROUP BY keep_id)
        |SELECT cluster_size,
        |       CAST(count(*) AS BIGINT) AS n_clusters,
        |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),
      fixtureCte = Some("keep")),

    Query("q_dedup_lines", (s, dir) => {
      // the perturbed corpus plants sub-document duplication: each
      // +100000 copy repeats every full 8-token segment of its
      // original, so copies score high dup_frac while originals keep
      // first-occurrence credit
      Dedup.segmentDedup(perturbedCorpus(s, dir), w = 8)
        .orderBy(col("doc_id"))
    }, Sql(
      // occurrence key doc_id*1e6 + (line-1)*1e3 + chunk matches the
      // Spark side's packed (doc, line, chunk) total order (Spark lines
      // are 0-based posexplode; generate_series here is 1-based)
      s"""WITH $lineSegmentCtes,
        |firsts AS (
        |  SELECT doc_id, k, min(k) OVER (PARTITION BY seg) AS first_k FROM keyed)
        |SELECT doc_id,
        |       count(*) AS n_segs,
        |       CAST(sum(CASE WHEN k <> first_k THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       round(sum(CASE WHEN k <> first_k THEN 1 ELSE 0 END)
        |             / CAST(count(*) AS DOUBLE), 4) AS dup_frac
        |FROM firsts GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Query("q_dedup_lines_trim", (s, dir) => {
      // the rewrite form of q_dedup_lines: copies lose every segment
      // they repeat (most come back near-empty), originals keep their
      // text verbatim minus natural collisions
      Dedup.segmentTrim(perturbedCorpus(s, dir), w = 8)
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH $lineSegmentCtes,
        |firsts AS (
        |  SELECT doc_id, seg, k, min(k) OVER (PARTITION BY seg) AS first_k
        |  FROM keyed),
        |kept AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |         string_agg(seg, ' ' ORDER BY k) AS kept_text
        |  FROM firsts WHERE k = first_k GROUP BY doc_id)
        |SELECT c.doc_id,
        |       coalesce(k.n_kept, 0) AS n_kept,
        |       coalesce(k.kept_text, '') AS kept_text
        |FROM corpus c LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    Query("q_minhash_error", (s, dir) => {
      Dedup.minhashEstimatorAuditFromFrame(ddfPerturbedCap(s, dir, 2000))
        .orderBy(col("n_pairs"))
    }, Sql(
      // estimate side = the q_dedup_minhash_est machinery; exact side =
      // the q_dedup_ngram inverted-index join WITH its df>1000 skew cap
      // (mirrors the operator); collision-only candidates get true J = 0
      s"""WITH $perturbedCorpus2kCte,
        |$shingleHashCtes,
        |$minhashBandCtes,
        |cands AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.band_id = y.band_id AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |est AS (
        |  SELECT c.a, c.b,
        |         round(CAST(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 4)
        |           AS j_est
        |  FROM cands c
        |  JOIN mh ma ON ma.doc_id = c.a
        |  JOIN mh mb ON mb.doc_id = c.b AND mb.seed = ma.seed
        |  GROUP BY c.a, c.b),
        |hot AS (
        |  SELECT h FROM (SELECT h, count(*) AS df FROM hx GROUP BY h)
        |  WHERE df > 1000),
        |rare AS (SELECT * FROM hx WHERE h NOT IN (SELECT h FROM hot)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM hx GROUP BY doc_id),
        |common AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |  FROM rare x JOIN rare y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |exact AS (
        |  SELECT c.a, c.b, round(c.c / (sa.sz + sb.sz - c.c), 4) AS jt
        |  FROM common c
        |  JOIN sizes sa ON sa.doc_id = c.a
        |  JOIN sizes sb ON sb.doc_id = c.b),
        |joined AS (
        |  SELECT e.j_est, coalesce(x.jt, 0) AS jt
        |  FROM est e LEFT JOIN exact x USING (a, b))
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |       round(avg(j_est), 4) AS mean_est,
        |       round(avg(jt), 4) AS mean_true,
        |       round(avg(abs(j_est - jt)), 4) AS mae,
        |       round(max(abs(j_est - jt)), 4) AS max_abs_err
        |FROM joined""".stripMargin),
      fixtureCte = Some("mh")),

    Query("q_dedup_substr_spans", (s, dir) => {
      // the FULL Lee et al. 2022 ExactSubstr form (vs
      // q_dedup_substring's per-position score): maximal duplicated
      // spans from merged runs of duplicated 8-grams. The perturbed
      // corpus plants whole-doc duplicated spans (each +100000 copy
      // repeats its original verbatim before the suffix), so both
      // full-coverage and partial-overlap cases exist.
      Dedup.exactSubstrSpans(perturbedCorpus(s, dir, cap = 2000), L = 8)
        .orderBy(col("doc_id"))
    }, Sql(
      // full ExactSubstr: duplicated-8-gram runs merged into maximal
      // covered-token intervals; pk packing mirrors the engine
      // (doc_id·2^20 + i)
      substrSpansOracleSql(8))),

    Query("q_dedup_substr_trim", (s, dir) => {
      // the actionable rewrite: duplicated spans cut everywhere except
      // their corpus-first occurrence — originals keep their text,
      // copies lose the repeated region and keep the fresh suffix
      Dedup.exactSubstrTrim(perturbedCorpus(s, dir, cap = 2000), L = 8)
        .orderBy(col("doc_id"))
    }, Sql(
      // the trim twin: non-first occurrences of duplicated spans cut,
      // kept tokens reassembled in position order
      substrTrimOracleSql(8))),

    // The ExactSubstr L-knob at the Lee et
    // al. 2022 operating point (length >= 50 tokens, the paper's
    // default) — same operators, same corpus, L=50: only docs long
    // enough to repeat a 50-token run report spans (the planted
    // whole-doc duplicates on >= 50-token originals), short docs and
    // short repeats correctly report zeros. Oracle = the SAME SQL
    // template as the L=8 pair with L substituted.
    Query("q_dedup_substr_spans50", (s, dir) => {
      Dedup.exactSubstrSpans(perturbedCorpus(s, dir, cap = 2000), L = 50)
        .orderBy(col("doc_id"))
    }, Sql(
      // the L-knob at the Lee et al. 2022 operating point: the paper
      // deduplicates repeats of length >= 50 tokens; same template, L=50
      substrSpansOracleSql(50))),

    Query("q_dedup_substr_trim50", (s, dir) => {
      Dedup.exactSubstrTrim(perturbedCorpus(s, dir, cap = 2000), L = 50)
        .orderBy(col("doc_id"))
    }, Sql(substrTrimOracleSql(50))),

    Query("q_dedup_simhash_band", (s, dir) => {
      // hamming-≤2 bit-band LSH over the first 1000 docs (the synthetic
      // corpus's 31-token vocabulary makes near-identical token bags —
      // and therefore near-dup pairs — far denser than web text, so the
      // block cap keeps the verified pair stream bench-sized, the same
      // move as q_media_dedup_cc)
      Dedup.simhashBandStatsFromFps(simhashFpsDocs1k(s, dir), k = 2)
        .orderBy(col("doc_id"))
    }, Sql(
      // bit-band LSH has 100% recall at hamming <= k (pigeonhole over
      // k+1 bands), so the oracle can state the TRUE hamming-<=2
      // neighborhood directly from an all-pairs popcount — band
      // bucketing is an execution strategy, not a semantic
      """WITH tok AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
        |  FROM documents WHERE doc_id < 1000),
        |hx AS (
        |  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, b.b,
        |         CASE WHEN sum(2 * ((h >> b.b) & 1) - 1) > 0
        |              THEN CAST(1 AS BIGINT) << b.b ELSE 0 END AS bit
        |  FROM hx, (SELECT unnest(generate_series(0, 31)) AS b) b
        |  GROUP BY doc_id, b.b),
        |fp AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS fp FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM fp x JOIN fp y ON x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.fp, y.fp)) <= 2),
        |nbrs AS (
        |  SELECT doc_id, count(*) AS n_near, min(nbr) AS min_nbr FROM (
        |    SELECT a AS doc_id, b AS nbr FROM pairs
        |    UNION ALL SELECT b, a FROM pairs)
        |  GROUP BY doc_id)
        |SELECT f.doc_id, f.fp,
        |       CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near,
        |       least(f.doc_id, coalesce(n.min_nbr, f.doc_id)) AS keep_id
        |FROM fp f LEFT JOIN nbrs n ON n.doc_id = f.doc_id
        |ORDER BY f.doc_id""".stripMargin),
      fixtureCte = Some("fp"))
  )

  /** The ExactSubstr oracle chain parameterized by the gram/min-repeat
    * length L — ONE template for both declared operating points (L=8,
    * the sub-doc boilerplate scale; L=50, the Lee et al. 2022 default)
    * so the knob cannot drift between them. Mirrors
    * [[graft.ops.Dedup.exactSubstrSpans]] stage for stage.
    */
  private def substrSpansOracleSql(l: Int): String = {
    val g = l - 1
    s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' zz9 zz9' FROM documents WHERE doc_id < 2000),
        |base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM corpus),
        |pos AS (
        |  SELECT doc_id, i, array_to_string(list_slice(toks, i, i + $g), ' ') AS gram
        |  FROM base, unnest(generate_series(1, len(toks) - $g)) AS u(i)
        |  WHERE len(toks) >= $l),
        |gs AS (
        |  SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS total FROM pos),
        |dup AS (SELECT doc_id, i FROM gs WHERE total >= 2),
        |m AS (
        |  SELECT doc_id, i,
        |         max(i + $g) OVER (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM dup),
        |segd AS (
        |  SELECT doc_id, i,
        |         sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY i) AS sid
        |  FROM m),
        |spans AS (SELECT doc_id, sid, min(i) AS s, max(i) + $g AS e
        |          FROM segd GROUP BY 1, 2),
        |st AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(sum(e - s + 1) AS BIGINT) AS covered_tokens,
        |         CAST(max(e - s + 1) AS BIGINT) AS longest_span
        |  FROM spans GROUP BY 1)
        |SELECT b.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |       coalesce(n_spans, 0) AS n_spans,
        |       coalesce(covered_tokens, 0) AS covered_tokens,
        |       coalesce(longest_span, 0) AS longest_span,
        |       round(coalesce(covered_tokens, 0)
        |             / CAST(greatest(len(toks), 1) AS DOUBLE), 4) AS covered_frac
        |FROM base b LEFT JOIN st USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  private def substrTrimOracleSql(l: Int): String = {
    val g = l - 1
    s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' zz9 zz9' FROM documents WHERE doc_id < 2000),
        |base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM corpus),
        |pos AS (
        |  SELECT doc_id, i, array_to_string(list_slice(toks, i, i + $g), ' ') AS gram,
        |         doc_id * 1048576 + i AS pk
        |  FROM base, unnest(generate_series(1, len(toks) - $g)) AS u(i)
        |  WHERE len(toks) >= $l),
        |gs AS (
        |  SELECT doc_id, i, pk,
        |         count(*) OVER (PARTITION BY gram) AS total,
        |         min(pk) OVER (PARTITION BY gram) AS first_pk
        |  FROM pos),
        |dup AS (SELECT doc_id, i FROM gs WHERE total >= 2 AND pk <> first_pk),
        |m AS (
        |  SELECT doc_id, i,
        |         max(i + $g) OVER (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM dup),
        |segd AS (
        |  SELECT doc_id, i,
        |         sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY i) AS sid
        |  FROM m),
        |spans AS (SELECT doc_id, sid, min(i) AS s, max(i) + $g AS e
        |          FROM segd GROUP BY 1, 2),
        |tok AS (
        |  SELECT doc_id, j, toks[j] AS tok
        |  FROM base, unnest(generate_series(1, len(toks))) AS u(j)),
        |cut AS (
        |  SELECT DISTINCT t.doc_id, t.j
        |  FROM tok t JOIN spans sp
        |    ON sp.doc_id = t.doc_id AND t.j BETWEEN sp.s AND sp.e),
        |keptagg AS (
        |  SELECT t.doc_id,
        |         CAST(count(CASE WHEN c.j IS NULL THEN 1 END) AS BIGINT) AS n_kept,
        |         coalesce(string_agg(CASE WHEN c.j IS NULL THEN t.tok END,
        |                             ' ' ORDER BY t.j), '') AS kept_text
        |  FROM tok t LEFT JOIN cut c ON c.doc_id = t.doc_id AND c.j = t.j
        |  GROUP BY t.doc_id)
        |SELECT b.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |       coalesce(n_kept, 0) AS n_kept,
        |       coalesce(kept_text, '') AS kept_text
        |FROM base b LEFT JOIN keptagg USING (doc_id) ORDER BY doc_id""".stripMargin
  }
}
