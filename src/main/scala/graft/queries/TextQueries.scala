package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{EntrySupport, Tables}
import graft.ops.{Relational, Text}
import graft.Tables._
import graft.EntrySupport._

/** Tokenization, language id, n-gram statistics, lexical retrieval,
  * language-model scoring and the BPE/SPM tokenizers. */
private[graft] object TextQueries {

  /** Per-doc bigram counts (`db`) and corpus bigram totals (`lk`), as
    * [[graft.ops.Text.bigramCollapse]] builds them; shared by the LM scorers. */
  private val bigramCountCtes: String =
    """dt AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS next
      |  FROM dt, unnest(generate_series(1, len(toks) - 1)) AS u(i)
      |  WHERE len(toks) >= 2),
      |db AS (SELECT doc_id, prev, next, count(*) AS c FROM pos GROUP BY 1, 2, 3),
      |lk AS (SELECT prev, next, CAST(sum(c) AS BIGINT) AS bc FROM db GROUP BY 1, 2)""".stripMargin

  /** The interpolated bigram LM over [[bigramCountCtes]]: bigram and
    * context counts (`lk2`), unigram counts (`uni`) and the token total. */
  private val interpLmCtes: String =
    """lk2 AS (SELECT prev, next, bc,
      |        CAST(sum(bc) OVER (PARTITION BY prev) AS BIGINT) AS cc FROM lk),
      |uni AS (SELECT next, CAST(sum(c) AS BIGINT) AS uc FROM db GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM db)""".stripMargin

  /** Per-doc term frequencies (`tf`) and document frequencies (`df`) of
    * the whitespace tokens; shared by the lexical retrieval oracles. */
  private val termFreqCtes: String =
    """tf AS (
      |  SELECT doc_id, tok AS token, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id,
      |               unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
      |        FROM documents)
      |  GROUP BY 1, 2),
      |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)""".stripMargin

  /** tf-idf weights over [[termFreqCtes]] with the 0.85 df cap, unit-
    * normalized per doc (`unitv`), as the posting store keeps them. */
  private val unitWeightCtes: String =
    """nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
      |wt AS (
      |  SELECT doc_id, token, tf * ln(n / df) AS w
      |  FROM tf JOIN df USING (token), nd
      |  WHERE df <= n * 0.85),
      |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM wt GROUP BY 1),
      |unitv AS (
      |  SELECT wt.doc_id, token, w / nrm AS wn
      |  FROM wt JOIN nrm USING (doc_id))""".stripMargin

  /** Planted documents as UNION ALL branches for an oracle's corpus CTE. */
  private def plantedSql(docs: Seq[(Long, String)]): String =
    docs.map { case (id, t) =>
      s"\n  UNION ALL SELECT $id AS doc_id, '${t.replace("'", "''")}' AS text"
    }.mkString

  val all: Seq[Query] = Seq(
    Query("q_string_fns", (s, dir) => {
      Text.stringKitchenSink(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id, upper(lang) AS lang_u, concat_ws('-', lang, source) AS tag,
        |       CAST(length(text) AS BIGINT) AS n_len,
        |       substr(text, 1, 20) AS prefix
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("q_text_tokens", (s, dir) => {
      Text.tokenFrequencies(Tables.documents(s, dir))
        .orderBy(col("freq").desc, col("token"))
    }, Sql(
      """SELECT token, count(*) AS freq FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |WHERE token <> ''
        |GROUP BY token ORDER BY freq DESC, token""".stripMargin)),

    Query("q_heavy_hitters", (s, dir) => {
      Text.heavyHitters(Tables.documents(s, dir), support = 0.02)
        .orderBy(col("token"))
    }, Sql(
      """WITH f AS (
        |  SELECT token, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |  WHERE token <> '' GROUP BY token),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM f)
        |SELECT f.token, f.freq,
        |       round(f.freq / CAST(tot.total AS DOUBLE), 4) AS share
        |FROM f, tot
        |WHERE f.freq >= 0.02 * tot.total
        |ORDER BY f.token""".stripMargin)),

    Query("q_text_stats", (s, dir) => {
      Text.corpusStats(Tables.documents(s, dir)).orderBy(col("lang"), col("source"))
    }, Sql(
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       round(avg(n_chars), 4) AS avg_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    Query("q_lang_id", (s, dir) => {
      Text.languageId(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(list_distinct(list_intersect(toks, ['the','a','order','key']))) AS BIGINT)
        |      AS score_p_article,
        |    CAST(len(list_distinct(list_intersect(toks, ['spark','query','table','row']))) AS BIGINT)
        |      AS score_p_query,
        |    CAST(len(list_distinct(list_intersect(toks, ['batch','stream','window','merge']))) AS BIGINT)
        |      AS score_p_stream
        |  FROM t)
        |SELECT doc_id, score_p_article, score_p_query, score_p_stream,
        |  CASE WHEN score_p_stream >= score_p_query AND score_p_stream >= score_p_article
        |         THEN 'p_stream'
        |       WHEN score_p_query >= score_p_article THEN 'p_query'
        |       ELSE 'p_article' END AS predicted
        |FROM s ORDER BY doc_id""".stripMargin)),

    Query("q_lang_id_ngram", (s, dir) => {
      Text.languageIdCharNgram(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 2, 1)),
        |    i -> substr(text, i, 3))) AS grams
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(list_distinct(list_intersect(grams, ['the','he ',' th','e t']))) AS BIGINT)
        |      AS score_c_the,
        |    CAST(len(list_distinct(list_intersect(grams, ['spa','par','ark','rk ']))) AS BIGINT)
        |      AS score_c_spk,
        |    CAST(len(list_distinct(list_intersect(grams, ['que','uer','ery','ry ']))) AS BIGINT)
        |      AS score_c_qry
        |  FROM t)
        |SELECT doc_id, score_c_the, score_c_spk, score_c_qry,
        |  CASE WHEN score_c_the >= score_c_spk AND score_c_the >= score_c_qry
        |         THEN 'c_the'
        |       WHEN score_c_spk >= score_c_qry THEN 'c_spk'
        |       ELSE 'c_qry' END AS predicted
        |FROM s ORDER BY doc_id""".stripMargin)),

    Query("q_token_count", (s, dir) => {
      Text.tokenCounts(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("q_tfidf", (s, dir) => {
      // reads the materialized posting store (weights precomputed at
      // ingest — see EntrySupport.tokPostings) instead of re-running
      // tokenize -> collapse -> df -> weight per query
      Text.tfidfTopTermsFrom(tokPostings(s, dir), k = 3)
        .orderBy(col("doc_id"), col("rnk"))
    }, Sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |idf AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, idf.df,
        |         round(tf.tf * ln(n.n_docs / idf.df), 4) AS tfidf
        |  FROM tf JOIN idf USING (token), n),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |                    ORDER BY tfidf DESC, token ASC) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, token, tf, df, tfidf, rnk FROM ranked
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
      fixtureCte = Some("scored")),

    Query("q_unigram_logprob", (s, dir) => {
      Text.unigramLogProb(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }, Sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
        |  FROM documents),
        |tf AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS total FROM tf)
        |SELECT t.doc_id,
        |       count(*) AS n_toks,
        |       round(avg(ln(tf.freq / tot.total)), 4) AS logprob
        |FROM tok t JOIN tf USING (token), tot
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    Query("q_levenshtein", (s, dir) => {
      // Edit distance between doc_id-adjacent 40-char prefixes: the
      // exact string-similarity verifier that runs on LSH candidate
      // pairs at scale (here on a deterministic 1:1 pairing).
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("s40"))
      d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_id"),
          levenshtein(col("a.s40"), col("b.s40")).cast("long").as("dist"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH d AS (SELECT doc_id, substr(text, 1, 40) AS s40 FROM documents)
        |SELECT a.doc_id AS doc_id, CAST(levenshtein(a.s40, b.s40) AS BIGINT) AS dist
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_id""".stripMargin)),

    Query("q_bigram_lm", (s, dir) => {
      // scores read the write-once bigram count table (EntrySupport
      // .lmCollapse — the KenLM count-table move shared by all three
      // LM scorers); the tokenize pass is corpus-versioned, not
      // per-query
      Text.bigramLogProbFrom(lmCollapse(s, dir))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS next
        |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |bc AS (SELECT prev, next, count(*) AS bc FROM bi GROUP BY prev, next),
        |cc AS (SELECT prev, sum(bc) AS cc FROM bc GROUP BY prev)
        |SELECT bi.doc_id,
        |       count(*) AS n_bigrams,
        |       round(avg(ln(bc.bc / CAST(cc.cc AS DOUBLE))), 4) AS bigram_logprob
        |FROM bi JOIN bc USING (prev, next) JOIN cc USING (prev)
        |GROUP BY bi.doc_id ORDER BY bi.doc_id""".stripMargin),
      fixtureCte = Some("bi")),

    Query("q_bpe_pairs", (s, dir) => {
      Text.bpePairCounts(Tables.documents(s, dir), k = 30)
        .orderBy(col("cnt").desc, col("pair"))
    }, Sql(
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
        |  FROM documents),
        |p AS (
        |  SELECT substr(word, i, 2) AS pair
        |  FROM w, unnest(generate_series(1, length(word) - 1)) AS u(i)
        |  WHERE length(word) >= 2)
        |SELECT pair, count(*) AS cnt FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 30""".stripMargin)),

    Query("q_bpe_encode", (s, dir) => {
      import s.implicits._
      // the trained tokenizer (merges.txt) loads from the
      // corpus-versioned store; encoding is the codegen'd
      // sequential-pass column form (Text.bpeEncodeExpr). Planted docs
      // exercise the adjacent-occurrence / self-pair replace corners
      // through BOTH engines — the oracle mirrors them as literals.
      val merges = bpeMerges(s, dir)
      val planted = bpePlantedDocs(merges).toDF("doc_id", "text")
      Text.bpeEncodeDocs(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))
            .unionByName(planted),
          merges)
        .orderBy(col("doc_id"))
    }, Pinned(m =>
      Text.bpeEncodeOracleSql(m.bpeMerges,
        plantedSql(bpePlantedDocs(m.bpeMerges)))),
      modelStore = true),

    Query("q_bpe_fertility", (s, dir) => {
      // per-language tokens/word under the SAME trained merges store
      // q_bpe_encode serves — the multilingual mixing-decision signal
      // (Text.bpeFertilityByLang scaladoc); dynamic oracle re-trains
      // and re-runs the replace-chain encode per lang in DuckDB
      Text.bpeFertilityByLang(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("lang"), col("text")),
          bpeMerges(s, dir))
        .orderBy(col("lang"))
    }, Pinned(m =>
      Text.bpeFertilityOracleSql(m.bpeMerges)),
      modelStore = true),

    Query("q_spm_encode", (s, dir) => {
      import s.implicits._
      // the trained unigram-LM tokenizer (SentencePiece's .model)
      // loads from the corpus-versioned store; segmentation is the
      // Viterbi-DP column expression over the DISTINCT word frame,
      // broadcast back onto occurrences (Text.spmSegmentFrame
      // scaladoc). Planted docs exercise piece-vs-char choice, the
      // UNK fallback, and prefix overlaps through BOTH engines.
      val model = spmModel(s, dir)
      val planted = spmPlantedDocs(model).toDF("doc_id", "text")
      Text.spmEncodeDocs(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))
            .unionByName(planted),
          model, maxPieceLen = SpmMaxPieceLen,
          segRows = Some(spmSegLocal(s, dir)))
        .orderBy(col("doc_id"))
    }, Pinned(m =>
      Text.spmEncodeOracleSql(m.spm, SpmMaxPieceLen,
        plantedSql(spmPlantedDocs(m.spm)))),
      modelStore = true),

    Query("q_spm_fertility", (s, dir) => {
      // per-language pieces/word under the SAME trained unigram-LM
      // store — the direct comparison row for q_bpe_fertility: the two
      // tokenizer families graded on the same corpus per language
      Text.spmFertilityByLang(
          Tables.documents(s, dir)
            .select(col("lang"), col("text")),
          spmModel(s, dir), maxPieceLen = SpmMaxPieceLen,
          segRows = Some(spmSegLocal(s, dir)))
        .orderBy(col("lang"))
    }, Pinned(m =>
      Text.spmFertilityOracleSql(m.spm, SpmMaxPieceLen)),
      modelStore = true),

    Query("q_spm_sample", (s, dir) => {
      // subword REGULARIZATION (Kudo 2018): sampled segmentation under
      // the same trained model — deterministic integer md5-noise
      // ε-perturbs each candidate's cost (tau = 0.3 nat, epoch 1 is
      // the seed), the DP argmins the perturbed cost, and the TRUE
      // model cost of the sampled path is reported (≥ Viterbi's by
      // optimality — the SpmSpec law). The oracle re-runs the whole
      // perturbed DP with the same inlined noise formula.
      Text.spmSampleEncodeDocs(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          spmModel(s, dir), maxPieceLen = SpmMaxPieceLen,
          tauU6 = SpmSampleTauU6, epoch = 1,
          segRows = Some(spmSampleSegLocal(s, dir, SpmSampleTauU6, 1)))
        .orderBy(col("doc_id"))
    }, Pinned(m =>
      Text.spmSampleOracleSql(m.spm, SpmMaxPieceLen, SpmSampleTauU6,
        epoch = 1)),
      modelStore = true),

    Query("q_spm_byte_fallback", (s, dir) => {
      import s.implicits._
      // byte-fallback encode (SentencePiece's --byte_fallback
      // production default) under the SAME trained unigram-LM store:
      // planted accented/CJK/non-BMP rows the training never saw
      // tokenize as their UTF-8 bytes at SpmByteCostU6 each instead of
      // the untrainable 25-nat UNK — with fallback ON every string
      // encodes (UNK rate 0; the SpmSpec law), and n_fb counts the
      // fallback byte-pieces (0 on in-vocab ASCII text). The oracle
      // re-trains independently and re-runs the fallback DP as a
      // recursive CTE with the same byte tallies.
      Text.spmEncodeDocs(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))
            .unionByName(spmFallbackPlantedDocs.toDF("doc_id", "text")),
          spmModel(s, dir), maxPieceLen = SpmMaxPieceLen,
          byteFallback = true,
          fbSegRows = Some(spmSegFbLocal(s, dir)))
        .orderBy(col("doc_id"))
    }, Pinned(m =>
      Text.spmEncodeFallbackOracleSql(m.spm, SpmMaxPieceLen,
        plantedSql(spmFallbackPlantedDocs))),
      modelStore = true),

    Query("q_entropy", (s, dir) => {
      Text.tokenEntropy(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
        |  FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
        |       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy_r
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Query("q_text_normalize", (s, dir) => {
      Text.normalizeText(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }, Sql(
      """WITH n AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS n_raw,
        |       CAST(length(norm) AS BIGINT) AS n_norm,
        |       md5(norm) AS norm_hash,
        |       substring(norm, 1, 32) AS norm_prefix
        |FROM n ORDER BY doc_id""".stripMargin)),

    Query("q_inverted_index", (s, dir) => {
      Text.invertedIndex(Tables.documents(s, dir), minDf = 2)
        .orderBy(col("token"))
    }, Sql(
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
        |  FROM documents),
        |dt AS (SELECT DISTINCT doc_id, token FROM tok)
        |SELECT token, count(*) AS df,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM dt GROUP BY token HAVING count(*) >= 2
        |ORDER BY token""".stripMargin)),

    Query("q_pmi", (s, dir) => {
      Text.bigramPmi(Tables.documents(s, dir), minCount = 5)
        .orderBy(col("w1"), col("w2"))
    }, Sql(
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2
        |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c_xy FROM bi GROUP BY 1, 2),
        |l AS (SELECT w1, sum(c_xy) AS c_x FROM bc GROUP BY 1),
        |r AS (SELECT w2, sum(c_xy) AS c_y FROM bc GROUP BY 1),
        |n AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS nn FROM bc)
        |SELECT w1, w2, c_xy,
        |       round(ln(c_xy * nn / (c_x * c_y)), 4) AS pmi
        |FROM bc JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
        |WHERE c_xy >= 5
        |ORDER BY w1, w2""".stripMargin)),

    Query("q_url_parse", (s, dir) => {
      Text.parseUrls(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }, Sql(
      """WITH u AS (
        |  SELECT doc_id,
        |         'https://' || source || '.example.com/docs/' ||
        |         CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
        |  FROM documents)
        |SELECT doc_id, url,
        |       regexp_extract(url, 'https?://([^/]+)', 1) AS host,
        |       regexp_extract(url, 'https?://[^/]+(/[^?]*)', 1) AS path,
        |       regexp_extract(url, '[?&]lang=([^&]*)', 1) AS q_lang
        |FROM u ORDER BY doc_id""".stripMargin)),

    Query("q_oov_rate", (s, dir) => {
      Text.oovRate(Tables.documents(s, dir), 100L)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != ''))
        |    AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token)
        |  WHERE df >= 100)
        |SELECT t.doc_id,
        |       count(*) AS n_tok,
        |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_oov,
        |       round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
        |             / CAST(count(*) AS DOUBLE), 6) AS oov_rate_r
        |FROM tok t LEFT JOIN vocab v USING (token)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    Query("q_textrank", (s, dir) =>
      Text.textrank(Tables.documents(s, dir), 0.85, 5)
        .orderBy(col("token")), Sql(
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2
        |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c FROM bi WHERE w1 != w2 GROUP BY 1, 2),
        |edges AS (
        |  SELECT src, dst, sum(c) AS w FROM (
        |    SELECT w1 AS src, w2 AS dst, c FROM bc
        |    UNION ALL
        |    SELECT w2 AS src, w1 AS dst, c FROM bc)
        |  GROUP BY 1, 2),
        |ow AS (SELECT src, sum(w) AS w_out FROM edges GROUP BY 1),
        |contrib AS (
        |  SELECT e.src, e.dst, e.w / o.w_out AS frac
        |  FROM edges e JOIN ow o USING (src)),
        |nodes AS (SELECT DISTINCT src AS token FROM contrib),
        |s0 AS (SELECT token, CAST(1.0 AS DOUBLE) AS s FROM nodes),
        |i1 AS (SELECT c.dst, sum(c.frac * p.s) AS in_s
        |       FROM contrib c JOIN s0 p ON p.token = c.src GROUP BY c.dst),
        |s1 AS (SELECT n.token, 0.15 + 0.85 * coalesce(i.in_s, 0) AS s
        |       FROM nodes n LEFT JOIN i1 i ON i.dst = n.token),
        |i2 AS (SELECT c.dst, sum(c.frac * p.s) AS in_s
        |       FROM contrib c JOIN s1 p ON p.token = c.src GROUP BY c.dst),
        |s2 AS (SELECT n.token, 0.15 + 0.85 * coalesce(i.in_s, 0) AS s
        |       FROM nodes n LEFT JOIN i2 i ON i.dst = n.token),
        |i3 AS (SELECT c.dst, sum(c.frac * p.s) AS in_s
        |       FROM contrib c JOIN s2 p ON p.token = c.src GROUP BY c.dst),
        |s3 AS (SELECT n.token, 0.15 + 0.85 * coalesce(i.in_s, 0) AS s
        |       FROM nodes n LEFT JOIN i3 i ON i.dst = n.token),
        |i4 AS (SELECT c.dst, sum(c.frac * p.s) AS in_s
        |       FROM contrib c JOIN s3 p ON p.token = c.src GROUP BY c.dst),
        |s4 AS (SELECT n.token, 0.15 + 0.85 * coalesce(i.in_s, 0) AS s
        |       FROM nodes n LEFT JOIN i4 i ON i.dst = n.token),
        |i5 AS (SELECT c.dst, sum(c.frac * p.s) AS in_s
        |       FROM contrib c JOIN s4 p ON p.token = c.src GROUP BY c.dst),
        |s5 AS (SELECT n.token, 0.15 + 0.85 * coalesce(i.in_s, 0) AS s
        |       FROM nodes n LEFT JOIN i5 i ON i.dst = n.token)
        |SELECT token, round(s, 4) AS score_r FROM s5
        |ORDER BY token""".stripMargin)),

    Query("q_hash_embed", (s, dir) => {
      Text.hashedBowVectors(Tables.documents(s, dir), 64)
        .orderBy(col("doc_id"), col("bucket"))
    }, Sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != ''))
        |    AS token
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket,
        |         ('0x' || substr(md5(token), 9, 1))::BIGINT % 2 * 2 - 1 AS sign
        |  FROM tok)
        |SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS v
        |FROM hashed GROUP BY doc_id, bucket
        |HAVING sum(sign) != 0
        |ORDER BY doc_id, bucket""".stripMargin)),

    Query("q_skipgrams", (s, dir) => {
      Text.skipgramPairs(Tables.documents(s, dir), 2)
        .orderBy(col("center"), col("context"))
    }, Sql(
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT toks, i FROM t, unnest(generate_series(1, len(toks))) AS u(i)
        |  WHERE len(toks) >= 2),
        |pairs AS (
        |  SELECT toks[i] AS center, toks[i + o.o] AS context
        |  FROM pos, (SELECT unnest([-2, -1, 1, 2]) AS o) o
        |  WHERE i + o.o >= 1 AND i + o.o <= len(toks))
        |SELECT center, context, count(*) AS n_pairs
        |FROM pairs GROUP BY center, context
        |ORDER BY center, context""".stripMargin)),

    Query("q_kl_sources", (s, dir) => {
      Text.sourceKlDivergence(Tables.documents(s, dir))
        .orderBy(col("source"))
    }, Sql(
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), t -> t != ''))
        |    AS token
        |  FROM documents),
        |st AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |stot AS (SELECT source, sum(c) AS s_tot FROM st GROUP BY 1),
        |ctok AS (SELECT token, sum(c) AS t_tot FROM st GROUP BY 1),
        |g AS (SELECT CAST(sum(c) AS DOUBLE) AS g_tot FROM st)
        |SELECT st.source,
        |       CAST(max(stot.s_tot) AS BIGINT) AS n_tokens,
        |       round(sum(st.c / stot.s_tot
        |             * ln(st.c / stot.s_tot / (ctok.t_tot / g.g_tot))), 6) AS kl_r
        |FROM st
        |JOIN ctok USING (token) JOIN stot USING (source) CROSS JOIN g
        |GROUP BY st.source ORDER BY st.source""".stripMargin)),

    Query("q_zipf", (s, dir) => {
      Text.zipfFit(Tables.documents(s, dir))
    }, Sql(
      """WITH freq AS (
        |  SELECT token, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), t -> t != ''))
        |      AS token
        |    FROM documents) GROUP BY token),
        |ranked AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, token ASC)
        |            AS DOUBLE)) AS lr,
        |         ln(CAST(freq AS DOUBLE)) AS lf
        |  FROM freq)
        |SELECT count(*) AS n_vocab,
        |       round(regr_slope(lf, lr), 4) AS slope_r,
        |       round(regr_r2(lf, lr), 4) AS r2_r
        |FROM ranked""".stripMargin)),

    Query("q_burstiness", (s, dir) => {
      Text.tokenBurstiness(Tables.documents(s, dir))
        .orderBy(col("token"))
    }, Sql(
      """WITH dt AS (
        |  SELECT doc_id, token, count(*) AS c FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(string_split(text, ' '), t -> t != ''))
        |             AS token
        |    FROM documents) GROUP BY doc_id, token)
        |SELECT token, count(*) AS df, CAST(sum(c) AS BIGINT) AS cf,
        |       round(avg(c), 4) AS mean_r,
        |       round(var_samp(c) / avg(c), 4) AS dispersion_r
        |FROM dt GROUP BY token ORDER BY token""".stripMargin)),

    Query("q_repetition", (s, dir) => {
      Text.repetitionSignals(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |         round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4)
        |           AS distinct_ratio
        |  FROM t),
        |pos AS (
        |  SELECT doc_id, toks, i
        |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
        |runs AS (
        |  SELECT doc_id, toks[i] AS tok,
        |         i - row_number() OVER (PARTITION BY doc_id, toks[i] ORDER BY i) AS g
        |  FROM pos),
        |rl AS (SELECT doc_id, count(*) AS r FROM runs GROUP BY doc_id, tok, g),
        |mr AS (SELECT doc_id, CAST(max(r) AS BIGINT) AS max_run FROM rl GROUP BY doc_id),
        |bg AS (SELECT doc_id, toks[i] AS p, toks[i + 1] AS n
        |       FROM pos WHERE i < len(toks)),
        |bgc AS (SELECT doc_id, count(*) AS c FROM bg GROUP BY doc_id, p, n),
        |bgm AS (SELECT doc_id, max(c) AS mc FROM bgc GROUP BY doc_id)
        |SELECT b.doc_id, b.n_toks, b.distinct_ratio, mr.max_run,
        |       coalesce(round(2.0 * bgm.mc / b.n_toks, 4), 0.0) AS top_bigram_frac
        |FROM base b JOIN mr USING (doc_id) LEFT JOIN bgm USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin)),

    Query("q_lm_interp", (s, dir) => {
      // shared write-once bigram count table (see q_bigram_lm)
      Text.interpolatedLogProbFrom(lmCollapse(s, dir), 0.7)
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH $bigramCountCtes,
        |$interpLmCtes
        |SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_bigrams,
        |       round(sum(db.c * ln(0.7 * bc / cc + (1 - 0.7) * uc / tt)) / sum(db.c), 4)
        |         AS interp_logprob
        |FROM db JOIN lk2 USING (prev, next) JOIN uni USING (next), tot
        |GROUP BY db.doc_id ORDER BY db.doc_id""".stripMargin),
      fixtureCte = Some("db")),

    Query("q_ppl_band", (s, dir) => {
      // CCNet-style perplexity bucketing (Wenzek et al., LREC 2020):
      // docs band into TERCILES of the interpolated-LM logprob —
      // head = band 1 (most fluent), tail = band 3 — the filter stage
      // CCNet runs before keeping head+middle. Pure composition of the
      // verified scorer and the scale-safe exact banding (bandedNtile
      // never single-partitions an unbounded input); the 4dp-rounded
      // score + doc_id tiebreak keeps the band assignment
      // engine-independent, and the oracle re-runs the identical
      // chain through SQL ntile
      val scored = Text.interpolatedLogProbFrom(lmCollapse(s, dir), 0.7)
      Relational.bandedNtile(scored, 3,
          Seq(col("interp_logprob").desc, col("doc_id").asc), "band",
          knownSize = Some(lmDocCountLocal(s, dir)))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("interp_logprob")), 4).as("lo"),
          round(max(col("interp_logprob")), 4).as("hi"),
          round(avg(col("interp_logprob")), 4).as("mean_r"))
        .orderBy(col("band"))
    }, Sql(
      // CCNet perplexity terciles over the SAME interp-LM chain: band by
      // (4dp score DESC, doc_id) through SQL ntile — the exact
      // rank-arithmetic bandedNtile reproduces — then per-band stats
      s"""WITH $bigramCountCtes,
        |$interpLmCtes,
        |sc AS (
        |  SELECT db.doc_id,
        |         round(sum(db.c * ln(0.7 * bc / cc + (1 - 0.7) * uc / tt)) / sum(db.c), 4)
        |           AS lp
        |  FROM db JOIN lk2 USING (prev, next) JOIN uni USING (next), tot
        |  GROUP BY db.doc_id),
        |b AS (
        |  SELECT doc_id, lp,
        |         CAST(ntile(3) OVER (ORDER BY lp DESC, doc_id) AS BIGINT) AS band
        |  FROM sc)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
        |       round(min(lp), 4) AS lo, round(max(lp), 4) AS hi,
        |       round(avg(lp), 4) AS mean_r
        |FROM b GROUP BY band ORDER BY band""".stripMargin)),

    Query("q_sparse_cosine", (s, dir) => {
      // posting-store form (dfCapFrac 0.85 baked into the store — see
      // EntrySupport.tokPostings) with the bounded query slice held
      // driver-local: ONE scored posting join + rank window job
      Text.tfidfCosineTopKFrom(tokPostings(s, dir), nQueries = 20, k = 5,
          qSlice = Some(tokPostingsQueryLocal(s, dir, 20)))
        .orderBy(col("q_id"), col("rnk"))
    }, Sql(
      s"""WITH $termFreqCtes,
        |$unitWeightCtes,
        |scored AS (
        |  SELECT q.doc_id AS q_id, c.doc_id AS c_id,
        |         CAST(count(*) AS BIGINT) AS n_common,
        |         round(sum(q.wn * c.wn), 4) AS cos_r
        |  FROM unitv q JOIN unitv c USING (token)
        |  WHERE q.doc_id < 20 AND c.doc_id <> q.doc_id
        |  GROUP BY 1, 2)
        |SELECT q_id, c_id, n_common, cos_r, rnk FROM (
        |  SELECT q_id, c_id, n_common, cos_r,
        |         CAST(row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY cos_r DESC, c_id) AS BIGINT) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),
      fixtureCte = Some("unitv")),

    Query("q_kn_bigram", (s, dir) => {
      // shared write-once bigram count table (see q_bigram_lm)
      Text.knBigramLogProbFrom(lmCollapse(s, dir), discount = 0.75)
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH $bigramCountCtes,
        |lk2 AS (SELECT prev, next, bc,
        |        CAST(sum(bc) OVER (PARTITION BY prev) AS BIGINT) AS cc,
        |        CAST(count(*) OVER (PARTITION BY prev) AS BIGINT) AS n1p
        |        FROM lk),
        |cont AS (SELECT next, CAST(count(*) AS BIGINT) AS ncont FROM lk GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS ttypes FROM lk)
        |SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_bigrams,
        |       round(sum(db.c * ln(greatest(bc - 0.75, 0) / cc
        |             + (0.75 * n1p / cc) * (ncont / CAST(ttypes AS DOUBLE))))
        |             / sum(db.c), 4) AS kn_logprob
        |FROM db JOIN lk2 USING (prev, next) JOIN cont USING (next), tot
        |GROUP BY db.doc_id ORDER BY db.doc_id""".stripMargin),
      fixtureCte = Some("db")),

    Query("q_bm25", (s, dir) => {
      // posting-store form: per-posting bm_w IS the score term; query
      // slice driver-local — one job
      Text.bm25TopKFrom(tokPostings(s, dir), nQueries = 20, k = 5,
          qSlice = Some(tokPostingsQueryLocal(s, dir, 20)))
        .orderBy(col("q_id"), col("rnk"))
    }, Sql(
      s"""WITH $termFreqCtes,
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |q AS (SELECT doc_id AS q_id, token FROM tf WHERE doc_id < 20),
        |scored AS (
        |  SELECT q.q_id, tf.doc_id AS c_id,
        |         CAST(count(*) AS BIGINT) AS n_common,
        |         round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5))
        |               * (tf.tf * (1.2 + 1.0)
        |                  / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / avgdl)))), 4)
        |           AS bm25_r
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (token)
        |       JOIN q USING (token), st
        |  WHERE q.q_id <> tf.doc_id
        |  GROUP BY 1, 2)
        |SELECT q_id, c_id, n_common, bm25_r, rnk FROM (
        |  SELECT q_id, c_id, n_common, bm25_r,
        |         CAST(row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY bm25_r DESC, c_id) AS BIGINT) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),
      fixtureCte = Some("st")),

    Query("q_rrf", (s, dir) => {
      // hybrid retrieval: the tf-idf cosine ranking and the BM25
      // ranking (incomparable score scales) computed as two score
      // columns of ONE posting-join pass, then RRF-fused — output
      // bit-identical to composing the two rankers + rrfFuse (the
      // oracle restates both rankings independently)
      Text.hybridRrfTopKFrom(tokPostings(s, dir), nQueries = 10,
          kPer = 20, kFused = 5,
          qSlice = Some(tokPostingsQueryLocal(s, dir, 10)))
        .orderBy(col("q_id"), col("fused_rnk"))
    }, Sql(
      s"""WITH $termFreqCtes,
        |$unitWeightCtes,
        |s1 AS (
        |  SELECT q.doc_id AS q_id, c.doc_id AS c_id,
        |         round(sum(q.wn * c.wn), 4) AS s
        |  FROM unitv q JOIN unitv c USING (token)
        |  WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
        |  GROUP BY 1, 2),
        |r1 AS (
        |  SELECT q_id, c_id, rnk FROM (
        |    SELECT q_id, c_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk
        |    FROM s1) WHERE rnk <= 20),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |q2 AS (SELECT doc_id AS q_id, token FROM tf WHERE doc_id < 10),
        |s2 AS (
        |  SELECT q2.q_id, tf.doc_id AS c_id,
        |         round(sum(ln(1.0 + (st.n - df + 0.5) / (df + 0.5))
        |               * (tf.tf * (1.2 + 1.0)
        |                  / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / avgdl)))), 4)
        |           AS s
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (token)
        |       JOIN q2 USING (token), st
        |  WHERE q2.q_id <> tf.doc_id
        |  GROUP BY 1, 2),
        |r2 AS (
        |  SELECT q_id, c_id, rnk FROM (
        |    SELECT q_id, c_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk
        |    FROM s2) WHERE rnk <= 20),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        |f AS (
        |  SELECT q_id, c_id, CAST(count(*) AS BIGINT) AS n_lists,
        |         round(sum(1.0 / (60.0 + rnk)), 6) AS rrf_r
        |  FROM u GROUP BY 1, 2)
        |SELECT q_id, c_id, n_lists, rrf_r, fused_rnk FROM (
        |  SELECT q_id, c_id, n_lists, rrf_r,
        |         CAST(row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY rrf_r DESC, c_id) AS BIGINT)
        |           AS fused_rnk
        |  FROM f)
        |WHERE fused_rnk <= 5 ORDER BY q_id, fused_rnk""".stripMargin),
      fixtureCte = Some("unitv")),

    Query("q_lang_segments", (s, dir) => {
      import s.implicits._
      // multilingual document SPLITTING (CCNet's per-paragraph LID):
      // 8-token windows scored by the q_lang_id marker-profile argmax,
      // consecutive same-language windows collapsed to segment rows —
      // the per-segment routing table for per-language gates and
      // tokenizers. Planted docs pin the two-half split, the run
      // break, and the multi-chunk collapse through both engines.
      Text.langSegments(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))
            .unionByName(langSegPlantedDocs.toDF("doc_id", "text")),
          w = 8)
        .orderBy(col("doc_id"), col("seg_start"))
    }, Sql(
      // segment-level language ID + run collapse: 8-token windows, the
      // q_lang_id marker scoring per window, gaps-and-islands collapse;
      // planted multilingual docs mirrored as literals
      ("""WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents""" +
        EntrySupport.langSegPlantedDocs.map { case (id, txt) =>
          s"\n  UNION ALL SELECT $id, list_filter(string_split('$txt', ' '), x -> x != '')"
        }.mkString + """),
        |c0 AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(0, CAST((len(toks) - 1) // 8 AS INT))) AS i
        |  FROM t WHERE len(toks) >= 1),
        |c AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
        |         list_distinct(toks[i * 8 + 1 : i * 8 + 8]) AS dchunk
        |  FROM c0),
        |s AS (
        |  SELECT doc_id, seg_idx,
        |    CAST(len(list_distinct(list_intersect(dchunk, ['the','a','order','key']))) AS BIGINT)
        |      AS score_p_article,
        |    CAST(len(list_distinct(list_intersect(dchunk, ['spark','query','table','row']))) AS BIGINT)
        |      AS score_p_query,
        |    CAST(len(list_distinct(list_intersect(dchunk, ['batch','stream','window','merge']))) AS BIGINT)
        |      AS score_p_stream
        |  FROM c),
        |p AS (
        |  SELECT doc_id, seg_idx,
        |    CASE WHEN score_p_stream >= score_p_query AND score_p_stream >= score_p_article
        |           THEN 'p_stream'
        |         WHEN score_p_query >= score_p_article THEN 'p_query'
        |         ELSE 'p_article' END AS lang
        |  FROM s),
        |r AS (
        |  SELECT *, seg_idx - row_number() OVER (PARTITION BY doc_id, lang
        |                                         ORDER BY seg_idx) AS grp
        |  FROM p)
        |SELECT doc_id, lang,
        |       CAST(min(seg_idx) AS BIGINT) AS seg_start,
        |       CAST(max(seg_idx) AS BIGINT) AS seg_end,
        |       CAST(count(*) AS BIGINT) AS n_chunks
        |FROM r GROUP BY doc_id, lang, grp
        |ORDER BY doc_id, seg_start""").stripMargin))
  )
}
