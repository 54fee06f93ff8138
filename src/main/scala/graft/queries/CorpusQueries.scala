package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{EntrySupport, Tables}
import graft.ops.{Corpus, Text}
import graft.Tables._
import graft.EntrySupport._

/** Training-corpus assembly: quality gates, sampling and mixing, HTML
  * extraction, the web-corpus nightly cycle and DSIR selection. */
private[graft] object CorpusQueries {

  val all: Seq[Query] = Seq(
    Query("q_quality_score", (s, dir) => {
      Text.qualityScore(Tables.documents(s, dir), Seq("the", "a"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_chars, len(toks) AS n_tok,
        |         len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS n_stop
        |  FROM t)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |       round(n_chars / n_tok, 4) AS avg_tok_len,
        |       round(n_stop / n_tok, 4) AS stop_ratio,
        |       round(least(n_tok / 100.0, 1.0) * (1.0 - n_stop / n_tok), 4) AS quality
        |FROM s ORDER BY doc_id""".stripMargin)),

    Query("q_pii_mask", (s, dir) => {
      // Deterministic PII is injected (testdata has none), then redacted
      // by the map-side regex pass — both halves mirrored in the oracle.
      val raw = concat(substring(col("text"), 1, 120),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now"))
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.ops.Corpus.piiMask(raw).as("masked"))
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      substr(text, 1, 120) || ' contact user' || CAST(doc_id AS VARCHAR)
        |        || '@mail.example.com or +1-555-'
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g') AS masked
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("q_quality_gopher", (s, dir) => {
      graft.ops.Corpus.gopherSignals(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH d AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text, toks, len(toks) AS n_words,
        |         CASE WHEN len(toks) >= 2 THEN
        |           list_transform(generate_series(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i + 1])
        |         ELSE []::VARCHAR[] END AS bg
        |  FROM d),
        |sig AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    CASE WHEN n_words > 0
        |      THEN round(CAST(length(array_to_string(toks, '')) AS DOUBLE) / n_words, 4)
        |      ELSE 0.0 END AS mean_wlen,
        |    CASE WHEN length(text) > 0
        |      THEN round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |                 / length(text), 4)
        |      ELSE 0.0 END AS digit_frac,
        |    CASE WHEN len(bg) > 0
        |      THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
        |      ELSE 0.0 END AS dup_bigram_frac
        |  FROM s)
        |SELECT doc_id, n_words, mean_wlen, digit_frac, dup_bigram_frac,
        |  CAST(CASE WHEN n_words BETWEEN 10 AND 100000
        |             AND mean_wlen BETWEEN 2.0 AND 12.0
        |             AND dup_bigram_frac < 0.3
        |            THEN 1 ELSE 0 END AS BIGINT) AS gopher_ok
        |FROM sig ORDER BY doc_id""".stripMargin)),

    Query("q_pack_sequences", (s, dir) => {
      graft.ops.Corpus.packSequences(Tables.documents(s, dir), shardSize = 64, budget = 2048)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH d AS (
        |  SELECT doc_id, doc_id // 64 AS shard,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT) AS tok_cnt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, tok_cnt,
        |         sum(tok_cnt) OVER (PARTITION BY shard ORDER BY doc_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT doc_id, shard, tok_cnt,
        |       CAST((cum - tok_cnt) // 2048 AS BIGINT) AS seq_id,
        |       CAST((cum - tok_cnt) % 2048 AS BIGINT) AS offset_in
        |FROM c ORDER BY doc_id""".stripMargin)),

    Query("q_shuffle_shard", (s, dir) => {
      graft.ops.Corpus.shuffleShard(Tables.documents(s, dir), nShards = 8)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH d AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |s AS (
        |  SELECT doc_id, skey,
        |         ('0x' || substr(skey, 1, 8))::BIGINT % 8 AS shard
        |  FROM d)
        |SELECT doc_id, skey, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS rnk
        |FROM s ORDER BY doc_id""".stripMargin)),

    Query("q_corpus_pipeline", (s, dir) => {
      // The composed corpus build — exact dedup → Gopher gate →
      // deterministic per-domain sampling → sequence packing, one lazy
      // plan, two shuffles total. The flagship of the training-data
      // toolbox; every stage is the same operator the standalone
      // queries exercise.
      graft.ops.Corpus.buildCorpus(
          Tables.documents(s, dir).select(col("doc_id"), col("text"), col("lang")),
          "lang", Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.1),
          shardSize = 64, budget = 2048)
        .orderBy(col("doc_id"))
    }, Sql(
      // Every stage restated: dedup window, the Gopher expressions, the
      // hash-threshold draw, and the per-shard packing sums.
      """WITH dedup AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM documents) t WHERE rn = 1),
        |tok AS (
        |  SELECT doc_id, text, lang,
        |         list_filter(string_split(text, ' '), t -> t != '') AS toks
        |  FROM dedup),
        |sig AS (
        |  SELECT doc_id, lang, toks, len(toks) AS n_words,
        |         CASE WHEN len(toks) >= 2 THEN
        |           list_transform(generate_series(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i + 1])
        |         ELSE []::VARCHAR[] END AS bg,
        |         text
        |  FROM tok),
        |gate AS (
        |  SELECT doc_id, lang, toks FROM sig
        |  WHERE n_words BETWEEN 10 AND 100000
        |    AND (CASE WHEN n_words > 0
        |          THEN round(CAST(length(array_to_string(toks, '')) AS DOUBLE) / n_words, 4)
        |          ELSE 0.0 END) BETWEEN 2.0 AND 12.0
        |    AND (CASE WHEN len(bg) > 0
        |          THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
        |          ELSE 0.0 END) < 0.3),
        |samp AS (
        |  SELECT doc_id, lang, toks FROM gate
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
        |          / 4294967296.0
        |        < CAST(CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5
        |                         WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.1
        |                         ELSE 0.0 END AS DOUBLE)),
        |cnt AS (
        |  SELECT doc_id, lang, doc_id // 64 AS shard,
        |         CAST(len(toks) AS BIGINT) AS tok_cnt
        |  FROM samp),
        |cum AS (
        |  SELECT *, sum(tok_cnt) OVER (PARTITION BY shard ORDER BY doc_id
        |                               ROWS UNBOUNDED PRECEDING) AS c
        |  FROM cnt)
        |SELECT doc_id, shard, tok_cnt,
        |       CAST((c - tok_cnt) // 2048 AS BIGINT) AS seq_id,
        |       CAST((c - tok_cnt) % 2048 AS BIGINT) AS offset_in,
        |       lang
        |FROM cum ORDER BY doc_id""".stripMargin)),

    Query("q_sample_weighted", (s, dir) => {
      // Reproducible domain mixing: per-language sampling weights,
      // hash-threshold draw (no RNG state, same verdict every run);
      // zh has no weight listed → dropped entirely.
      graft.ops.Corpus.weightedSample(Tables.documents(s, dir),
          "lang", Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.1))
        .select(col("doc_id"), col("lang"), col("u_r"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
        |           / 4294967296.0 AS u,
        |         CAST(CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5
        |                        WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.1
        |                        ELSE 0.0 END AS DOUBLE) AS w
        |  FROM documents)
        |SELECT doc_id, lang, round(u, 6) AS u_r
        |FROM d WHERE u < w ORDER BY doc_id""".stripMargin)),

    Query("q_chunk_docs", (s, dir) => {
      Corpus.chunkDocs(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          chunkSize = 200, overlap = 50)
        .select(col("doc_id"), col("chunk_id"), col("off"), col("chunk_len"),
          substring(col("chunk"), 1, 16).as("chunk_head"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, Sql(
      """SELECT doc_id,
        |       CAST((off - 1) // 150 AS BIGINT) AS chunk_id,
        |       CAST(off AS BIGINT) AS off,
        |       CAST(length(substr(text, off, 200)) AS BIGINT) AS chunk_len,
        |       substr(substr(text, off, 200), 1, 16) AS chunk_head
        |FROM documents,
        |     unnest(generate_series(1, greatest(length(text) - 50, 1), 150)) AS u(off)
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    Query("q_domain_cap", (s, dir) => {
      // balance the corpus: top-100 docs per source by the same
      // quality score q_quality_score checks, deterministic tiebreak
      val q = Text.qualityScore(Tables.documents(s, dir), Seq("the", "a"))
        .select(col("doc_id"), col("quality"))
      val withSrc = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .join(q, Seq("doc_id"))
      Corpus.domainCap(withSrc, "source", "quality", cap = 100)
        .select(col("doc_id"), col("source"), col("quality"), col("rnk"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source,
        |         round(least(len(toks) / 100.0, 1.0) *
        |               (1.0 - len(list_filter(toks, x -> x = 'the' OR x = 'a')) / len(toks)),
        |               4) AS quality
        |  FROM t),
        |r AS (
        |  SELECT doc_id, source, quality,
        |         CAST(row_number() OVER (PARTITION BY source
        |                                 ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS rnk
        |  FROM q)
        |SELECT doc_id, source, quality, rnk FROM r
        |WHERE rnk <= 100 ORDER BY doc_id""".stripMargin)),

    Query("q_split", (s, dir) => {
      // 90/5/5 deterministic split; emit the per-split counts per lang
      // so the oracle checks both assignment AND stratum proportions
      Corpus.assignSplit(
          Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          Seq(("train", 0.9), ("val", 0.95), ("test", 1.0)))
        .select(col("doc_id"), col("lang"), col("split"), col("u_r"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
        |           / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id, lang,
        |       CASE WHEN u < 0.9 THEN 'train'
        |            WHEN u < 0.95 THEN 'val'
        |            ELSE 'test' END AS split,
        |       round(u, 6) AS u_r
        |FROM d ORDER BY doc_id""".stripMargin)),

    Query("q_stratified_n", (s, dir) => {
      // exact-40-per-lang unbiased sample (hash-rank) — the fixed-size
      // eval-set draw; contrast q_sample_weighted (expected-size coin
      // flips) and q_domain_cap (quality-biased quota)
      Corpus.stratifiedSampleN(
          Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          "lang", n = 40)
        .select(col("doc_id"), col("lang"), col("rnk"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH r AS (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |                                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |              AS BIGINT) AS rnk
        |  FROM documents)
        |SELECT doc_id, lang, rnk FROM r WHERE rnk <= 40 ORDER BY doc_id""".stripMargin)),

    Query("q_length_band", (s, dir) => {
      Corpus.lengthBand(Tables.documents(s, dir), "lang", "n_chars", 0.05, 0.95)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("len_pr"), col("keep"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |         round(percent_rank() OVER (
        |           PARTITION BY lang ORDER BY n_chars, doc_id), 6) AS len_pr
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, len_pr,
        |       (len_pr >= 0.05 AND len_pr <= 0.95) AS keep
        |FROM d ORDER BY doc_id""".stripMargin)),

    Query("q_boilerplate", (s, dir) => {
      // plant a shared 5-token banner on even docs so the detector has
      // real chrome to find (the corpus itself is near-collision-free)
      val withBanner = Tables.documents(s, dir)
        .withColumn("text",
          when(col("doc_id") % 2 === 0,
            concat(lit("cookie banner terms apply here "), col("text")))
            .otherwise(col("text")))
      Corpus.boilerplate(withBanner, segLen = 5, minDocs = 2)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH c AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0
        |              THEN 'cookie banner terms apply here ' || text
        |              ELSE text END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM c),
        |s AS (
        |  SELECT doc_id,
        |         hash(array_to_string(list_slice(toks, i * 5 + 1, i * 5 + 5), ' ')) AS seg
        |  FROM t, unnest(generate_series(0, CAST(len(toks) // 5 AS INT) - 1)) AS u(i)
        |  WHERE len(toks) >= 5),
        |df AS (SELECT seg, count(DISTINCT doc_id) AS n_docs FROM s GROUP BY 1)
        |SELECT doc_id, count(*) AS n_segs,
        |       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |       round(avg(CASE WHEN n_docs >= 2 THEN 1.0 ELSE 0.0 END), 4) AS boiler_frac_r
        |FROM s JOIN df USING (seg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Query("q_mix_temperature", (s, dir) => {
      Corpus.temperatureWeights(Tables.documents(s, dir), "source", 0.5)
        .orderBy(col("source"))
    }, Sql(
      """WITH per AS (
        |  SELECT source,
        |         count(*) AS n_docs,
        |         CAST(sum(len(list_filter(string_split(text, ' '), t -> t != ''))) AS BIGINT)
        |           AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot_tokens,
        |         sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS tot_pow
        |  FROM per)
        |SELECT source, n_docs, n_tokens,
        |       round(n_tokens / tot_tokens, 6) AS raw_share_r,
        |       round(pow(CAST(n_tokens AS DOUBLE), 0.5) / tot_pow, 6) AS temp_weight_r,
        |       round(pow(CAST(n_tokens AS DOUBLE), 0.5) / tot_pow
        |             * tot_tokens / n_tokens, 4) AS epochs_r
        |FROM per, tot ORDER BY source""".stripMargin)),

    Query("q_quality_norm", (s, dir) => {
      Corpus.percentileNormalize(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("pr_r"), col("above_median"), col("grp_median_r"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH med AS (
        |  SELECT source, quantile_cont(n_chars, 0.5) AS m
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars,
        |       round(percent_rank() OVER (PARTITION BY d.source ORDER BY d.n_chars), 6)
        |         AS pr_r,
        |       CAST(CASE WHEN d.n_chars >= med.m THEN 1 ELSE 0 END AS BIGINT)
        |         AS above_median,
        |       round(med.m, 4) AS grp_median_r
        |FROM documents d JOIN med USING (source)
        |ORDER BY d.doc_id""".stripMargin)),

    Query("q_length_buckets", (s, dir) => {
      Corpus.lengthBuckets(Tables.documents(s, dir), 8,
          knownSize = Some(tableCountLocal(s, dir, "documents")))
        .orderBy(col("bucket"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
        |           AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tok,
        |         CAST(ntile(8) OVER (ORDER BY n_tok, doc_id) AS BIGINT) AS bucket
        |  FROM t)
        |SELECT bucket, count(*) AS n_docs,
        |       min(n_tok) AS min_tok, max(n_tok) AS max_tok,
        |       round(avg(n_tok), 4) AS avg_tok_r,
        |       round(1.0 - round(avg(n_tok), 4) / max(n_tok), 4) AS pad_waste_r
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    Query("q_interleave", (s, dir) => {
      Corpus.interleaveOrder(Tables.documents(s, dir), "source", 100)
    }, Sql(
      """WITH r AS (
        |  SELECT doc_id, source,
        |         CAST(row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk
        |  FROM documents)
        |SELECT doc_id, source, rnk FROM r
        |ORDER BY rnk, source, doc_id LIMIT 100""".stripMargin)),

    Query("q_reservoir", (s, dir) => {
      Corpus.reservoirSample(
          Tables.documents(s, dir).select(col("doc_id"), col("source")), 100)
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 100 ORDER BY doc_id""".stripMargin)),

    Query("q_ppl_buckets", (s, dir) => {
      Corpus.perplexityBuckets(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != ''))
        |    AS token
        |  FROM documents),
        |tf AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS total FROM tf),
        |scored AS (
        |  SELECT t.doc_id, count(*) AS n_toks,
        |         round(avg(ln(tf.freq / tot.total)), 4) AS logprob
        |  FROM tok t JOIN tf USING (token), tot
        |  GROUP BY t.doc_id),
        |b AS (
        |  SELECT s.doc_id, d.source, s.n_toks, s.logprob,
        |         ntile(3) OVER (PARTITION BY d.source
        |           ORDER BY s.logprob DESC, s.doc_id) AS b
        |  FROM scored s JOIN documents d USING (doc_id))
        |SELECT doc_id, source, n_toks, logprob,
        |       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |              ELSE 'tail' END AS bucket
        |FROM b ORDER BY doc_id""".stripMargin)),

    Query("q_quality_classifier", (s, dir) => {
      // trained quality gate (Text.qualityScoreFrom): logistic
      // regression over length-normalized hashed-BoW features, trained
      // driver-locally on a bounded per-class sample of the planted
      // clean/spam corpus, scored map-side with the weights as column
      // literals — the GPT-3/CCNet classifier-filter shape. The oracle
      // re-runs the IDENTICAL deterministic training at Verify time
      // and recomputes the whole score path from the pinned weights
      // (the q_sim_lsh trick); classifier QUALITY is separately pinned
      // by QualityClassifierSpec's precision/recall bounds. The model
      // loads from the corpus-versioned store (EntrySupport
      // .qualityModel — the shipped-artifact shape); scoring is the
      // whole query: one feature aggregate + one doc-keyed fold.
      val (w, b) = qualityModel(s, dir)
      Text.qualityScoreFrom(
          Text.qualityCorpus(Tables.documents(s, dir)), 256, w, b)
        .orderBy(col("doc_id"))
    }, Pinned(m =>
      Text.qualityClassifierOracleSql(256, m.qualityLr._1, m.qualityLr._2)),
      modelStore = true),

    Query("q_web_corpus_index_delta", (s, dir) => {
      // the index WRITE-BACK half of the nightly cycle — what keeps
      // q_web_corpus_store's standing indexes true between runs:
      // the canonicals newly claimed by batch gate-survivors and the
      // text hashes of batch canonical-stage survivors, each
      // left-anti'd against the standing index (append-ready deltas;
      // Corpus.webCorpusIndexDelta — batch-bounded, all probes
      // broadcast). The ORACLE recomputes (union indexes) MINUS
      // (standing indexes) from first principles, so a hash match
      // proves append-maintenance ≡ full rebuild.
      val (canonIdx, textIdx) = wcIndexes(s, dir)
      Corpus.webCorpusIndexDelta(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 3, freshMod = 0))
        .orderBy(col("kind"), col("key"))
    }, Sql(
      // the index write-back half of the nightly cycle: the oracle
      // states (from-scratch union indexes) MINUS (from-scratch standing
      // indexes) from first principles — a hash match proves the
      // engine's append deltas ≡ a full rebuild's additions
      webCorpusIndexDeltaOracle(copyMod = 3, freshMod = 0))),

    Query("q_dsir_weights", (s, dir) => {
      // DSIR importance weights: per-doc log-likelihood
      // ratio of hashed uni+bigram counts under the English-target
      // bucket distribution vs the raw corpus — the data-selection
      // scorer of Xie et al. NeurIPS 2023 (Text.dsirWeights scaladoc
      // has the corpus-linear scale contract)
      Text.dsirWeights(Tables.documents(s, dir), col("lang") === "en", buckets = 256)
        .orderBy(col("doc_id"))
    }, Sql(
      // DSIR importance weights: hashed uni+bigram log-likelihood ratio
      // of the en-target bucket distribution vs the raw corpus, add-1
      // smoothed over 256 md5 buckets; per-bucket ratio quantized to
      // integer micro-nats BEFORE the per-doc sum (exact long
      // arithmetic — order-independent). Deliberately NOT rounded at the
      // end: logw_r = u6/1e6 is one IEEE division of identical exact
      // integers (bit-identical across engines), while a 4dp round
      // re-opens the boundary (Spark rounds the shortest-decimal repr,
      // DuckDB the exact binary value — a …50-micro sum splits them).
      s"""$dsirDocCte
        |SELECT h.doc_id, h.lang, count(*) AS n_grams,
        |       sum(lr.loglr_u6) / 1e6 AS logw_r
        |FROM h JOIN lr USING (bucket)
        |GROUP BY h.doc_id, h.lang
        |ORDER BY doc_id""".stripMargin)),

    Query("q_html_extract", (s, dir) => {
      // HTML text extraction (Corpus.htmlExtract scaladoc): each doc
      // wrapped in constructed markup — title/style/script + a nav on
      // every page, a 40-anchor link farm on doc_id % 7 == 3 (planted
      // chrome the density gate must catch), an UNCLOSED <script> on
      // doc_id % 13 == 0 (planted malformation the quarantine must
      // catch), and an entity-laden lead paragraph (decode proof in
      // head_50). The construction is mirrored in the oracle; the
      // shared farm literal lives in EntrySupport.htmlLinkFarm.
      val page = Tables.documents(s, dir)
        .select(col("doc_id"), concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title><style>p { margin: 0; }</style></head><body>"),
          lit("<nav><a href=\"/\">home</a> <a href=\"/about\">about</a>" +
            " <a href=\"/contact\">contact</a></nav>"),
          when(col("doc_id") % 13 === 0, lit("<script>var broken = trackers["))
            .otherwise(concat(lit("<script>track("),
              col("doc_id").cast("string"), lit(");</script>"))),
          when(col("doc_id") % 7 === 3, lit(htmlLinkFarm)).otherwise(lit("")),
          lit("<p>R&amp;D says x &lt; y &amp;&amp; y &gt; 0" +
            " &quot;q&quot;&nbsp;end</p><p>"),
          col("text"), lit("</p></body></html>")).as("html"))
      Corpus.htmlExtract(page, linkDensityPct = 30)
        .orderBy(col("doc_id"))
    }, Sql(
      // HTML extraction: the oracle rebuilds the SAME constructed page
      // (shared farm literal interpolated from EntrySupport.htmlLinkFarm)
      // and restates every extraction step — script/style strip, anchor
      // stats, tag strip, entity decode (&amp; LAST), whitespace
      // normalize, integer-compared chrome gate, quarantine on the
      // unbalanced <script> count. link_density is the same unrounded
      // long/long IEEE division as the engine's (see Corpus.htmlExtract).
      s"""WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style>p { margin: 0; }</style></head><body>' ||
        |    '<nav><a href="/">home</a> <a href="/about">about</a>' ||
        |    ' <a href="/contact">contact</a></nav>' ||
        |    CASE WHEN doc_id % 13 = 0 THEN '<script>var broken = trackers['
        |         ELSE '<script>track(' || CAST(doc_id AS VARCHAR) ||
        |              ');</script>' END ||
        |    CASE WHEN doc_id % 7 = 3 THEN '${EntrySupport.htmlLinkFarm}'
        |         ELSE '' END ||
        |    '<p>R&amp;D says x &lt; y &amp;&amp; y &gt; 0' ||
        |    ' &quot;q&quot;&nbsp;end</p><p>' || text || '</p></body></html>'
        |      AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, html,
        |         len(regexp_extract_all(html, '<script')) <>
        |         len(regexp_extract_all(html, '</script>')) AS bad
        |  FROM page),
        |s AS (
        |  SELECT doc_id, bad,
        |         regexp_replace(
        |           regexp_replace(html, '(?s)<script[^>]*>.*?</script>',
        |                          ' ', 'g'),
        |           '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS nos
        |  FROM x),
        |a AS (
        |  SELECT doc_id, bad,
        |         regexp_extract_all(nos, '(?s)<a[^>]*>(.*?)</a>', 1) AS anch,
        |         trim(regexp_replace(
        |           replace(replace(replace(replace(replace(
        |             regexp_replace(nos, '<[^>]*>', ' ', 'g'),
        |             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |             '&nbsp;', ' '), '&amp;', '&'),
        |           '\\s+', ' ', 'g')) AS txt
        |  FROM s),
        |c AS (
        |  SELECT doc_id, bad, txt,
        |         CAST(len(anch) AS BIGINT) AS n_links,
        |         CAST(coalesce(list_sum(list_transform(anch, t -> len(t))), 0)
        |              AS BIGINT) AS link_chars,
        |         CAST(len(txt) AS BIGINT) AS n_chars
        |  FROM a)
        |SELECT doc_id,
        |       CASE WHEN bad THEN 'quarantined'
        |            WHEN link_chars * 100 > n_chars * 30 THEN 'chrome'
        |            ELSE 'ok' END AS status,
        |       CASE WHEN bad THEN NULL ELSE n_links END AS n_links,
        |       CASE WHEN bad THEN NULL ELSE link_chars END AS link_chars,
        |       CASE WHEN bad THEN NULL ELSE n_chars END AS n_chars,
        |       CASE WHEN bad OR n_chars = 0 THEN NULL
        |            ELSE CAST(link_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
        |       END AS link_density,
        |       CASE WHEN bad THEN NULL WHEN txt = '' THEN 0
        |            ELSE CAST(len(string_split(txt, ' ')) AS BIGINT)
        |       END AS n_toks,
        |       CASE WHEN bad THEN NULL ELSE substr(txt, 1, 50) END AS head_50
        |FROM c ORDER BY doc_id""".stripMargin)),

    Query("q_html_meta", (s, dir) => {
      // HEAD-metadata gate (Corpus.htmlMeta scaladoc): constructed
      // pages plant a robots directive on doc_id % 5 ∈ {0 (noindex,
      // nofollow), 1 (index, follow)}, a canonical link collapsing
      // every doc_id % 3 == 0 page onto its doc_id/9 target (group
      // sizes the dedup would act on), and a title on all pages; the
      // oracle mirrors the construction
      val page = Tables.documents(s, dir)
        .select(col("doc_id"), concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title>"),
          when(col("doc_id") % 5 === 0,
            lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
            .when(col("doc_id") % 5 === 1,
              lit("<meta name=\"robots\" content=\"index, follow\">"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("<link rel=\"canonical\" href=\"https://example.com/c/"),
              expr("doc_id div 9").cast("string"), lit("\">")))
            .otherwise(lit("")),
          lit("</head><body><p>"), col("text"),
          lit("</p></body></html>")).as("html"))
      Corpus.htmlMeta(page).orderBy(col("doc_id"))
    }, Sql(
      // HEAD-metadata gate: same constructed pages, regexp extraction of
      // title / canonical / robots restated, canonical-group sizes via
      // one aggregate — exact integer arithmetic only
      """WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title>' ||
        |    CASE WHEN doc_id % 5 = 0
        |           THEN '<meta name="robots" content="noindex, nofollow">'
        |         WHEN doc_id % 5 = 1
        |           THEN '<meta name="robots" content="index, follow">'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0
        |           THEN '<link rel="canonical" href="https://example.com/c/'
        |                || CAST(doc_id // 9 AS VARCHAR) || '">'
        |         ELSE '' END ||
        |    '</head><body><p>' || text || '</p></body></html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id,
        |         nullif(regexp_extract(html, '(?s)<title>(.*?)</title>', 1),
        |                '') AS title,
        |         nullif(regexp_extract(html,
        |                  '<link rel="canonical" href="([^"]*)"', 1),
        |                '') AS canonical,
        |         regexp_extract(html,
        |                  '<meta name="robots" content="([^"]*)"', 1) AS robots
        |  FROM page),
        |f AS (
        |  SELECT doc_id, title, canonical,
        |         CAST(CASE WHEN robots LIKE '%noindex%' THEN 1 ELSE 0 END
        |              AS BIGINT) AS noindex,
        |         CAST(CASE WHEN robots LIKE '%nofollow%' THEN 1 ELSE 0 END
        |              AS BIGINT) AS nofollow
        |  FROM x),
        |g AS (
        |  SELECT canonical, CAST(count(*) AS BIGINT) AS n_same_canonical
        |  FROM f WHERE canonical IS NOT NULL GROUP BY 1)
        |SELECT f.doc_id, f.title, f.canonical, f.noindex, f.nofollow,
        |       CASE WHEN f.noindex = 1 THEN 'drop' ELSE 'index' END AS verdict,
        |       coalesce(g.n_same_canonical, 1) AS n_same_canonical
        |FROM f LEFT JOIN g USING (canonical)
        |ORDER BY f.doc_id""".stripMargin)),

    Query("q_crawl_pipeline", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the COMPOSED crawl front door (the q_dedup_pipeline pattern,
      // applied to ingest): one page construction carrying BOTH
      // content hazards (unclosed script on %13, link farm on %7==3,
      // entity lead) and head metadata (robots on %5, canonical groups
      // on %3 → div 9), then meta gate (drop noindex) → content gate
      // (drop quarantined/chrome) → publisher-hint dedup (min doc_id
      // per canonical among SURVIVORS keeps; docs without a canonical
      // keep themselves). Per-doc verdict row — every drop reason
      // visible, nothing silently vanishes.
      val page = Tables.documents(s, dir)
        .select(col("doc_id"), concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title>"),
          when(col("doc_id") % 5 === 0,
            lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("<link rel=\"canonical\" href=\"https://example.com/c/"),
              expr("doc_id div 9").cast("string"), lit("\">")))
            .otherwise(lit("")),
          lit("<style>p { margin: 0; }</style></head><body>"),
          when(col("doc_id") % 13 === 0, lit("<script>var broken = trackers["))
            .otherwise(lit("<script>track();</script>")),
          when(col("doc_id") % 7 === 3, lit(htmlLinkFarm)).otherwise(lit("")),
          lit("<p>R&amp;D says x &lt; y</p><p>"), col("text"),
          lit("</p></body></html>")).as("html"))
      // ONE fused projection (Corpus.crawlGate) computes both the
      // content chain and the head fields — the two-chain + doc_id
      // self-join form paid a second full pass over the page bytes.
      val gated = Corpus.crawlGate(page, linkDensityPct = 30)
        .withColumn("passes",
          (col("status") === "ok" && col("verdict") === "index").cast("long"))
      // keeper rank only among gate-survivors WITH a canonical; docs
      // without a canonical are their own keeper (NULL must not form
      // one giant group — the canonicalUrlDedup malformed-row rule).
      // A SYNTHETIC partition key keeps every row in one frame — no
      // filter + join-back: eligible rows group by canonical, everyone
      // else is a singleton, so rn = 1 means "keeper or own-keeper"
      val pkey = when(col("passes") === 1L && col("canonical").isNotNull,
          concat(lit("c:"), col("canonical")))
        .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(pkey).orderBy(col("doc_id"))
      gated
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("status"), col("verdict"),
          when(col("passes") === 0L, lit(0L))
            .when(col("rn") === 1, lit(1L)).otherwise(lit(0L)).as("kept"),
          col("n_toks"))
        .orderBy(col("doc_id"))
    }, Sql(
      // the composed crawl front door: one superset page construction,
      // the extraction chain (script/style strip, tag strip, density
      // gate, quarantine) + the metadata chain (robots, canonical) +
      // the canonical-keeper window over gate-survivors
      "WITH page AS (" + wcStandingPageSql + ")," + crawlGateCtes + """,
        |r AS (
        |  SELECT doc_id,
        |         CASE WHEN row_number() OVER (PARTITION BY canonical
        |                ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS is_keeper
        |  FROM p WHERE passes = 1 AND canonical IS NOT NULL)
        |SELECT p.doc_id, p.status, p.verdict,
        |       CAST(CASE WHEN p.passes = 0 THEN 0
        |                 ELSE coalesce(r.is_keeper, 1) END AS BIGINT) AS kept,
        |       p.n_toks
        |FROM p LEFT JOIN r USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin)),

    Query("q_web_corpus", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the END-TO-END web-corpus capstone — "one engine, crawl to
      // training shards" as ONE declared plan: the q_crawl_pipeline
      // page construction runs through the fused front door
      // (Corpus.crawlGate with keepText — meta gate, content gate,
      // extraction) then straight into the corpus build (canonical
      // dedup → exact text dedup → Gopher quality gate → sequence
      // packing), with a per-doc STAGE verdict so every drop reason is
      // visible and the survivor counts reconcile stage by stage.
      // Shape: scan → one fused projection → three synthetic-key
      // windows (keeper, text-dup, per-shard pack) — dead rows ride
      // as singleton partitions instead of filter + join-back, so the
      // whole capstone is one exchange chain, no self-joins, map-side
      // everything else; bounded by q_crawl_pipeline + q_corpus_
      // pipeline's parts. Planted pages (clean markup, no head
      // hazards — ids +1M/+2M/+3M off every doc_id % 50 == 1 doc)
      // force the two stages the organic corpus never reaches: a
      // same-text page pair (text_dup fires on the later ids) and a
      // two-word page (low_quality fires on the Gopher word floor).
      val docs = Tables.documents(s, dir)
      // title text survives tag strip, so the dup PAIR must share one
      // title (keyed to the seed doc, not the planted id) for its
      // extracted texts to collide
      def cleanPage(title: Column, body: Column): Column = concat(
        lit("<html><head><title>"), title,
        lit("</title></head><body><script>track();</script><p>"),
        body, lit("</p></body></html>"))
      val seed = docs.filter(col("doc_id") % 50 === 1)
      val dupTitle = concat(lit("dup "), col("doc_id").cast("string"))
      val dupBody = concat(lit("R&amp;D says x &lt; y</p><p>"), col("text"))
      val planted =
        seed.select((col("doc_id") + 1000000L).as("doc_id"),
            cleanPage(dupTitle, dupBody).as("html"))
          .unionByName(seed.select((col("doc_id") + 2000000L).as("doc_id"),
            cleanPage(dupTitle, dupBody).as("html")))
          .unionByName(seed.select((col("doc_id") + 3000000L).as("doc_id"),
            cleanPage(dupTitle, lit("low quality")).as("html")))
      val page = docs
        .select(col("doc_id"), concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title>"),
          when(col("doc_id") % 5 === 0,
            lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("<link rel=\"canonical\" href=\"https://example.com/c/"),
              expr("doc_id div 9").cast("string"), lit("\">")))
            .otherwise(lit("")),
          lit("<style>p { margin: 0; }</style></head><body>"),
          when(col("doc_id") % 13 === 0, lit("<script>var broken = trackers["))
            .otherwise(lit("<script>track();</script>")),
          when(col("doc_id") % 7 === 3, lit(htmlLinkFarm)).otherwise(lit("")),
          lit("<p>R&amp;D says x &lt; y</p><p>"), col("text"),
          lit("</p></body></html>")).as("html"))
        .unionByName(planted)
      val g = Corpus.crawlGate(page, linkDensityPct = 30, keepText = true)
        .withColumn("passes",
          (col("status") === "ok" && col("verdict") === "index").cast("long"))
      // stage 1: publisher-hint (canonical) dedup among gate survivors
      val k1 = when(col("passes") === 1L && col("canonical").isNotNull,
          concat(lit("c:"), col("canonical")))
        .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
      val r1 = g
        .withColumn("rn1",
          row_number().over(Window.partitionBy(k1).orderBy(col("doc_id"))))
        .withColumn("alive1", col("passes") === 1L && col("rn1") === 1)
      // stage 2: exact text dedup (extracted text, not raw html —
      // mirror pages differing only in chrome still collapse)
      val k2 = when(col("alive1"), concat(lit("t:"), col("text")))
        .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
      val r2 = r1
        .withColumn("rn2",
          row_number().over(Window.partitionBy(k2).orderBy(col("doc_id"))))
        .withColumn("alive2", col("alive1") && col("rn2") === 1)
      // stage 3: Gopher gate on the extracted text (map-side; the
      // kernel is null-safe, so dead rows' NULL text just rides along)
      val r3 = Corpus.withGopher(r2)
        .withColumn("alive3",
          col("alive2") && coalesce(col("gopher_ok"), lit(0L)) === 1L)
      // stage 4: sequence packing over survivors (per-shard running
      // sum; dead rows are singleton partitions contributing 0)
      val k3 = when(col("alive3"),
          concat(lit("s:"), expr("doc_id div 64").cast("string")))
        .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
      val wPack = Window.partitionBy(k3).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      r3
        .withColumn("cum",
          sum(when(col("alive3"), col("n_toks")).otherwise(lit(0L))).over(wPack))
        .select(
          col("doc_id"),
          when(col("status") === "quarantined", lit("quarantined"))
            .when(col("status") === "chrome", lit("chrome"))
            .when(col("verdict") === "drop", lit("noindex"))
            .when(col("rn1") =!= 1, lit("canonical_dup"))
            .when(col("rn2") =!= 1, lit("text_dup"))
            .when(coalesce(col("gopher_ok"), lit(0L)) =!= 1L, lit("low_quality"))
            .otherwise(lit("kept")).as("stage"),
          when(col("alive3"), col("n_toks")).as("tok_cnt"),
          when(col("alive3"), expr("doc_id div 64")).as("shard"),
          when(col("alive3"),
            ((col("cum") - col("n_toks")) / 2048).cast("long")).as("seq_id"),
          when(col("alive3"), (col("cum") - col("n_toks")) % 2048).as("offset_in"))
        .orderBy(col("doc_id"))
    }, Sql(
      // the end-to-end web-corpus capstone: the q_crawl_pipeline CTEs
      // (page construction + both extraction chains) extended by the
      // corpus build — synthetic-key canonical keeper, exact-text dedup,
      // the Gopher gate (q_corpus_pipeline's exact expressions), and the
      // per-shard packing running sum; per-doc stage verdict restated
      "WITH page AS (" + wcStandingPageSql + """
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    '<html><head><title>dup ' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body><script>track();</script><p>' ||
        |    'R&amp;D says x &lt; y</p><p>' || text || '</p></body></html>'
        |  FROM documents WHERE doc_id % 50 = 1
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    '<html><head><title>dup ' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body><script>track();</script><p>' ||
        |    'R&amp;D says x &lt; y</p><p>' || text || '</p></body></html>'
        |  FROM documents WHERE doc_id % 50 = 1
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    '<html><head><title>dup ' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body><script>track();</script><p>' ||
        |    'low quality</p></body></html>'
        |  FROM documents WHERE doc_id % 50 = 1),""".stripMargin +
        webCorpusGateCtes + "," + webCorpusStageCtes + """,
        |cm AS (
        |  SELECT *, sum(CASE WHEN alive3 THEN n_toks ELSE 0 END) OVER (
        |      PARTITION BY CASE WHEN alive3
        |                        THEN 's:' || CAST(doc_id // 64 AS VARCHAR)
        |                        ELSE 'd:' || CAST(doc_id AS VARCHAR) END
        |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM a3)
        |SELECT doc_id,
        |       CASE WHEN status = 'quarantined' THEN 'quarantined'
        |            WHEN status = 'chrome' THEN 'chrome'
        |            WHEN verdict = 'drop' THEN 'noindex'
        |            WHEN rn1 <> 1 THEN 'canonical_dup'
        |            WHEN rn2 <> 1 THEN 'text_dup'
        |            WHEN coalesce(gopher_ok, 0) <> 1 THEN 'low_quality'
        |            ELSE 'kept' END AS stage,
        |       CAST(CASE WHEN alive3 THEN n_toks END AS BIGINT) AS tok_cnt,
        |       CAST(CASE WHEN alive3 THEN doc_id // 64 END AS BIGINT) AS shard,
        |       CAST(CASE WHEN alive3 THEN (cum - n_toks) // 2048 END AS BIGINT)
        |         AS seq_id,
        |       CAST(CASE WHEN alive3 THEN (cum - n_toks) % 2048 END AS BIGINT)
        |         AS offset_in
        |FROM cm ORDER BY doc_id""".stripMargin)),

    Query("q_web_corpus_incremental", (s, dir) => {
      // the capstone's DEPLOYMENT shape: a standing corpus already
      // ingested, a batch arrives, and only the BATCH shuffles
      // (Corpus.webCorpusIncrement — canonical/text probes against
      // standing indexes instead of a union re-run). Batch plants all
      // three duplicate classes: impersonating copies of standing
      // pages (+5M — canonical_dup or text_dup where the standing
      // original survived, kept where it didn't), fresh pages (+6M),
      // and an in-batch same-text pair (+7M). The ORACLE runs the
      // union capstone restricted to batch ids, so a hash match IS
      // the increment ≡ union law verified cross-engine.
      Corpus.webCorpusIncrement(wcStandingPages(s, dir),
          wcBatchPages(s, dir, copyMod = 1, freshMod = 2))
        .orderBy(col("doc_id"))
    }, Sql(
      // incremental web-corpus ingest: the ORACLE is the union capstone
      // restricted to batch ids — a hash match verifies the
      // increment ≡ union-rerun law cross-engine (standing ids all
      // below batch ids, so standing docs win every canonical/text race)
      webCorpusIncOracle(copyMod = 1, freshMod = 2))),

    Query("q_web_corpus_store", (s, dir) => {
      // the STORE-FED incremental capstone: the standing corpus never appears in the plan;
      // the two skinny indexes (claimed canonicals, alive text hashes)
      // were MATERIALIZED once per corpus version at prepare time
      // (EntrySupport.wcIndexes) and broadcast into the batch probe,
      // so the run cost is batch-proportional by construction
      // (Corpus.webCorpusIncrementFrom). Batch plants the same three
      // duplicate classes as q_web_corpus_incremental on DIFFERENT mod
      // classes; the oracle is the same union-rerun law (it rebuilds
      // the indexes from the standing corpus in SQL — a hash match
      // therefore also proves the store round-trip lost nothing).
      val (canonIdx, textIdx) = wcIndexes(s, dir)
      Corpus.webCorpusIncrementFrom(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 3, freshMod = 0))
        .orderBy(col("doc_id"))
    }, Sql(
      // the store-fed form probes MATERIALIZED indexes; the oracle
      // re-derives them from the standing corpus inside the same
      // union-rerun law, so a hash match additionally proves the
      // parquet round-trip of the two indexes lost nothing
      webCorpusIncOracle(copyMod = 3, freshMod = 0))),

    Query("q_web_corpus_store_bucketed", (s, dir) => {
      // the BROADCAST-BUDGET form of the store-fed capstone: at 100 TB the canonical/text-hash indexes are
      // corpus-cardinality and cannot broadcast, so the standing store
      // is PRE-BUCKETED on its key at prepare (EntrySupport
      // .wcIndexesBucketed) and each probe is a sort-merge join whose
      // standing side reads its bucket files with zero exchanges;
      // only the batch rows that can match shuffle, NULL-keyed rows
      // union around the join (Corpus.webCorpusIncrementFromBucketed).
      // Distinct mod classes keep the output distinct from the
      // broadcast twin; the oracle is the SAME union-rerun template —
      // a hash match proves the physical probe swap changed nothing.
      // BucketedIndexProbeSpec pins the plan shape (standing side
      // exchange-free) and bucketed ≡ broadcast row-for-row.
      val (canonIdx, textIdx) = wcIndexesBucketed(s, dir)
      Corpus.webCorpusIncrementFromBucketed(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 2, freshMod = 1))
        .orderBy(col("doc_id"))
    }, Sql(
      // the bucketed-store twins: SAME oracle templates on
      // their own mod classes — the physical probe (pre-bucketed
      // sort-merge vs broadcast) must be invisible to the verdicts and
      // deltas, and a hash match proves exactly that cross-engine
      webCorpusIncOracle(copyMod = 2, freshMod = 1))),

    Query("q_web_corpus_index_delta_bucketed", (s, dir) => {
      // the write-back half under the same broadcast-budget regime:
      // candidate keys distinct once (batch-bounded), then per-kind
      // LEFT-ANTI sort-merge joins against each bucketed standing
      // index directly — a keyed union of the two stores would destroy
      // their bucketing, so the split rides the REUSED distinct
      // exchange and the extraction still runs once
      // (Corpus.webCorpusIndexDeltaBucketed). Same rebuild-equivalence
      // oracle as the broadcast twin on its own mod classes.
      val (canonIdx, textIdx) = wcIndexesBucketed(s, dir)
      Corpus.webCorpusIndexDeltaBucketed(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 2, freshMod = 1))
        .orderBy(col("kind"), col("key"))
    }, Sql(
      webCorpusIndexDeltaOracle(copyMod = 2, freshMod = 1))),

    Query("q_nightly_cycle", (s, dir) => {
      // the COMPOSED nightly cycle: verdicts AND
      // index write-back from ONE linear plan over the SAME store +
      // batch as q_web_corpus_store / q_web_corpus_index_delta — each
      // page pays the regex-heavy extraction once and emits its
      // verdict struct plus its ≤2 candidate keys through one
      // array-explode; candidate dedup rides the pipeline's own race
      // ranks (rn1/rn2 === 1 guards retired the post-explode
      // dedup window and its exchange),
      // and the standing anti check is FREE — candidates filter at
      // emission via the probe flags the verdict pipeline already
      // carries (Corpus.webCorpusNightlyCycle). The oracle restates BOTH
      // halves over one shared CTE chain, so a hash match proves the
      // composition emits exactly what the two standalone runs would.
      val (canonIdx, textIdx) = wcIndexes(s, dir)
      Corpus.webCorpusNightlyCycle(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 3, freshMod = 0))
        .orderBy(col("part"), col("doc_id"), col("kind"), col("key"))
    }, Sql(
      // the composed cycle: both halves' laws in one SQL
      // over the shared CTE chain — the verdict subselect is
      // q_web_corpus_store's verbatim, the delta subselect is
      // q_web_corpus_index_delta's verbatim
      webCorpusNightlyCycleOracle(copyMod = 3, freshMod = 0))),

    Query("q_nightly_cycle_bucketed", (s, dir) => {
      // the composed cycle AT BROADCAST-BREAKING SCALE: the same
      // one-pass verdicts + write-back over the PRE-BUCKETED standing
      // indexes — the two semi-join-reduction probes swap in and
      // nothing else changes, because the composition's anti check
      // was already the probe flags (Corpus.webCorpusNightlyCycleBucketed).
      // Same oracle template as q_nightly_cycle on the bucketed
      // twins' mod classes — the full nightly deployment story in one
      // declared run: no broadcast at index size anywhere in the plan.
      val (canonIdx, textIdx) = wcIndexesBucketed(s, dir)
      Corpus.webCorpusNightlyCycleBucketed(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 2, freshMod = 1))
        .orderBy(col("part"), col("doc_id"), col("kind"), col("key"))
    }, Sql(
      // the bucketed composition: same template on the bucketed twins'
      // mod classes — the probe swap must be invisible to both halves
      webCorpusNightlyCycleOracle(copyMod = 2, freshMod = 1))),

    Query("q_corpus_index_retention", (s, dir) => {
      // retention / GC of the standing index store: the planted corpus arrives as four daily waves (day =
      // doc_id % 4 + 1), each wave appends its RANK-FREE claims
      // (re-crawls re-assert liveness — Corpus.webCorpusIndexClaims),
      // and the nightly compaction folds every key to its LAST claim
      // day and expires keys last claimed before the horizon (day 3)
      // — dead canonicals and texts stop pinning broadcast/bucket
      // budgets forever (Corpus.indexRetentionCompact). The ORACLE
      // restates claims + max-day fold + horizon from first
      // principles; RetentionSpec pins the law compact(all history,
      // h) ≡ the same fold over only the retained days.
      // the 4-wave history rides ONE gate pass (claims are per-page,
      // so slicing commutes with claiming — the per-day form unioned
      // over slices ran the regex extraction once per wave for the
      // same rows; spec-pinned equal)
      val claims = Corpus.webCorpusIndexClaimsWithDay(
        wcStandingPages(s, dir), dayCol = col("doc_id") % 4 + 1)
      Corpus.indexRetentionCompact(claims, horizonDay = 3L)
        .orderBy(col("kind"), col("key"))
    }, Sql(
      // retention / GC of the claims store: the same planted standing
      // corpus split into four daily waves, rank-free claims per day,
      // max-day fold, horizon filter — all restated from first
      // principles over the shared gate chain
      ("WITH page AS (" + wcStandingPageSql + ")," + webCorpusGateCtes + """,
        |cl AS (
        |  SELECT kind, key, doc_id % 4 + 1 AS day FROM (
        |    SELECT 'canon' AS kind, canonical AS key, doc_id
        |    FROM p WHERE passes = 1 AND canonical IS NOT NULL
        |    UNION ALL
        |    SELECT 'text', md5(txt), doc_id
        |    FROM p WHERE passes = 1))
        |SELECT kind, key, CAST(max(day) AS BIGINT) AS last_day
        |FROM cl GROUP BY kind, key HAVING max(day) >= 3
        |ORDER BY kind, key""".stripMargin))),

    Query("q_quality_votes", (s, dir) => {
      // FineWeb-style majority-of-signals quality gate: four signals
      // each voted against its corpus median, keep = >= 3 of 4. All
      // arithmetic integer-or-single-division (bit-identical), medians
      // exact order statistics — no float-fold parity surface.
      Text.qualityVotes(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          stopwords = Seq("the", "a"))
        .orderBy(col("doc_id"))
    }, Sql(
      // majority-of-signals quality ensemble: four single-division
      // signals, exact interpolated medians, strict median votes
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_toks,
        |         CAST(len(list_distinct(toks)) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) AS ttr,
        |         CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) AS stop_ratio,
        |         CASE WHEN len(toks) >= 2 THEN
        |           1.0 - CAST(len(list_distinct(list_transform(
        |                   generate_series(1, len(toks) - 1),
        |                   i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE)
        |                 / CAST(len(toks) - 1 AS DOUBLE)
        |         ELSE 0.0 END AS dup_frac
        |  FROM t WHERE len(toks) >= 1),
        |m AS (
        |  SELECT quantile_cont(n_toks, 0.5) AS m_len,
        |         quantile_cont(ttr, 0.5) AS m_ttr,
        |         quantile_cont(stop_ratio, 0.5) AS m_stop,
        |         quantile_cont(dup_frac, 0.5) AS m_dup
        |  FROM s)
        |SELECT doc_id, n_toks, ttr, stop_ratio, dup_frac,
        |       CAST(CASE WHEN n_toks > m_len THEN 1 ELSE 0 END
        |          + CASE WHEN ttr > m_ttr THEN 1 ELSE 0 END
        |          + CASE WHEN stop_ratio > m_stop THEN 1 ELSE 0 END
        |          + CASE WHEN dup_frac < m_dup THEN 1 ELSE 0 END AS BIGINT)
        |         AS votes,
        |       CAST(CASE WHEN (CASE WHEN n_toks > m_len THEN 1 ELSE 0 END
        |          + CASE WHEN ttr > m_ttr THEN 1 ELSE 0 END
        |          + CASE WHEN stop_ratio > m_stop THEN 1 ELSE 0 END
        |          + CASE WHEN dup_frac < m_dup THEN 1 ELSE 0 END) >= 3
        |         THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM s, m ORDER BY doc_id""".stripMargin)),

    Query("q_quality_votes_approx", (s, dir) => {
      // the 100 TB deployment form of q_quality_votes: thresholds from
      // ONE mergeable approx_percentile pass (bounded state, no
      // full-sort percentile buffer), frozen as a 4-double model
      // (EntrySupport.qvApproxLocal), every doc gated map-side against
      // it — train-once/serve-forever, the spmModel/dsir contract. The
      // ORACLE embeds the same four literals and recomputes signals +
      // votes independently; QualityVotesSpec pins the approx
      // thresholds' rank error against the exact order statistic.
      Text.qualityVotesFrom(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          stopwords = Seq("the", "a"),
          medians = qvApproxLocal(s, dir))
        .orderBy(col("doc_id"))
    }, Pinned(m =>
      Text.qualityVotesFromOracleSql(m.qualityVoteMedians,
        stopwords = Seq("the", "a")))),

    Query("q_dsir_select", (s, dir) => {
      // the importance-RESAMPLING step: keep the 100 highest-weight
      // docs — an ordered take (TakeOrderedAndProject), which at any
      // scale moves only each task's local top-100 to the driver;
      // logw_r is integer-micro-nat-derived and therefore bit-identical
      // across engines (see dsirWeights), so the (logw_r DESC, doc_id)
      // order selects the identical set with no rounding involved.
      // Scoring runs against the MEMOIZED 256-row bucket-ratio model
      // (dsirWeightsFrom scaladoc — the frozen-model deployment shape:
      // one job instead of three; the in-plan twin q_dsir_weights keeps
      // the full train+score pipeline declared)
      Text.dsirWeightsFrom(Tables.documents(s, dir),
          col("lang") === "en", buckets = 256,
          ratioRows = dsirRatioLocal(s, dir, 256))
        .orderBy(col("logw_r").desc, col("doc_id"))
        .limit(100)
    }, Sql(
      // the resampling step: top-100 by (weight DESC, doc_id) — logw_r
      // is integer-derived and bit-identical across engines (see the
      // q_dsir_weights note), so the selected SET is engine-independent
      s"""$dsirDocCte,
        |d AS (
        |  SELECT h.doc_id, h.lang, count(*) AS n_grams,
        |         sum(lr.loglr_u6) / 1e6 AS logw_r
        |  FROM h JOIN lr USING (bucket)
        |  GROUP BY h.doc_id, h.lang)
        |SELECT doc_id, lang, n_grams, logw_r FROM d
        |ORDER BY logw_r DESC, doc_id LIMIT 100""".stripMargin))
  )

  /** Shared DSIR CTE chain: tokenize → uni+bigram stream → md5 bucket
    * → target/source histograms → smoothed 6dp log-ratio table.
    * Mirrors [[graft.ops.Text.dsirWeights]] stage for stage. A `def`, so
    * the records above can read it during object init.
    */
  private def dsirDocCte: String =
    """WITH t AS (
      |  SELECT doc_id, lang, lang = 'en' AS tgt,
      |         list_filter(string_split(text, ' '), x -> x != '') AS toks
      |  FROM documents),
      |uni AS (SELECT doc_id, lang, tgt, unnest(toks) AS gram FROM t),
      |bi AS (
      |  SELECT doc_id, lang, tgt, toks[i] || ' ' || toks[i + 1] AS gram
      |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
      |  WHERE len(toks) >= 2),
      |h AS (
      |  SELECT doc_id, lang, tgt,
      |         ('0x' || substr(md5(gram), 1, 8))::BIGINT % 256 AS bucket
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
      |tb AS (SELECT bucket, count(*) AS tc FROM h WHERE tgt GROUP BY bucket),
      |sb AS (SELECT bucket, count(*) AS sc FROM h GROUP BY bucket),
      |tot AS (SELECT (SELECT sum(sc) FROM sb) AS s_tot,
      |               (SELECT coalesce(sum(tc), 0) FROM tb) AS t_tot),
      |lr AS (
      |  SELECT sb.bucket,
      |         CAST(round((ln((coalesce(tb.tc, 0) + 1) / (tot.t_tot + 256))
      |                   - ln((sb.sc + 1) / (tot.s_tot + 256))) * 1e6)
      |           AS BIGINT) AS loglr_u6
      |  FROM sb LEFT JOIN tb USING (bucket), tot)""".stripMargin

  /** The STANDING planted-page branch (wcStandingPages in SQL) —
    * shared by the increment-family prefix and the retention oracle.
    */
  private lazy val wcStandingPageSql: String =
    s"""
        |  SELECT doc_id,
        |    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title>' ||
        |    CASE WHEN doc_id % 5 = 0
        |           THEN '<meta name="robots" content="noindex, nofollow">'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0
        |           THEN '<link rel="canonical" href="https://example.com/c/'
        |                || CAST(doc_id // 9 AS VARCHAR) || '">'
        |         ELSE '' END ||
        |    '<style>p { margin: 0; }</style></head><body>' ||
        |    CASE WHEN doc_id % 13 = 0 THEN '<script>var broken = trackers['
        |         ELSE '<script>track();</script>' END ||
        |    CASE WHEN doc_id % 7 = 3 THEN '${EntrySupport.htmlLinkFarm}'
        |         ELSE '' END ||
        |    '<p>R&amp;D says x &lt; y</p><p>' || text || '</p></body></html>'
        |      AS html
        |  FROM documents""".stripMargin

  /** The union-rerun oracle prefix behind q_web_corpus_incremental
    * (in-plan standing indexes) and q_web_corpus_store (materialized
    * standing indexes): the full capstone re-run over
    * standing ∪ batch, restricted to batch ids (>= 5M) — a hash match
    * IS the increment ≡ union law verified cross-engine. The two
    * queries differ only in which documents mod-4 classes feed the
    * impersonating-copy and fresh-page batch branches, so ONE template
    * serves both and the planted-page construction cannot drift.
    */
  private def webCorpusIncPrefix(copyMod: Int, freshMod: Int): String =
    "WITH page AS (" + wcStandingPageSql + s"""
        |  UNION ALL
        |  SELECT doc_id + 5000000,
        |    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title>' ||
        |    CASE WHEN doc_id % 3 = 0
        |           THEN '<link rel="canonical" href="https://example.com/c/'
        |                || CAST(doc_id // 9 AS VARCHAR) || '">'
        |         ELSE '' END ||
        |    '</head><body><script>track();</script>' ||
        |    '<p>R&amp;D says x &lt; y</p><p>' || text || '</p></body></html>'
        |  FROM documents WHERE doc_id % 4 = $copyMod
        |  UNION ALL
        |  SELECT doc_id + 6000000,
        |    '<html><head><title>new ' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body><script>track();</script><p>' ||
        |    text || ' fresh9</p></body></html>'
        |  FROM documents WHERE doc_id % 4 = $freshMod
        |  UNION ALL
        |  SELECT 7000000 + u.i,
        |    '<html><head><title>pair</title></head><body>' ||
        |    '<script>track();</script><p>k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12' ||
        |    '</p></body></html>'
        |  FROM (SELECT unnest(generate_series(0, 1)) AS i) u),""".stripMargin +
      webCorpusGateCtes

  /** The crawl gate (Corpus.crawlGate → status, n_toks → passes) over
    * whatever `page` CTE precedes it — shared by the crawl front door,
    * the capstone, the increment family and the retention oracle.
    */
  private lazy val crawlGateCtes: String = s"""
        |x AS (
        |  SELECT doc_id, html,
        |         len(regexp_extract_all(html, '<script')) <>
        |         len(regexp_extract_all(html, '</script>')) AS bad,
        |         nullif(regexp_extract(html,
        |                  '<link rel="canonical" href="([^"]*)"', 1),
        |                '') AS canonical,
        |         CASE WHEN regexp_extract(html,
        |                '<meta name="robots" content="([^"]*)"', 1)
        |                LIKE '%noindex%' THEN 'drop' ELSE 'index' END AS verdict
        |  FROM page),
        |s AS (
        |  SELECT doc_id, bad, canonical, verdict,
        |         regexp_replace(
        |           regexp_replace(html, '(?s)<script[^>]*>.*?</script>',
        |                          ' ', 'g'),
        |           '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS nos
        |  FROM x),
        |a AS (
        |  SELECT doc_id, bad, canonical, verdict,
        |         regexp_extract_all(nos, '(?s)<a[^>]*>(.*?)</a>', 1) AS anch,
        |         trim(regexp_replace(
        |           replace(replace(replace(replace(replace(
        |             regexp_replace(nos, '<[^>]*>', ' ', 'g'),
        |             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |             '&nbsp;', ' '), '&amp;', '&'),
        |           '\\s+', ' ', 'g')) AS txt
        |  FROM s),
        |c AS (
        |  SELECT doc_id, bad, canonical, verdict, txt,
        |         CAST(coalesce(list_sum(list_transform(anch, t -> len(t))), 0)
        |              AS BIGINT) AS link_chars,
        |         CAST(len(txt) AS BIGINT) AS n_chars
        |  FROM a),
        |j AS (
        |  SELECT doc_id, canonical, verdict,
        |         CASE WHEN bad THEN NULL ELSE txt END AS txt,
        |         CASE WHEN bad THEN 'quarantined'
        |              WHEN link_chars * 100 > n_chars * 30 THEN 'chrome'
        |              ELSE 'ok' END AS status,
        |         CASE WHEN bad THEN NULL WHEN txt = '' THEN 0
        |              ELSE CAST(len(string_split(txt, ' ')) AS BIGINT)
        |         END AS n_toks
        |  FROM c),
        |p AS (
        |  SELECT *, CASE WHEN status = 'ok' AND verdict = 'index'
        |                 THEN 1 ELSE 0 END AS passes
        |  FROM j)""".stripMargin

  /** [[crawlGateCtes]] + the canonical race (rn1 → alive1). */
  private lazy val webCorpusGateCtes: String = crawlGateCtes + """,
        |r1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY
        |      CASE WHEN passes = 1 AND canonical IS NOT NULL
        |           THEN 'c:' || canonical
        |           ELSE 'd:' || CAST(doc_id AS VARCHAR) END
        |      ORDER BY doc_id) AS rn1
        |  FROM p),
        |a1 AS (SELECT *, (passes = 1 AND rn1 = 1) AS alive1 FROM r1)""".stripMargin

  /** The delta law's SELECT body, shared verbatim by the standalone
    * write-back oracle and the composed nightly-cycle oracle.
    */
  private lazy val webCorpusDeltaSelect: String = """
        |SELECT kind, key FROM (
        |  SELECT 'canon' AS kind, canonical AS key
        |  FROM p WHERE passes = 1 AND canonical IS NOT NULL
        |    AND doc_id >= 5000000
        |    AND canonical NOT IN (
        |      SELECT canonical FROM p
        |      WHERE passes = 1 AND canonical IS NOT NULL
        |        AND doc_id < 5000000)
        |  GROUP BY canonical
        |  UNION ALL
        |  SELECT 'text', md5(txt)
        |  FROM a1 WHERE alive1 AND doc_id >= 5000000
        |    AND md5(txt) NOT IN (
        |      SELECT md5(txt) FROM a1
        |      WHERE alive1 AND doc_id < 5000000)
        |  GROUP BY md5(txt))""".stripMargin

  /** The index WRITE-BACK oracle (q_web_corpus_index_delta):
    * [[webCorpusIncPrefix]] re-runs the union's gate + canonical
    * stage, then states the delta law from first principles — the
    * from-scratch union indexes minus the from-scratch standing
    * indexes (standing = ids < 5M). A hash match proves the engine's
    * append-maintenance deltas reproduce exactly what a full index
    * rebuild over standing ∪ batch would add.
    */
  private def webCorpusIndexDeltaOracle(copyMod: Int, freshMod: Int): String =
    webCorpusIncPrefix(copyMod, freshMod) + webCorpusDeltaSelect + """
        |ORDER BY kind, key""".stripMargin

  /** The union-rerun verdict oracle (q_web_corpus_incremental /
    * q_web_corpus_store): [[webCorpusIncPrefix]] + the text race,
    * Gopher gate, and per-doc stage verdict, restricted to batch ids.
    */
  private def webCorpusIncOracle(copyMod: Int, freshMod: Int): String =
    webCorpusIncPrefix(copyMod, freshMod) + "," + webCorpusStageCtes +
      webCorpusVerdictSelect + """
        |ORDER BY doc_id""".stripMargin

  /** The text race, Gopher gate, and alive3 CTE chain — shared by the
    * verdict oracle and the composed nightly-cycle oracle.
    */
  private lazy val webCorpusStageCtes: String = s"""
        |r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY
        |      CASE WHEN alive1 THEN 't:' || txt
        |           ELSE 'd:' || CAST(doc_id AS VARCHAR) END
        |      ORDER BY doc_id) AS rn2
        |  FROM a1),
        |a2 AS (SELECT *, (alive1 AND rn2 = 1) AS alive2 FROM r2),
        |gt AS (
        |  SELECT *, list_filter(string_split(txt, ' '), t -> t != '') AS toks
        |  FROM a2),
        |gs AS (
        |  SELECT *, len(toks) AS n_words,
        |         CASE WHEN len(toks) >= 2 THEN
        |           list_transform(generate_series(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i + 1])
        |         ELSE []::VARCHAR[] END AS bg
        |  FROM gt),
        |g2 AS (
        |  SELECT *, CASE WHEN n_words BETWEEN 10 AND 100000
        |    AND (CASE WHEN n_words > 0
        |          THEN round(CAST(length(array_to_string(toks, '')) AS DOUBLE) / n_words, 4)
        |          ELSE 0.0 END) BETWEEN 2.0 AND 12.0
        |    AND (CASE WHEN len(bg) > 0
        |          THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
        |          ELSE 0.0 END) < 0.3
        |    THEN 1 ELSE 0 END AS gopher_ok
        |  FROM gs),
        |a3 AS (SELECT *, (alive2 AND gopher_ok = 1) AS alive3 FROM g2)""".stripMargin

  private lazy val webCorpusVerdictSelect: String = """
        |SELECT doc_id,
        |       CASE WHEN status = 'quarantined' THEN 'quarantined'
        |            WHEN status = 'chrome' THEN 'chrome'
        |            WHEN verdict = 'drop' THEN 'noindex'
        |            WHEN rn1 <> 1 THEN 'canonical_dup'
        |            WHEN rn2 <> 1 THEN 'text_dup'
        |            WHEN coalesce(gopher_ok, 0) <> 1 THEN 'low_quality'
        |            ELSE 'kept' END AS stage,
        |       CAST(CASE WHEN alive3 THEN n_toks END AS BIGINT) AS tok_cnt
        |FROM a3 WHERE doc_id >= 5000000""".stripMargin

  /** The composed nightly-cycle oracle (q_nightly_cycle): BOTH halves
    * of the cycle stated from first principles in ONE SQL over the
    * shared CTE chain — the verdict half is [[webCorpusVerdictSelect]]
    * verbatim (so it hash-matches q_web_corpus_store's law) and the
    * delta half is [[webCorpusDeltaSelect]] verbatim (so it
    * hash-matches q_web_corpus_index_delta's). NULL-padding both
    * halves into one (part, doc_id, stage, tok_cnt, kind, key) schema
    * is the only composition the oracle adds.
    */
  private def webCorpusNightlyCycleOracle(copyMod: Int, freshMod: Int): String =
    webCorpusIncPrefix(copyMod, freshMod) + "," + webCorpusStageCtes + """
        |SELECT part, doc_id, stage, tok_cnt, kind, key FROM (
        |  SELECT 'verdict' AS part, doc_id, stage, tok_cnt,
        |         CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS key
        |  FROM (""".stripMargin + webCorpusVerdictSelect + """
        |  )
        |  UNION ALL
        |  SELECT 'delta' AS part, CAST(NULL AS BIGINT) AS doc_id,
        |         CAST(NULL AS VARCHAR) AS stage, CAST(NULL AS BIGINT) AS tok_cnt,
        |         kind, key
        |  FROM (""".stripMargin + webCorpusDeltaSelect + """
        |  ))
        |ORDER BY part, doc_id, kind, key""".stripMargin
}
