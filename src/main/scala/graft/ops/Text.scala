package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (SURVEY.md §7.5 —
  * the LLM-training-data-pipeline extension surface). All built-ins,
  * all shuffle-once aggregations.
  */
object Text {

  /** Exact content dedup: group by content, keep the smallest doc_id
    * (first-write-wins, same keep-rule as the event natural-key dedup).
    *
    * Scale path (100 TB): never shuffle the full text — group by
    * `xxhash64(text)` so the shuffle carries 8 bytes/row, then resolve
    * the (astronomically unlikely) hash collisions with one confirm
    * pass. Here we group by the text itself because the DuckDB oracle
    * has no xxhash64; [[exactDedupByHash]] below is the scale form.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Scale form of exact dedup: 8-byte hash shuffle instead of full
    * text. Used by the bench/entry paths; not oracle-checked (DuckDB
    * lacks xxhash64).
    */
  def exactDedupByHash(documents: DataFrame): DataFrame =
    documents.withColumn("h", xxhash64(col("text")))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Token frequencies: split → explode (Generator) → count. The
    * explode is map-side; the single shuffle is on the token.
    */
  def tokenFrequencies(documents: DataFrame): DataFrame =
    documents
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))

  /** Per-(lang, source) corpus stats — length distribution summary. */
  def corpusStats(documents: DataFrame): DataFrame =
    documents.groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** F5 capability — string scalar functions over documents. */
  def stringKitchenSink(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      upper(col("lang")).as("lang_u"),
      concat_ws("-", col("lang"), col("source")).as("tag"),
      length(col("text")).cast("long").as("n_len"),
      substring(col("text"), 1, 20).as("prefix"))

  // --- training-data-pipeline text analysis (all map-side HOFs, no UDFs) ---

  /** Marker-token profiles for the n-gram language-ID heuristic. Tiny
    * and hard-coded on purpose: real language ID is the same shape with
    * per-language character-n-gram frequency tables.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "p_article" -> Seq("the", "a", "order", "key"),
    "p_query" -> Seq("spark", "query", "table", "row"),
    "p_stream" -> Seq("batch", "stream", "window", "merge"))

  /** Language-ID: score = distinct marker-token overlap per profile,
    * argmax with profile-name tiebreak. One pass, map-side.
    */
  def languageId(documents: DataFrame): DataFrame = {
    val toks = array_distinct(Dedup.tokens(col("text")))
    val scored = langProfiles.foldLeft(
      documents.withColumn("toks", toks)) { case (df, (name, markers)) =>
      df.withColumn(s"score_$name",
        size(array_intersect(col("toks"), array(markers.map(lit): _*))).cast("long"))
    }
    val best = langProfiles.map { case (name, _) =>
      struct(col(s"score_$name").as("score"), lit(name).as("profile"))
    }
    val outCols = Seq(col("doc_id")) ++
      langProfiles.map { case (n, _) => col(s"score_$n") } :+
      greatest(best: _*).getField("profile").as("predicted")
    scored.select(outCols: _*)
  }

  /** Character-trigram language-ID: score each profile by distinct
    * char-3-gram overlap with the document, argmax with name tiebreak.
    * This is the real n-gram LID shape (profiles would be the top-k
    * trigrams of per-language training text); the profiles here are
    * tiny fixed sets so the oracle can mirror them.
    */
  val charProfiles: Seq[(String, Seq[String])] = Seq(
    "c_the" -> Seq("the", "he ", " th", "e t"),
    "c_spk" -> Seq("spa", "par", "ark", "rk "),
    "c_qry" -> Seq("que", "uer", "ery", "ry "))

  def languageIdCharNgram(documents: DataFrame): DataFrame = {
    val grams = expr(
      """array_distinct(transform(
        |  sequence(1, greatest(length(text) - 2, 1)),
        |  i -> substring(text, i, 3)))""".stripMargin)
    val scored = charProfiles.foldLeft(documents.withColumn("grams", grams)) {
      case (df, (name, gs)) =>
        df.withColumn(s"score_$name",
          size(array_intersect(col("grams"), array(gs.map(lit): _*))).cast("long"))
    }
    val best = charProfiles.map { case (name, _) =>
      struct(col(s"score_$name").as("score"), lit(name).as("profile"))
    }
    val outCols = Seq(col("doc_id")) ++
      charProfiles.map { case (n, _) => col(s"score_$n") } :+
      greatest(best: _*).getField("profile").as("predicted")
    scored.select(outCols: _*)
  }

  /** Segment-level language ID + run collapse — the multilingual
    * document SPLITTER (CCNet, Wenzek et al. 2020 runs LID
    * per-paragraph precisely because web documents mix languages, and
    * a doc-level label either discards the minority half or poisons
    * the majority one): the document's tokens split into fixed
    * `w`-token windows (the [[graft.ops.Dedup]] segment convention —
    * these corpora are single-line, so the window IS the paragraph
    * proxy), each window is scored by the same marker-profile argmax
    * as [[languageId]], and CONSECUTIVE same-language windows collapse
    * into one segment row (gaps-and-islands: group = seg_idx − per-
    * language rank) carrying (lang, seg_start, seg_end, n_chunks) —
    * the per-segment routing table a pipeline feeds to per-language
    * quality gates and tokenizers.
    *
    * Shape: chunking + scoring are pure map-side HOFs (posexplode of a
    * slice() transform); ONE doc-keyed exchange serves both the
    * per-language rank window and the run aggregate (the (doc, lang)
    * hash clustering already satisfies the (doc, lang, grp) grouping).
    * At 100 TB: windows and aggregates are per-document — no global
    * state, corpus-linear.
    */
  def langSegments(documents: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 1, s"segment width must be positive, got $w")
    val chunks = documents
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), ((size(col("toks")) - 1) / w).cast("int")),
        i => slice(col("toks"), i * w + 1, lit(w)))).as(Seq("seg_idx", "chunk")))
    val scored = langProfiles.foldLeft(
      chunks.withColumn("dchunk", array_distinct(col("chunk")))) {
      case (df, (name, markers)) =>
        df.withColumn(s"score_$name",
          size(array_intersect(col("dchunk"), array(markers.map(lit): _*)))
            .cast("long"))
    }
    val best = langProfiles.map { case (name, _) =>
      struct(col(s"score_$name").as("score"), lit(name).as("profile"))
    }
    val pred = scored.select(col("doc_id"),
      col("seg_idx").cast("long").as("seg_idx"),
      greatest(best: _*).getField("profile").as("lang"))
    val wLang = Window.partitionBy(col("doc_id"), col("lang"))
      .orderBy(col("seg_idx"))
    pred
      .withColumn("grp", col("seg_idx") - row_number().over(wLang))
      .groupBy(col("doc_id"), col("lang"), col("grp"))
      .agg(min(col("seg_idx")).as("seg_start"),
        max(col("seg_idx")).as("seg_end"),
        count(lit(1)).as("n_chunks"))
      .drop("grp")
  }

  /** Quality scoring: token count, mean token length, stopword ratio,
    * and a single [0,1] score — the length/punct/stopword heuristics a
    * corpus filter runs before training. All arithmetic mirrored in the
    * oracle.
    */
  def qualityScore(documents: DataFrame, stopwords: Seq[String]): DataFrame =
    documents
      .withColumn("toks", Dedup.tokens(col("text")))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin(stopwords: _*))).cast("long"))
      .select(
        col("doc_id"),
        col("n_tok"),
        round(col("n_chars") / col("n_tok"), 4).as("avg_tok_len"),
        round(col("n_stop") / col("n_tok"), 4).as("stop_ratio"),
        round(
          least(col("n_tok") / lit(100.0), lit(1.0)) *
            (lit(1.0) - col("n_stop") / col("n_tok")), 4).as("quality"))

  /** Majority-of-signals quality ensemble — the FineWeb/RefinedWeb
    * filtering shape (quality is a BATTERY of weak filters, not one
    * score: a doc must look good on most dimensions to survive): four
    * per-doc signals — token count, type-token ratio (lexical
    * diversity), stopword ratio (natural prose carries function
    * words; spam doesn't), repeated-bigram fraction — each compared
    * against its own CORPUS MEDIAN, votes summed, keep = majority
    * (≥ 3 of 4). Medians instead of z-scores on purpose: every signal
    * is an integer count or ONE IEEE division of identical longs
    * (bit-identical cross-engine), the median is an exact order
    * statistic (or the midpoint of two — still deterministic), and
    * the strict >/< votes are therefore exact integers — no
    * float-fold variance anywhere, the dsirWeights parity discipline
    * applied to ensemble scoring.
    *
    * Shape: ONE map-side signal pass, ONE 4-value global aggregate
    * broadcast back (crossJoin of a 1-row frame — the established
    * scalar pattern), map-side votes. No global window, no rank sort —
    * at 100 TB swap the exact percentile for approx_percentile and
    * the plan shape is unchanged.
    */
  def qualityVotes(documents: DataFrame, stopwords: Seq[String]): DataFrame = {
    val sigs = qualitySignals(documents, stopwords)
    val meds = sigs.agg(
      expr("percentile(n_toks, 0.5)").as("m_len"),
      expr("percentile(ttr, 0.5)").as("m_ttr"),
      expr("percentile(stop_ratio, 0.5)").as("m_stop"),
      expr("percentile(dup_frac, 0.5)").as("m_dup"))
    voteTail(sigs.crossJoin(broadcast(meds)))
  }

  /** [[qualityVotes]] against FROZEN medians — the deployment shape
    * (train the thresholds on a reference corpus once, gate every
    * batch/stream against them, exactly like the frozen tokenizer and
    * DSIR models): pure map-side given the 4-double model, so it
    * applies DIRECTLY to a streaming frame. QualityVotesSpec pins
    * frozen-fed ≡ in-plan when the medians come from
    * [[qualityVotesMedians]] on the same corpus.
    */
  def qualityVotesFrom(documents: DataFrame, stopwords: Seq[String],
                       medians: (Double, Double, Double, Double)): DataFrame =
    voteTail(qualitySignals(documents, stopwords)
      .withColumn("m_len", lit(medians._1))
      .withColumn("m_ttr", lit(medians._2))
      .withColumn("m_stop", lit(medians._3))
      .withColumn("m_dup", lit(medians._4)))

  /** Collect the 4-double median model once (the bounded trained
    * artifact [[qualityVotesFrom]] consumes) — runs the SAME plan
    * [[qualityVotes]] broadcasts in-plan, so the two forms cannot
    * drift.
    */
  def qualityVotesMedians(documents: DataFrame,
                          stopwords: Seq[String]): (Double, Double, Double, Double) = {
    val r = qualitySignals(documents, stopwords).agg(
      expr("percentile(n_toks, 0.5)"), expr("percentile(ttr, 0.5)"),
      expr("percentile(stop_ratio, 0.5)"), expr("percentile(dup_frac, 0.5)"))
      .collect().head
    require(!r.isNullAt(0),
      "qualityVotesMedians: corpus has no tokened documents — the four " +
        "median thresholds are undefined (train on a non-empty reference " +
        "corpus before freezing the model)")
    (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  /** [[qualityVotesMedians]]' 100 TB deployment twin — the swap the
    * qualityVotes scaladoc names: the exact `percentile` is a
    * sort-based aggregate whose buffer holds every value, while
    * `approx_percentile` (Greenwald–Khanna summaries, as implemented
    * by Spark's ApproximatePercentile) is one-pass, mergeable, and
    * bounded at ~O(accuracy) memory per signal regardless of corpus
    * size, with rank error ≤ N/accuracy (QualityVotesSpec pins that
    * bound empirically against the exact order statistic). Collected
    * once driver-side as the frozen 4-double model
    * [[qualityVotesFrom]] serves — the thresholds are trained
    * artifacts, so the ±N/accuracy wobble moves only which
    * at-the-boundary docs flip votes, never the gate's semantics.
    * m_len casts the integer percentile to double in-plan (exact for
    * any realistic token count) so the model stays 4 doubles.
    */
  def qualityVotesMediansApprox(documents: DataFrame, stopwords: Seq[String],
                                accuracy: Int = 10000): (Double, Double, Double, Double) = {
    require(accuracy >= 1, s"accuracy must be positive, got $accuracy")
    val r = qualitySignals(documents, stopwords).agg(
      expr(s"cast(approx_percentile(n_toks, 0.5, $accuracy) as double)"),
      expr(s"approx_percentile(ttr, 0.5, $accuracy)"),
      expr(s"approx_percentile(stop_ratio, 0.5, $accuracy)"),
      expr(s"approx_percentile(dup_frac, 0.5, $accuracy)"))
      .collect().head
    require(!r.isNullAt(0),
      "qualityVotesMediansApprox: corpus has no tokened documents — the " +
        "four median thresholds are undefined (train on a non-empty " +
        "reference corpus before freezing the model)")
    (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  /** DuckDB oracle for [[qualityVotesFrom]] under a FROZEN threshold
    * model: the trained model is DATA, not code (the
    * [[graft.ops.Sim.ivfSearchOracleSql]] discipline), so the four
    * thresholds embed as `Double.toString` shortest-roundtrip literals
    * — DuckDB parses the identical doubles — and the oracle
    * independently recomputes every signal (each an integer count or
    * ONE IEEE division of identical longs, bit-identical cross-engine)
    * and the strict >/< votes. Used by `q_quality_votes_approx`, whose
    * thresholds come from [[qualityVotesMediansApprox]] at Verify time.
    */
  def qualityVotesFromOracleSql(m: (Double, Double, Double, Double),
                                stopwords: Seq[String]): String = {
    val stops = stopwords.map(s => s"'${s.replace("'", "''")}'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split(text, ' '), x -> x != '') AS toks
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS BIGINT) AS n_toks,
       |         CAST(len(list_distinct(toks)) AS DOUBLE)
       |           / CAST(len(toks) AS DOUBLE) AS ttr,
       |         CAST(len(list_filter(toks, x -> x IN ($stops))) AS DOUBLE)
       |           / CAST(len(toks) AS DOUBLE) AS stop_ratio,
       |         CASE WHEN len(toks) >= 2 THEN
       |           1.0 - CAST(len(list_distinct(list_transform(
       |                   generate_series(1, len(toks) - 1),
       |                   i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE)
       |                 / CAST(len(toks) - 1 AS DOUBLE)
       |         ELSE 0.0 END AS dup_frac
       |  FROM t WHERE len(toks) >= 1)
       |SELECT doc_id, n_toks, ttr, stop_ratio, dup_frac,
       |       CAST(CASE WHEN CAST(n_toks AS DOUBLE) > ${m._1} THEN 1 ELSE 0 END
       |          + CASE WHEN ttr > ${m._2} THEN 1 ELSE 0 END
       |          + CASE WHEN stop_ratio > ${m._3} THEN 1 ELSE 0 END
       |          + CASE WHEN dup_frac < ${m._4} THEN 1 ELSE 0 END AS BIGINT)
       |         AS votes,
       |       CAST(CASE WHEN (CASE WHEN CAST(n_toks AS DOUBLE) > ${m._1} THEN 1 ELSE 0 END
       |          + CASE WHEN ttr > ${m._2} THEN 1 ELSE 0 END
       |          + CASE WHEN stop_ratio > ${m._3} THEN 1 ELSE 0 END
       |          + CASE WHEN dup_frac < ${m._4} THEN 1 ELSE 0 END) >= 3
       |         THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** The per-doc signal pass [[qualityVotes]], [[qualityVotesFrom]],
    * and [[qualityVotesMedians]] share — one definition, no drift.
    */
  private def qualitySignals(documents: DataFrame,
                             stopwords: Seq[String]): DataFrame = {
    val base = documents
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("n_toks", size(col("toks")).cast("long"))
    val bgLen = greatest(col("n_toks").cast("int") - 1, lit(0))
    val bigrams = zip_with(
      slice(col("toks"), lit(1), bgLen),
      slice(col("toks"), lit(2), bgLen),
      (a, b) => concat_ws(" ", a, b))
    base
      .withColumn("bg", bigrams)
      .select(
        col("doc_id"), col("n_toks"),
        (size(array_distinct(col("toks"))).cast("double") /
          col("n_toks").cast("double")).as("ttr"),
        (size(filter(col("toks"), t => t.isin(stopwords: _*))).cast("double") /
          col("n_toks").cast("double")).as("stop_ratio"),
        when(size(col("bg")) > 0,
          lit(1.0) - size(array_distinct(col("bg"))).cast("double") /
            size(col("bg")).cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  private def voteTail(withMeds: DataFrame): DataFrame = withMeds
    .select(col("doc_id"), col("n_toks"), col("ttr"), col("stop_ratio"),
      col("dup_frac"),
      (when(col("n_toks").cast("double") > col("m_len"), 1L).otherwise(0L) +
        when(col("ttr") > col("m_ttr"), 1L).otherwise(0L) +
        when(col("stop_ratio") > col("m_stop"), 1L).otherwise(0L) +
        when(col("dup_frac") < col("m_dup"), 1L).otherwise(0L)).as("votes"))
    .withColumn("keep", (col("votes") >= 3L).cast("long"))

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * segmentation (letter runs / digit runs / single punctuation) — the
    * cheap proxy for "how many tokens will the tokenizer emit".
    */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(Dedup.tokens(col("text"))).cast("long").as("n_ws"),
      expr("cast(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) as bigint)")
        .as("n_bpe"))

  /** Heavy hitters: tokens whose frequency exceeds `support` fraction
    * of all tokens — the "boilerplate/spam token" detector a corpus
    * pipeline runs before dedup (a page-footer token appearing in 40%
    * of docs is structure, not content). Exact two-pass form; at
    * 100 TB substitute a count-min sketch or `DataFrameStatFunctions
    * .freqItems` (one pass, mergeable) with an exact recount of the
    * shortlist.
    *
    * The scalar token total joins back via crossJoin(broadcast(1-row))
    * — ONE lazy plan, no driver-side action, so the operator composes
    * into downstream pipelines.
    */
  def heavyHitters(documents: DataFrame, support: Double): DataFrame = {
    val freq = graft.CacheScope.cached(tokenFrequencies(documents))
    val total = freq.agg(sum(col("freq")).as("__total"))
    freq.crossJoin(broadcast(total))
      .filter(col("freq") >= lit(support) * col("__total"))
      .withColumn("share", round(col("freq") / col("__total").cast("double"), 4))
      .drop("__total")
  }

  /** Corpus-statistics quality score: mean unigram log-probability per
    * document under the corpus's own empirical distribution — the
    * KenLM-style fluency proxy (docs full of corpus-rare tokens score
    * low; docs of common tokens score high), with the corpus itself
    * as the language model. Two aggregations: the global term
    * frequency table, then per-doc averaging after a token-keyed join.
    * The scalar total rides in as crossJoin(broadcast(1-row)) — one
    * lazy plan, no driver action. At 100 TB the tf table is the
    * broadcast candidate (vocab << corpus) and the join flips to
    * map-side.
    */
  def unigramLogProb(documents: DataFrame): DataFrame = {
    val toks = documents.select(
      col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
    // the corpus-total scalar folds over a partition-less window on
    // the VOCABULARY frame (Heaps-bounded, the q_zipf tier) inside the
    // same lookup build — one job fewer than a separate broadcast-
    // scalar aggregate, and with a single consumer the collapse no
    // longer needs a cache
    val tf = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .withColumn("__total", sum(col("freq"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy())
        .cast("double"))
    toks.join(tf, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        round(avg(log(col("freq") / col("__total"))), 4).as("logprob"))
  }

  /** Bigram conditional log-probability per document — the next step
    * up from [[unigramLogProb]] on the KenLM-style fluency ladder:
    * score = mean over the doc's bigram instances of
    * ln(count(prev,next) / count(prev,*)), with both counts taken from
    * the corpus itself. A doc whose word ORDER is unusual scores low
    * even when every individual word is common — exactly what the
    * unigram model cannot see.
    *
    * Shape: one map-side bigram explode (sequence + try_element_at,
    * same pattern as [[Dedup.docShingles]]), ONE groupBy building the
    * corpus bigram table (cached — both the context aggregation and
    * the per-doc join read it), context counts derived FROM the bigram
    * table (vocab-sized, not corpus-sized), then a bigram-keyed join
    * back. At 100 TB the bigram table is the broadcast candidate once
    * pruned to the top vocabulary; docs with < 2 tokens have no bigram
    * instances and drop out, mirroring any engine's inner-join
    * semantics.
    */
  /** The shared (doc_id, prev, next, c) collapse every bigram-LM
    * scorer reads ([[bigramLogProb]], [[interpolatedLogProb]],
    * [[knBigramLogProb]]): the expensive tokenize+explode pass runs
    * exactly ONCE and is cached; every model table the scorers build
    * from it is vocabulary-sized. Trade-off, measured: the collapse
    * shuffles a near-instance-sized (doc, prev, next) table once,
    * where the two-pass form shuffled only partial-aggregated
    * vocab/doc rows but tokenized the corpus twice — 2× scan CPU
    * dominated. At 100 TB flip the trade back (two scans, zero
    * instance shuffle) by dropping the collapse and joining the raw
    * instance stream against the broadcast lookup: same algebra,
    * identical results.
    */
  private def docBigramCollapse(documents: DataFrame): DataFrame =
    graft.CacheScope.cached(bigramCollapse(documents))

  /** The uncached collapse PLAN — public so a harness can materialize
    * it once as a parquet fixture (the warehouse move: the n-gram
    * count table is computed once per corpus version and every LM
    * scorer reads it) and feed the *From scorers below. At 100 TB this
    * materialization IS the production shape — Google/KenLM count
    * tables are built in one MapReduce and served to every consumer.
    */
  def bigramCollapse(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - 1)).as("i"))
      .select(col("doc_id"),
        try_element_at(col("toks"), col("i")).as("prev"),
        try_element_at(col("toks"), col("i") + 1).as("next"))
      .groupBy(col("doc_id"), col("prev"), col("next"))
      .agg(count(lit(1)).as("c"))

  def bigramLogProb(documents: DataFrame): DataFrame =
    bigramLogProbFrom(docBigramCollapse(documents))

  /** [[bigramLogProb]] over a pre-built (doc_id, prev, next, c)
    * collapse ([[bigramCollapse]]) — identical algebra, zero tokenize
    * passes.
    */
  def bigramLogProbFrom(docBi: DataFrame): DataFrame = {
    // ONE vocabulary-sized lookup table carrying BOTH counts: bc folds
    // from the collapsed table (no second corpus pass), and the context
    // total cc rides on it via a prev-partitioned window. Heaps' law
    // keeps the table broadcastable even at 100 TB (prune to the top-K
    // vocabulary first there); the collapsed stream never shuffles for
    // the lookup.
    val lookup = docBi.groupBy(col("prev"), col("next")).agg(sum(col("c")).as("bc"))
      .withColumn("cc", sum(col("bc")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))))
    // avg over instances = count-weighted avg over (doc, bigram) types
    docBi.join(broadcast(lookup), Seq("prev", "next"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_bigrams"),
        round(sum(col("c") * log(col("bc") / col("cc").cast("double"))) /
          sum(col("c")), 4).as("bigram_logprob"))
  }

  /** Jelinek-Mercer interpolated LM scoring — the smoothing step up
    * from [[bigramLogProb]] (Jelinek & Mercer 1980; the baseline of
    * Chen & Goodman 1999's smoothing survey): score = mean over the
    * doc's bigram instances of
    * ln(λ·P(next|prev) + (1−λ)·P_uni(next)), so an unseen-context
    * continuation is no longer a hard -∞ cliff and λ tunes how much
    * the model trusts word order vs word choice.
    *
    * P_uni here is the CONTINUATION unigram: count of the token in
    * the `next` position over all bigram instances — derived from the
    * SAME cached (doc, prev, next, c) collapse as everything else, so
    * the corpus still tokenizes exactly once and the unigram/total
    * tables are vocabulary-sized. λ=1 recovers [[bigramLogProb]]'s
    * scores exactly (law-tested); λ=0 scores word choice alone.
    * Same 100 TB shape as [[bigramLogProb]]: broadcast lookups, one
    * instance-keyed join-back.
    */
  def interpolatedLogProb(documents: DataFrame, lambda: Double): DataFrame =
    interpolatedLogProbFrom(docBigramCollapse(documents), lambda)

  /** [[interpolatedLogProb]] over a pre-built collapse. */
  def interpolatedLogProbFrom(docBi: DataFrame, lambda: Double): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, "interpolation weight must be in [0,1]")
    val lookup = docBi.groupBy(col("prev"), col("next")).agg(sum(col("c")).as("bc"))
      .withColumn("cc", sum(col("bc")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))))
    // The continuation-unigram columns ride WINDOWS over the lookup
    // frame itself instead of a separate groupBy + join: uc = Σ bc over
    // the next-partition (identical integer fold — the lookup already
    // collapses to one row per seen bigram type), and the scalar
    // instance total is Σ bc over the unpartitioned window (bounded:
    // the frame is vocabulary²-sized by Heaps' law; PlanShapeSpec
    // allowlists it). One broadcast exchange and ONE materialization
    // job — a lookup⋈uni merge would build the uni side as its
    // own broadcast job first (each job is a measured ~0.1-0.2 s of
    // fixed cost on this host).
    val wNext = org.apache.spark.sql.expressions.Window.partitionBy(col("next"))
    val merged = lookup
      .withColumn("uc", sum(col("bc")).over(wNext))
      .withColumn("tot", sum(col("bc")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val p = lit(lambda) * col("bc") / col("cc").cast("double") +
      lit(1.0 - lambda) * col("uc") / col("tot").cast("double")
    docBi
      .join(broadcast(merged), Seq("prev", "next"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_bigrams"),
        round(sum(col("c") * log(p)) / sum(col("c")), 4).as("interp_logprob"))
  }

  /** Kneser-Ney discounted bigram scoring — the step up from
    * [[interpolatedLogProb]]'s Jelinek-Mercer mixing and the method of
    * record for n-gram LMs (Kneser & Ney 1995; the winner of Chen &
    * Goodman 1999's survey): instead of a fixed λ, mass is moved by an
    * ABSOLUTE DISCOUNT D subtracted from every seen bigram count, and
    * the backoff distribution is the CONTINUATION unigram — how many
    * distinct contexts a word follows, not how often it occurs — so
    * "Francisco" (frequent but only ever after "San") stops stealing
    * backoff mass:
    *
    *   P_KN(next|prev) = max(bc−D,0)/cc + D·N1+(prev,·)/cc · P_cont(next)
    *   P_cont(next)    = |{prev : c(prev,next)>0}| / |bigram types|
    *
    * Per doc: count-weighted mean ln P_KN over its bigram instances —
    * the fluency score [[bigramLogProb]] produces, minus the unseen-
    * continuation cliffs.
    *
    * Shape: identical to [[interpolatedLogProb]] — the corpus
    * tokenizes ONCE into the cached (doc, prev, next, c) collapse;
    * every model table (bigram lookup with context totals and
    * distinct-continuation counts via prev-partitioned windows, the
    * continuation-unigram table, the scalar type count) is
    * VOCABULARY-sized and broadcast; the instance-keyed stream joins
    * map-side and folds per doc. At 100 TB prune the lookup to the
    * top-K vocabulary first (Heaps' law keeps it broadcastable).
    */
  def knBigramLogProb(documents: DataFrame, discount: Double): DataFrame =
    knBigramLogProbFrom(docBigramCollapse(documents), discount)

  /** [[knBigramLogProb]] over a pre-built collapse. */
  def knBigramLogProbFrom(docBi: DataFrame, discount: Double): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "absolute discount must be in (0,1)")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))
    // one row per SEEN bigram type: bc, context total cc, and the
    // distinct-continuation count N1+(prev,·) both ride prev windows
    val lookup = docBi.groupBy(col("prev"), col("next")).agg(sum(col("c")).as("bc"))
      .withColumn("cc", sum(col("bc")).over(w))
      .withColumn("n1p", count(lit(1)).over(w))
    // continuation unigram: in how many distinct contexts does `next`
    // appear — a count WINDOW over the lookup's next-partition (lookup
    // IS one row per seen bigram type, so the partition row count is
    // exactly the distinct-context count); the type-count scalar is
    // the lookup's own row count via the unpartitioned window (bounded
    // frame, PlanShapeSpec allowlisted). No groupBy + join merge: ONE
    // broadcast exchange and ONE materialization job, same rationale
    // as interpolatedLogProbFrom.
    val wNext = org.apache.spark.sql.expressions.Window.partitionBy(col("next"))
    val merged = lookup
      .withColumn("ncont", count(lit(1)).over(wNext))
      .withColumn("ttypes", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val d = lit(discount)
    val p = greatest(col("bc") - d, lit(0.0)) / col("cc").cast("double") +
      (d * col("n1p") / col("cc").cast("double")) *
        (col("ncont") / col("ttypes").cast("double"))
    docBi
      .join(broadcast(merged), Seq("prev", "next"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_bigrams"),
        round(sum(col("c") * log(p)) / sum(col("c")), 4).as("kn_logprob"))
  }

  /** Intra-document repetition signals — the Gopher/MassiveText
    * repetition family (Rae et al. 2021 §A1.3) on one pass: token
    * count, distinct-token ratio (word-level diversity), the fraction
    * of tokens inside the most frequent adjacent bigram (templated
    * boilerplate reads as one dominant 2-gram), and the longest
    * consecutive same-token run (degenerate generation / OCR
    * stutter). A doc can pass every corpus-level dedup and still be
    * 40% "click here click here" — these are the in-doc gates that
    * catch it.
    *
    * Shape: diversity and max-run are pure map-side HOFs over the
    * token array (the run fold is one sequential lambda per doc — k
    * tokens, no shuffle); only the bigram mode pays a (doc, bigram)
    * aggregate, and that stream is bigram-instance-sized with
    * map-side partial counts. Join-back is doc-keyed. At 100 TB the
    * bigram mode swaps for a count-min sketch per doc ONLY if docs
    * are huge; at web-doc sizes the exact aggregate is the right
    * shape.
    */
  def repetitionSignals(documents: DataFrame): DataFrame = {
    val toked = documents
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
    // longest same-token run: one left fold carrying (prev, run, best)
    val maxRun = expr(
      """aggregate(toks,
        |  struct(cast('' as string) as prev, 0 as run, 0 as best),
        |  (s, x) -> struct(
        |    x as prev,
        |    if(x = s.prev, s.run + 1, 1) as run,
        |    greatest(s.best, if(x = s.prev, s.run + 1, 1)) as best),
        |  s -> s.best)""".stripMargin)
    val base = toked.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_toks"),
      round(size(array_distinct(col("toks"))) /
        size(col("toks")).cast("double"), 4).as("distinct_ratio"),
      maxRun.cast("long").as("max_run"))
    val topBigram = toked
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - 1)).as("i"),
        col("toks"))
      .select(col("doc_id"),
        try_element_at(col("toks"), col("i")).as("p"),
        try_element_at(col("toks"), col("i") + 1).as("n"))
      .groupBy(col("doc_id"), col("p"), col("n"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_c"))
    base
      .join(topBigram, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_toks"), col("distinct_ratio"), col("max_run"),
        coalesce(
          round(lit(2.0) * col("top_bigram_c") / col("n_toks"), 4),
          lit(0.0)).as("top_bigram_frac"))
  }

  /** BPE merge-pair counting — iteration zero of byte-pair-encoding
    * vocabulary training (Sennrich et al. 2016): count adjacent
    * CHARACTER pairs within each whitespace word across the corpus;
    * the most frequent pair is the first merge. Returns the top `k`
    * pairs (count DESC, pair ASC — the deterministic merge-order
    * tiebreak).
    *
    * Shape: collapse the corpus to its word VOCABULARY first
    * (groupBy(word).count — partial aggregation shrinks each partition
    * to its distinct words map-side, so the shuffle carries the
    * vocabulary, which Heaps' law keeps ≪ corpus), THEN explode the
    * intra-word positions over that tiny table and sum the word counts
    * per pair. The expensive per-character Generator runs |vocab|·len
    * times instead of |corpus|·len — the same answer with the explode
    * moved to the small side. This is exactly how production BPE
    * trainers pre-bucket (word-frequency dictionaries in Sennrich's
    * learn_bpe.py).
    */
  def bpePairCounts(documents: DataFrame, k: Int): DataFrame =
    documents
      .select(explode(Dedup.tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("wc"), explode(sequence(lit(1), length(col("word")) - 1)).as("i"),
        col("word"))
      .select(expr("substring(word, i, 2)").as("pair"), col("wc"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)

  /** FULL BPE merge training — the iterative closure of
    * [[bpePairCounts]] (which is iteration zero): learn `nMerges`
    * merges the way Sennrich et al. 2016's learn_bpe does, and the way
    * every production trainer structures it. ONE corpus pass collapses
    * to the word-type histogram (vocabulary-sized, the Heaps'-law
    * bound — the same collapse bpePairCounts already justifies); the
    * merge loop then runs DRIVER-LOCAL over that histogram, because
    * each iteration's pair counts depend on the previous merge —
    * a per-iteration distributed job would pay |iterations| shuffles
    * to aggregate a table that fits in memory by construction. This is
    * a bounded MODEL BUILD (like the k-means centroid training), not a
    * data collect: the histogram is |word types| rows however large
    * the corpus.
    *
    * Determinism contract: argmax pair by (weighted count DESC, then
    * (left, right) lexicographic ASC) — the same tiebreak family as
    * bpePairCounts' (cnt DESC, pair ASC) output order. Training stops
    * early when no adjacent pair repeats. Feed the result straight to
    * [[bpeApply]].
    */
  def bpeTrain(documents: DataFrame, nMerges: Int,
               minWordCount: Long = 1L): Seq[(String, String)] = {
    // `minWordCount` is the scale lever learn_bpe ships with: hapax
    // words are noise to merge statistics and dominate an open-domain
    // vocabulary's row count, so pruning them bounds the driver-side
    // histogram however large the corpus (the filter runs AFTER the
    // map-side-combined count, so the shuffle is already vocab-sized).
    val vocab: Array[(Array[String], Long)] = documents
      .select(explode(Dedup.tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .filter(col("wc") >= minWordCount)
      .collect()
      .map(r => (r.getString(0).map(_.toString).toArray, r.getLong(1)))
    var words = vocab
    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var exhausted = false
    while (m < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (parts, wc) =>
        var i = 0
        while (i < parts.length - 1) {
          val key = (parts(i), parts(i + 1))
          counts(key) = counts.getOrElse(key, 0L) + wc
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        if (best._2 < 2) exhausted = true // nothing repeats; merging is noise
        else {
          val (a, b) = best._1
          merges += ((a, b))
          words = words.map { case (parts, wc) =>
            if (parts.length < 2) (parts, wc)
            else {
              val out = scala.collection.mutable.ArrayBuffer[String]()
              var i = 0
              while (i < parts.length) {
                if (i < parts.length - 1 && parts(i) == a && parts(i + 1) == b) {
                  out += (a + b); i += 2
                } else { out += parts(i); i += 1 }
              }
              (out.toArray, wc)
            }
          }
          m += 1
        }
      }
    }
    merges.result()
  }

  /** BPE tokenization — APPLYING a trained merge list (the runtime
    * counterpart of [[bpePairCounts]]' training): each whitespace word
    * starts as its character sequence, and the lowest-rank adjacent
    * merge is applied repeatedly until none applies (Sennrich et al.
    * 2016, apply_bpe). Returns (doc_id, n_tokens, tokens).
    *
    * The merge loop is inherently ITERATIVE per word — not expressible
    * as a Catalyst expression without unrolling — so this is one of
    * the two sanctioned `mapPartitions` sites (with the media codec):
    * per-partition imperative logic over a BROADCAST merge-rank table,
    * loaded once per task, zero shuffles. Production trick carried
    * over: tokenization is cached per distinct word within a
    * partition, so Zipf-heavy text pays the merge loop once per word
    * TYPE, not per occurrence.
    */
  def bpeApply(documents: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.map { case (m, i) => m -> i }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    documents
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val r = bc.value
        val cache = scala.collection.mutable.HashMap[String, List[String]]()
        def tokenizeWord(w: String): List[String] = cache.getOrElseUpdate(w, {
          var parts: Vector[String] = w.map(_.toString).toVector
          var done = parts.size < 2
          while (!done) {
            var bestRank = Int.MaxValue
            var bestIdx = -1
            var i = 0
            while (i < parts.size - 1) {
              val rank = r.getOrElse((parts(i), parts(i + 1)), Int.MaxValue)
              if (rank < bestRank) { bestRank = rank; bestIdx = i }
              i += 1
            }
            if (bestIdx < 0) done = true
            else {
              parts = (parts.take(bestIdx) :+ (parts(bestIdx) + parts(bestIdx + 1))) ++
                parts.drop(bestIdx + 2)
              done = parts.size < 2
            }
          }
          parts.toList
        })
        it.map { case (id, text) =>
          val toks = text.split(" ").iterator.filter(_.nonEmpty)
            .flatMap(tokenizeWord).toSeq
          (id, toks.size.toLong, toks)
        }
      }
      .toDF("doc_id", "n_tokens", "tokens")
  }

  /** BPE encoding as a pure COLUMN EXPRESSION — the whole-stage-codegen
    * form of [[bpeApply]] for LEARNED merge lists, and the form a SQL
    * oracle can mirror verbatim. The text is rewritten so one literal
    * `replace` pass per merge IS one exact BPE merge pass:
    *
    *   - space-runs collapse to an unmergeable boundary symbol
    *     (U+0001 — never a word character, never learned), so merges
    *     cannot cross words;
    *   - every character then wraps as ` c ` — single space at each
    *     string edge, DOUBLE space between symbols. Each symbol owns
    *     both its boundaries, so pattern ` a  b ` → ` ab ` anchors the
    *     start of `a` AND the end of `b`, and ADJACENT occurrences
    *     (`a b a b`) don't share a boundary character — the classic
    *     single-separator encodings miss every other occurrence there
    *     because the scan consumes the shared space.
    *
    * One left-to-right non-overlapping replace pass per merge, merges
    * in rank order, equals [[bpeApply]]'s lowest-rank-first loop for
    * any list [[bpeTrain]] can produce: a learned pair's symbols exist
    * before its rank (so no earlier-rank pair can re-form once its
    * pass ran — a merge only creates pairs involving the NEW symbol,
    * which by construction has a later rank), and within one pair a
    * single pass removes every occurrence (a≠b occurrences cannot
    * overlap; a=b runs leave no adjacent pair). BpeEncodeSpec pins the
    * equivalence including the adjacent-occurrence and self-pair
    * corners; hand-built lists that reference not-yet-derivable
    * symbols (e.g. rank 0 = ("ab","c")) are outside this contract —
    * use [[bpeApply]] for those.
    *
    * Scale: ~3·|text| bytes scanned per merge, all inside codegen
    * (`StringReplace`), zero shuffles, zero per-row state — strictly
    * better than the mapPartitions encoder wherever the merge list is
    * a trained artifact, i.e. everywhere in production.
    */
  def bpeEncodeExpr(text: Column, merges: Seq[(String, String)]): Column = {
    // (?s): without DOTALL, '.' skips line terminators (and Java and
    // RE2 disagree on which — Java excludes \r, RE2 matches it), so a
    // newline inside a token would go unwrapped on one engine and both
    // the equivalence with bpeApply AND the cross-engine hash would
    // break. With the flag every char wraps on both engines. Contract
    // limit: symbols are CODE POINTS here but UTF-16 code units in
    // bpeTrain/bpeApply, so the pinned equivalence covers BMP text
    // (astral chars would count 1 symbol here vs 2 reference tokens).
    val base = regexp_replace(
      regexp_replace(trim(text), " +", "\u0001"), "(?s)(.)", " $1 ")
    merges.foldLeft(base) { case (c, (a, b)) =>
      replace(c, lit(" " + a + "  " + b + " "), lit(" " + a + b + " "))
    }
  }

  /** [[bpeEncodeExpr]] over a corpus: per doc, the word count and the
    * BPE token count under the trained merges (boundary symbols
    * subtracted — a doc of n words carries n−1 of them), plus the
    * tokens-per-word fertility the tokenizer literature grades
    * vocabularies by. Docs with no word are dropped (nothing to
    * encode). Map-side only: the one aggregate-free projection keeps
    * the corpus partitioning untouched at any scale.
    */
  /** Per-row (n_words, n_bpe) projection under the trained merges —
    * the ONE place the encode-count arithmetic lives, shared by
    * [[bpeEncodeDocs]] and [[bpeFertilityByLang]] so a representation
    * fix cannot drift between them. Keeps the caller's other columns,
    * drops `text`, drops no-word rows (nothing to encode).
    */
  private def withBpeCounts(df: DataFrame,
                            merges: Seq[(String, String)]): DataFrame =
    df
      .withColumn("n_words", size(Dedup.tokens(col("text"))))
      .filter(col("n_words") >= 1)
      .withColumn("n_bpe",
        (size(split(trim(bpeEncodeExpr(col("text"), merges)), "  "))
          - (col("n_words") - 1)).cast("long"))
      .withColumn("n_words", col("n_words").cast("long"))
      .drop("text")

  def bpeEncodeDocs(documents: DataFrame, merges: Seq[(String, String)]): DataFrame =
    withBpeCounts(documents.select(col("doc_id"), col("text")), merges)
      .select(col("doc_id"), col("n_words"), col("n_bpe"),
        round(col("n_bpe") / col("n_words").cast("double"), 4).as("bpe_per_word_r"))

  /** DuckDB oracle for [[bpeEncodeDocs]], generated from the trained
    * merges (the pinned-model dynamic-oracle pattern): the same
    * wrap-every-char representation and the same nested literal
    * replace chain, so DuckDB re-runs the entire encode from raw text
    * — both engines' `replace` scans left-to-right without rescanning
    * replaced output, which the adjacent-occurrence planted docs in
    * q_bpe_encode exercise directly. `extraDocsSql` lets the caller
    * mirror planted rows.
    */
  /** The DuckDB replace-chain mirror of [[bpeEncodeExpr]] — the ONE
    * place the oracle-side encode representation lives, shared by the
    * encode and fertility oracle generators.
    */
  private def bpeEncodeSqlChain(merges: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("'", "''")
    merges.foldLeft(
      "regexp_replace(regexp_replace(trim(text), ' +', chr(1), 'g'), '(?s)(.)', ' \\1 ', 'g')") {
      case (c, (a, b)) =>
        s"replace($c, ' ${esc(a)}  ${esc(b)} ', ' ${esc(a + b)} ')"
    }
  }

  def bpeEncodeOracleSql(merges: Seq[(String, String)], extraDocsSql: String = ""): String = {
    val chain = bpeEncodeSqlChain(merges)
    s"""WITH src AS (SELECT doc_id, text FROM documents$extraDocsSql),
       |d AS (
       |  SELECT doc_id,
       |         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_words,
       |         $chain AS e
       |  FROM src),
       |n AS (
       |  SELECT doc_id, n_words,
       |         len(string_split(trim(e), '  ')) - (n_words - 1) AS n_bpe
       |  FROM d WHERE n_words >= 1)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |       CAST(n_bpe AS BIGINT) AS n_bpe,
       |       round(n_bpe / CAST(n_words AS DOUBLE), 4) AS bpe_per_word_r
       |FROM n ORDER BY doc_id""".stripMargin
  }

  /** Per-language tokenizer fertility under the trained merges —
    * BPE tokens per word by `lang`, the vocabulary-health metric a
    * multilingual data-mixing decision reads (SentencePiece/tokenizer
    * literature: a language at 2× fertility pays twice the context
    * budget per word, so under-merged languages get silently
    * down-weighted unless the mix corrects for it). Shape: the same
    * map-side [[bpeEncodeExpr]] projection as [[bpeEncodeDocs]], then
    * ONE lang-keyed aggregate — output ≤ |langs| rows at any corpus
    * size, partial-agged map-side.
    */
  def bpeFertilityByLang(documents: DataFrame,
                         merges: Seq[(String, String)]): DataFrame =
    withBpeCounts(documents.select(col("lang"), col("text")), merges)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe")).as("n_bpe"),
        round(sum(col("n_bpe")) / sum(col("n_words")).cast("double"), 4)
          .as("fertility_r"))

  /** DuckDB oracle for [[bpeFertilityByLang]] — the same generated
    * replace-chain encode as [[bpeEncodeOracleSql]], aggregated per
    * lang (pinned-model dynamic-oracle pattern).
    */
  def bpeFertilityOracleSql(merges: Seq[(String, String)]): String = {
    val chain = bpeEncodeSqlChain(merges)
    s"""WITH d AS (
       |  SELECT lang,
       |         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_words,
       |         $chain AS e
       |  FROM documents),
       |n AS (
       |  SELECT lang, n_words,
       |         len(string_split(trim(e), '  ')) - (n_words - 1) AS n_bpe
       |  FROM d WHERE n_words >= 1)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_words) AS BIGINT) AS n_words,
       |       CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
       |       round(sum(n_bpe) / CAST(sum(n_words) AS DOUBLE), 4) AS fertility_r
       |FROM n GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer — the SECOND tokenizer
  // family an LLM pipeline ships next to BPE (Kudo 2018, "Subword
  // Regularization"; Kudo & Richardson 2018, SentencePiece): a
  // VOCABULARY of pieces with unigram log-probs, trained by EM over
  // the word histogram, applied by Viterbi (max-likelihood)
  // segmentation. Where BPE greedily merges, the unigram LM SELECTS a
  // vocabulary and segments globally-optimally per word.
  // ------------------------------------------------------------------

  /** UNK cost in integer micro-nats (25 nats ≈ e⁻²⁵ — strictly worse
    * than any trained piece, so the single-char fallback only fires on
    * characters the training never saw). Shared by the Scala
    * segmenter, the column expression, and the generated DuckDB DP.
    */
  private[graft] val SpmUnkCostU6 = 25000000L

  /** Byte-fallback piece cost in integer micro-nats (20 nats per
    * byte — SentencePiece's `--byte_fallback` production default
    * re-expressed in this model's cost space): strictly worse than any
    * trained piece as long as the training histogram's total usage
    * stays under e²⁰ ≈ 4.9·10⁸ (trained cost ≤ ln(total) micro-nats),
    * so fallback only ever fires on characters the training never saw
    * — but, unlike [[SpmUnkCostU6]]'s lump sum, it scales with the
    * character's UTF-8 width and EVERY string becomes tokenizable
    * (UNK rate 0 with fallback on: an unseen char emits its 1-4 byte
    * pieces instead of one untrainable UNK).
    */
  private[graft] val SpmByteCostU6 = 20000000L

  /** Train a unigram-LM piece vocabulary DRIVER-LOCALLY (the bpeTrain
    * precedent — a tokenizer needs the Heaps-bounded word HISTOGRAM,
    * not the corpus, so the only cluster work is one vocab-sized
    * map-side-combined count; at 100 TB train on the histogram of a
    * sample and ship the model like merges.txt):
    *
    *   1. SEED: every substring of every histogram word up to
    *      `maxPieceLen` chars, scored freq·len (the SentencePiece
    *      seed heuristic); all single chars kept unconditionally
    *      (coverage), top multis by (score DESC, piece ASC).
    *   2. EM (hard/Viterbi EM, `emIters` rounds): E = segment each
    *      word TYPE by Viterbi under current costs, fold each piece's
    *      word-count-weighted usage; M = re-estimate costs from usage
    *      and PRUNE to `vocabSize` (single chars always survive with
    *      add-1 usage — the coverage floor; multis by (usage DESC,
    *      piece ASC)). Hard EM keeps every step integer/argmax-
    *      deterministic — same reasoning as bpeTrain's tiebreaks.
    *
    * Costs are quantized to INTEGER micro-nats (round(−ln(p)·1e6)) —
    * the model ships as exact longs, so both engines' DP sums are
    * exact long arithmetic and bit-identical (the dsirWeights rule).
    * Returns (piece, cost_u6) sorted by piece.
    */
  def spmTrainLocal(documents: DataFrame, vocabSize: Int, maxPieceLen: Int,
                    emIters: Int, minWordCount: Long = 1L): Seq[(String, Long)] = {
    require(vocabSize >= 2 && maxPieceLen >= 1 && emIters >= 1,
      s"spmTrainLocal: bad params ($vocabSize, $maxPieceLen, $emIters)")
    val hist: Array[(String, Long)] = documents
      .select(explode(Dedup.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .filter(col("wc") >= minWordCount)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val seedFreq = scala.collection.mutable.HashMap[String, Long]()
    hist.foreach { case (w, wc) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= math.min(maxPieceLen, w.length - i)) {
          val p = w.substring(i, i + l)
          seedFreq(p) = seedFreq.getOrElse(p, 0L) + wc
          l += 1
        }
        i += 1
      }
    }
    val chars = seedFreq.keysIterator.filter(_.length == 1).toSeq.sorted
    def topMulti(scored: Seq[(String, Long)], n: Int): Seq[(String, Long)] =
      scored.filter(_._1.length > 1)
        .sortBy { case (p, s) => (-s, p) }.take(math.max(0, n))
    def quantize(usage: Map[String, Long]): Map[String, Long] = {
      val total = usage.values.sum.toDouble
      usage.map { case (p, c) =>
        p -> math.round((math.log(total) - math.log(c.toDouble)) * 1e6)
      }
    }
    // initial model: seed freqs, length-weighted pre-selection
    val seedMulti = topMulti(
      seedFreq.toSeq.map { case (p, f) => (p, f * p.length) },
      vocabSize - chars.size).map(_._1)
    var cost: Map[String, Long] = quantize(
      (chars ++ seedMulti).map(p => p -> seedFreq(p)).toMap)
    for (_ <- 1 to emIters) {
      val usage = scala.collection.mutable.HashMap[String, Long]()
      hist.foreach { case (w, wc) =>
        spmViterbiLocal(w, cost, maxPieceLen).foreach { p =>
          usage(p) = usage.getOrElse(p, 0L) + wc
        }
      }
      val kept =
        chars.map(c => c -> (usage.getOrElse(c, 0L) + 1L)) ++
          topMulti(usage.toSeq, vocabSize - chars.size)
      cost = quantize(kept.toMap)
    }
    cost.toSeq.sortBy(_._1)
  }

  /** Viterbi segmentation of ONE word under integer micro-nat costs —
    * the reference segmenter the EM trainer uses and the parity target
    * the column-expression DP is pinned against (SpmSpec). Candidate
    * order at each position: minimize (total cost, piece count, −len)
    * — the last component makes every candidate tuple DISTINCT, so the
    * argmin is unique and engine-order-independent (the same tuple
    * both [[spmSegmentFrame]]'s array_min and the generated DuckDB
    * list_sort compare). Unknown single chars cost [[SpmUnkCostU6]].
    */
  private[graft] def spmViterbiLocal(word: String, cost: Map[String, Long],
                                     maxPieceLen: Int): List[String] = {
    // CODEPOINT positions, not UTF-16 units — Spark's substr/length and
    // DuckDB's substr/len both count code points, so the reference
    // segmenter must too or a non-BMP char (one code point, two Java
    // chars) would make the parity targets disagree on position math.
    // BMP-only text is unaffected (code point == char there).
    val cps = word.codePoints.toArray
    val n = cps.length
    if (n == 0) return Nil
    val dpc = new Array[Long](n + 1)
    val dpn = new Array[Long](n + 1)
    val bp = new Array[Int](n + 1)
    var p = 1
    while (p <= n) {
      var best: (Long, Long, Int) = null
      var l = 1
      while (l <= math.min(p, maxPieceLen)) {
        val piece = new String(cps, p - l, l)
        val pc = cost.get(piece)
          .orElse(if (l == 1) Some(SpmUnkCostU6) else None)
        pc.foreach { c =>
          val cand = (dpc(p - l) + c, dpn(p - l) + 1L, -l)
          if (best == null || Ordering[(Long, Long, Int)].lt(cand, best)) {
            best = cand; bp(p) = l
          }
        }
        l += 1
      }
      dpc(p) = best._1; dpn(p) = best._2
      p += 1
    }
    var pieces: List[String] = Nil
    var q = n
    while (q > 0) { pieces = new String(cps, q - bp(q), bp(q)) :: pieces; q -= bp(q) }
    pieces
  }

  /** Reference DP COUNTS — (n_pieces, cost_u6, n_fallback) — for one
    * word under either fallback mode, the parity target the column DP
    * ([[spmSegmentFrame]]) is pinned against in SpmSpec. With
    * `byteFallback` an unseen single char emits its UTF-8 bytes as
    * pieces at [[SpmByteCostU6]] each; without, it is one UNK piece at
    * [[SpmUnkCostU6]]. The argmin tuple stays (cost, count, −len) —
    * the fallback tally rides along and never decides a tie, exactly
    * like the column DP's trailing `u` field.
    */
  private[graft] def spmViterbiLocalCounts(word: String, cost: Map[String, Long],
      maxPieceLen: Int, byteFallback: Boolean): (Long, Long, Long) = {
    val cps = word.codePoints.toArray
    val n = cps.length
    if (n == 0) return (0L, 0L, 0L)
    val dpc = new Array[Long](n + 1)
    val dpn = new Array[Long](n + 1)
    val dpu = new Array[Long](n + 1)
    var p = 1
    while (p <= n) {
      var best: (Long, Long, Int) = null
      var bestU = 0L
      var l = 1
      while (l <= math.min(p, maxPieceLen)) {
        val piece = new String(cps, p - l, l)
        val hit = cost.get(piece)
        val cand: Option[(Long, Long, Long)] = hit match {
          case Some(c) => Some((c, 1L, 0L))
          case None if l == 1 =>
            if (byteFallback) {
              val b = piece.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
              Some((b * SpmByteCostU6, b, b))
            } else Some((SpmUnkCostU6, 1L, 1L))
          case None => None
        }
        cand.foreach { case (c, k, u) =>
          val t = (dpc(p - l) + c, dpn(p - l) + k, -l)
          if (best == null || Ordering[(Long, Long, Int)].lt(t, best)) {
            best = t; bestU = dpu(p - l) + u
          }
        }
        l += 1
      }
      dpc(p) = best._1; dpn(p) = best._2; dpu(p) = bestU
      p += 1
    }
    (dpn(n), dpc(n), dpu(n))
  }

  /** The Viterbi DP as a pure COLUMN EXPRESSION over a `word` column:
    * one `aggregate` fold over positions 1..len, accumulator = the dp
    * array of (cost_u6, n_pieces) structs, each step an `array_min`
    * over the ≤ `maxPieceLen` candidate (cost, count, −len) structs
    * with the trained costs read from a literal map. Exact long
    * arithmetic end to end. Applied to the DISTINCT-word frame, never
    * per occurrence: word TYPES are Heaps-bounded, so the DP runs
    * vocab-many times however Zipf-heavy the corpus, and occurrences
    * pick their result up by broadcast join ([[spmEncodeDocs]]) — the
    * same economics as [[oovRate]]'s df table. BOUNDARY: an
    * ADVERSARIAL open vocabulary — ids/hashes embedded in tokens, so
    * word types grow with the corpus — makes the per-type DP the
    * dominant cost, because its work tracks word types, not
    * occurrences; real text saturates by Heaps' law, and for id-laden
    * feeds pre-normalize (digit-fold / hash-bucket rare words — the
    * minWordCount training lever's encode counterpart) before
    * encoding.
    */
  private[graft] def spmSegmentFrame(words: DataFrame,
                                     model: Seq[(String, Long)],
                                     maxPieceLen: Int,
                                     byteFallback: Boolean = false): DataFrame = {
    val m = typedlit(model.toMap)
    val w = col("word")
    // zero-length guard: sequence(1, 0) is DESCENDING [1, 0] in Spark,
    // so an empty word would iterate invalid positions — filter it out
    // (Dedup.tokens never emits one, but arbitrary word frames from
    // streaming/memo callers must not be able to feed one in)
    val nonEmpty = words.filter(length(w) > 0)
    val dp = aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(0L).as("c"), lit(0L).as("n"), lit(0L).as("u"))),
      (acc, i) => concat(acc, transform(
        array(array_min(filter(
          transform(sequence(lit(1), least(i, lit(maxPieceLen))), l => {
            val piece = w.substr(i - l + 1, l)
            val hit = try_element_at(m, piece)
            // fallback tallies for an UNSEEN l==1 piece: with byte
            // fallback the char emits its 1-4 UTF-8 bytes as pieces at
            // SpmByteCostU6 each; without, one UNK at SpmUnkCostU6.
            // `u` counts fallback pieces and sits LAST in the struct —
            // the argmin tuple stays (c, n, negl), whose negl component
            // is unique per candidate, so u can never decide a tie and
            // the byteFallback=false picks are bit-identical to the
            // pre-u DP.
            val fbCost: Column =
              if (byteFallback) octet_length(piece).cast("long") * lit(SpmByteCostU6)
              else lit(SpmUnkCostU6)
            val fbN: Column =
              if (byteFallback) octet_length(piece).cast("long") else lit(1L)
            struct(
              (try_element_at(acc, i - l + 1).getField("c") +
                coalesce(hit, when(l === 1, fbCost))).as("c"),
              (try_element_at(acc, i - l + 1).getField("n") +
                when(hit.isNotNull, lit(1L)).otherwise(fbN)).as("n"),
              (-l).as("negl"),
              (try_element_at(acc, i - l + 1).getField("u") +
                when(hit.isNotNull, lit(0L)).otherwise(fbN)).as("u"))
          }),
          x => x.getField("c").isNotNull))),
        b => struct(b.getField("c").as("c"), b.getField("n").as("n"),
          b.getField("u").as("u")))),
      acc => try_element_at(acc, lit(-1)))
    nonEmpty.select(w,
      dp.getField("n").as("wn"), dp.getField("c").as("wc_u6"),
      dp.getField("u").as("wu"))
  }

  /** Per-row (doc-keyed) SPM encode counts shared by [[spmEncodeDocs]]
    * and [[spmFertilityByLang]] — explode words, segment the DISTINCT
    * word frame once, broadcast the vocab-sized result back onto the
    * occurrence stream. Docs with no word are dropped (nothing to
    * encode — the bpe convention).
    *
    * `segRows` is the optional PRE-SEGMENTED vocabulary slice — (word,
    * n_pieces, cost_u6), the [[graft.EntrySupport.spmSegLocal]] memo:
    * the segmented word list is a bounded derived artifact of the
    * shipped tokenizer (Heaps-law vocab — 31 types on this corpus),
    * so a memoizing caller replays it as a LocalRelation and the
    * corpus-scan-for-31-words distinct job disappears (1 job instead
    * of 2). Validated LOUDLY in-plan: a data word missing from the
    * slice raises instead of silently dropping its documents (the
    * left-join + raise guard), so an incomplete slice can never fake
    * a smaller corpus. SpmSpec pins memo-fed ≡ internal row-for-row.
    */
  private def withSpmCounts(documents: DataFrame, keyCols: Seq[String],
                            model: Seq[(String, Long)], maxPieceLen: Int,
                            segRows: Option[Seq[(String, Long, Long)]],
                            byteFallback: Boolean = false,
                            fbSegRows: Option[Seq[(String, Long, Long, Long)]] = None): DataFrame = {
    require(!(byteFallback && segRows.nonEmpty),
      "byte-fallback encode takes its slice via fbSegRows — pass segRows = None")
    require(!(fbSegRows.nonEmpty && !byteFallback),
      "fbSegRows is the byte-fallback slice — set byteFallback = true")
    val toks = documents.select(
      keyCols.map(col) :+ explode(Dedup.tokens(col("text"))).as("word"): _*)
    // the missing-word guard shared by both memo-fed paths: an
    // incomplete slice raises instead of silently dropping documents
    def guardWn(j: DataFrame): DataFrame = j.withColumn("wn",
      when(col("wn").isNull, raise_error(concat(
        lit("spm segRows slice is missing word '"), col("word"),
        lit("' — the pre-segmented vocabulary must cover the corpus")))
        .cast("bigint"))
        .otherwise(col("wn")))
    val spark = documents.sparkSession
    import spark.implicits._
    val joined = (segRows, fbSegRows) match {
      case (Some(rows), _) =>
        require(rows.map(_._1).distinct.size == rows.size,
          s"spm segRows must be DISTINCT words, got ${rows.size} rows")
        val seg = spark.createDataset(rows).toDF("word", "wn", "wc_u6")
        guardWn(toks.join(broadcast(seg), Seq("word"), "left"))
      case (_, Some(rows)) =>
        // the byte-fallback memo slice (graft.EntrySupport
        // .spmSegFbLocal): same bounded-artifact rationale as segRows
        // with the fallback tally column `wu` aboard (the same
        // memoized-vocab 1-job shape as the encode twin, instead of
        // re-running the DP in-plan per sample; SpmSpec pins memo-fed
        // ≡ internal)
        require(rows.map(_._1).distinct.size == rows.size,
          s"spm fbSegRows must be DISTINCT words, got ${rows.size} rows")
        val seg = spark.createDataset(rows).toDF("word", "wn", "wc_u6", "wu")
        guardWn(toks.join(broadcast(seg), Seq("word"), "left"))
      case _ =>
        toks.join(broadcast(spmSegmentFrame(
          toks.select(col("word")).distinct(), model, maxPieceLen, byteFallback)),
          Seq("word"))
    }
    val aggs =
      Seq(count(lit(1)).as("n_words"),
        sum(col("wn")).as("n_spm"),
        sum(col("wc_u6")).as("cost_u6")) ++
        (if (byteFallback) Seq(sum(col("wu")).as("n_fb")) else Nil)
    joined
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Unigram-LM encode over a corpus: per doc, word count, Viterbi
    * piece count, EXACT total cost in micro-nats (long — the DP-sum
    * proof the oracle re-derives), and pieces-per-word fertility as
    * one UNROUNDED long/long IEEE division (bit-identical
    * cross-engine; rounding would re-open the .5 boundary — the
    * dsirWeights rule).
    */
  def spmEncodeDocs(documents: DataFrame, model: Seq[(String, Long)],
                    maxPieceLen: Int,
                    segRows: Option[Seq[(String, Long, Long)]] = None,
                    byteFallback: Boolean = false,
                    fbSegRows: Option[Seq[(String, Long, Long, Long)]] = None): DataFrame =
    withSpmCounts(documents.select(col("doc_id"), col("text")),
        Seq("doc_id"), model, maxPieceLen, segRows, byteFallback, fbSegRows)
      .select(Seq(
        col("doc_id"), col("n_words"), col("n_spm"), col("cost_u6")) ++
        (if (byteFallback) Seq(col("n_fb")) else Nil) ++ Seq(
        (col("n_spm").cast("double") / col("n_words").cast("double"))
          .as("spm_per_word")): _*)

  /** Per-language unigram-LM fertility under the same trained model —
    * the direct comparison row for [[bpeFertilityByLang]]: the two
    * tokenizer families graded on the same corpus, per language, the
    * number a multilingual mixing decision actually reads.
    */
  def spmFertilityByLang(documents: DataFrame, model: Seq[(String, Long)],
                         maxPieceLen: Int,
                         segRows: Option[Seq[(String, Long, Long)]] = None): DataFrame =
    withSpmCounts(documents.select(col("lang"), col("text")),
        Seq("lang"), model, maxPieceLen, segRows)
      .select(col("lang"),
        col("n_words"), col("n_spm"),
        (col("n_spm").cast("double") / col("n_words").cast("double"))
          .as("fertility"))

  /** SAMPLED segmentation — subword REGULARIZATION (Kudo 2018 §3: at
    * train time a word's segmentation is sampled, not argmaxed, so
    * the model sees subword variety) with a fully DETERMINISTIC,
    * oracle-checkable sampling story: each candidate piece's cost is
    * perturbed by an INTEGER pseudo-noise in [0, tauU6) derived from
    * md5(word, end-position, piece-length, epoch) — the md5 bridge
    * both engines share — and the DP then argmins the perturbed cost
    * exactly like Viterbi. ε-perturbed argmin IS sampling (a
    * Gumbel-trick shape with a bounded-uniform integer in place of
    * the float Gumbel, which would cost cross-engine ulp parity);
    * `epoch` is the seed — per-epoch bit-reproducible, across epochs
    * diverse. tauU6 = 0 (or 1) degenerates to exact Viterbi
    * (SpmSpec law), and the TRUE model cost of the sampled path —
    * what the output reports — is ≥ the Viterbi cost by optimality
    * (the second law). Same distinct-word + broadcast-back economics
    * as [[spmEncodeDocs]].
    */
  def spmSampleEncodeDocs(documents: DataFrame, model: Seq[(String, Long)],
                          maxPieceLen: Int, tauU6: Long, epoch: Int,
                          segRows: Option[Seq[(String, Long, Long)]] = None): DataFrame = {
    require(tauU6 >= 0, s"tauU6 must be >= 0, got $tauU6")
    val toks = documents.select(
      col("doc_id"), explode(Dedup.tokens(col("text"))).as("word"))
    // memo-fed pre-sampled vocabulary slice (per epoch — the
    // [[spmEncodeDocs]] segRows contract, same loud missing-word guard)
    val joined = segRows match {
      case Some(rows) =>
        require(rows.map(_._1).distinct.size == rows.size,
          s"spm sample segRows must be DISTINCT words, got ${rows.size} rows")
        val spark = documents.sparkSession
        import spark.implicits._
        val seg = spark.createDataset(rows).toDF("word", "wn", "wc_u6")
        toks.join(broadcast(seg), Seq("word"), "left")
          .withColumn("wn",
            when(col("wn").isNull, raise_error(concat(
              lit("spm sample segRows slice is missing word '"), col("word"),
              lit("' — the pre-sampled vocabulary must cover the corpus")))
              .cast("bigint"))
              .otherwise(col("wn")))
      case None =>
        toks.join(broadcast(spmSampleSegmentFrame(
          toks.select(col("word")).distinct(),
          model, maxPieceLen, tauU6, epoch)), Seq("word"))
    }
    joined
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("wn")).as("n_spm"),
        sum(col("wc_u6")).as("cost_u6"))
      .select(col("doc_id"), col("n_words"), col("n_spm"), col("cost_u6"),
        (col("n_spm").cast("double") / col("n_words").cast("double"))
          .as("spm_per_word"))
  }

  /** The ε-perturbed DP of [[spmSampleEncodeDocs]]: candidate tuples
    * are (perturbed cost, TRUE cost, count, −len) — argmin on the
    * perturbed cost, report the true cost — and the noise is the
    * shared h32 bridge mod tauU6, so both engines add identical
    * integers. tauU6 ≤ 1 short-circuits to zero noise ≡ Viterbi.
    */
  private[graft] def spmSampleSegmentFrame(words: DataFrame,
      model: Seq[(String, Long)], maxPieceLen: Int,
      tauU6: Long, epoch: Int): DataFrame = {
    val m = typedlit(model.toMap)
    val w = col("word")
    // same zero-length guard as [[spmSegmentFrame]]
    val nonEmpty = words.filter(length(w) > 0)
    def noise(i: Column, l: Column): Column =
      if (tauU6 <= 1L) lit(0L)
      else conv(substring(md5(concat_ws("|", w, i.cast("string"),
          l.cast("string"), lit(epoch.toString)).cast("binary")), 1, 8), 16, 10)
        .cast("long") % tauU6
    val dp = aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(0L).as("cp"), lit(0L).as("c"), lit(0L).as("n"))),
      (acc, i) => concat(acc, transform(
        array(array_min(filter(
          transform(sequence(lit(1), least(i, lit(maxPieceLen))), l => {
            val pieceCost =
              coalesce(try_element_at(m, w.substr(i - l + 1, l)),
                when(l === 1, lit(SpmUnkCostU6)))
            struct(
              (try_element_at(acc, i - l + 1).getField("cp") + pieceCost +
                noise(i, l)).as("cp"),
              (try_element_at(acc, i - l + 1).getField("c") + pieceCost).as("c"),
              (try_element_at(acc, i - l + 1).getField("n") + 1L).as("n"),
              (-l).as("negl"))
          }),
          x => x.getField("cp").isNotNull))),
        b => struct(b.getField("cp").as("cp"), b.getField("c").as("c"),
          b.getField("n").as("n")))),
      acc => try_element_at(acc, lit(-1)))
    nonEmpty.select(w,
      dp.getField("n").as("wn"), dp.getField("c").as("wc_u6"))
  }

  /** DuckDB oracle for [[spmSampleEncodeDocs]] — the recursive-CTE DP
    * with the SAME integer noise formula inlined, so DuckDB re-runs
    * the whole sampled segmentation from raw text.
    */
  def spmSampleOracleSql(model: Seq[(String, Long)], maxPieceLen: Int,
                         tauU6: Long, epoch: Int): String = {
    def esc(s: String) = s.replace("'", "''")
    val keys = model.map(p => s"'${esc(p._1)}'").mkString(", ")
    val vals = model.map(_._2).mkString(", ")
    val mapSql = s"MAP([$keys], CAST([$vals] AS BIGINT[]))"
    val noiseSql = if (tauU6 <= 1L) "0"
    else s"""(('0x' || substr(md5(word || '|' || CAST(i + 1 AS VARCHAR) ||
         '|' || CAST(l AS VARCHAR) || '|' || '$epoch'), 1, 8))::BIGINT % $tauU6)"""
    s"""WITH RECURSIVE src AS (SELECT doc_id, text FROM documents),
       |toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |                                    x -> x != '')) AS word
       |  FROM src),
       |w AS (SELECT DISTINCT word FROM toks),
       |step AS (
       |  SELECT word, 0 AS i,
       |         [CAST(0 AS BIGINT)] AS dpp, [CAST(0 AS BIGINT)] AS dpc,
       |         [CAST(0 AS BIGINT)] AS dpn
       |  FROM w
       |  UNION ALL
       |  SELECT word, i + 1,
       |         list_append(dpp, best.cp), list_append(dpc, best.c),
       |         list_append(dpn, best.n)
       |  FROM (
       |    SELECT word, i, dpp, dpc, dpn,
       |      list_sort(list_filter(
       |        list_transform(generate_series(1, least(i + 1, $maxPieceLen)),
       |          l -> struct_pack(
       |            cp := dpp[i + 1 - l + 1] + coalesce(
       |                   map_extract($mapSql,
       |                               substr(word, i + 1 - l + 1, l))[1],
       |                   CASE WHEN l = 1 THEN $SpmUnkCostU6 END)
       |                 + $noiseSql,
       |            c := dpc[i + 1 - l + 1] + coalesce(
       |                   map_extract($mapSql,
       |                               substr(word, i + 1 - l + 1, l))[1],
       |                   CASE WHEN l = 1 THEN $SpmUnkCostU6 END),
       |            n := dpn[i + 1 - l + 1] + 1,
       |            negl := -l)),
       |        x -> x.cp IS NOT NULL))[1] AS best
       |    FROM step WHERE i < len(word)) t),
       |seg AS (
       |  SELECT word, dpn[-1] AS wn, dpc[-1] AS wc_u6
       |  FROM step WHERE i = len(word))
       |SELECT t.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(s.wn) AS BIGINT) AS n_spm,
       |       CAST(sum(s.wc_u6) AS BIGINT) AS cost_u6,
       |       CAST(sum(s.wn) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |         AS spm_per_word
       |FROM toks t JOIN seg s USING (word)
       |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin
  }

  /** The generated-DuckDB mirror of the SPM Viterbi DP — a recursive
    * CTE over the distinct-word frame carrying the dp cost/count LISTS
    * as state, one row per (word, position), candidates built with the
    * same (cost, count, −len) struct min and the same literal
    * micro-nat map, so DuckDB re-runs the ENTIRE segmentation from raw
    * text (the pinned-model dynamic-oracle pattern of
    * [[bpeEncodeOracleSql]]). Shared by the encode and fertility
    * oracle generators.
    */
  private def spmDpSqlCtes(model: Seq[(String, Long)], maxPieceLen: Int,
                           srcSql: String,
                           byteFallback: Boolean = false): String = {
    def esc(s: String) = s.replace("'", "''")
    val keys = model.map(p => s"'${esc(p._1)}'").mkString(", ")
    val vals = model.map(_._2).mkString(", ")
    val mapSql = s"MAP([$keys], CAST([$vals] AS BIGINT[]))"
    if (byteFallback)
      // the byte-fallback DP: dpu tracks fallback pieces, an unseen
      // single char costs strlen (= UTF-8 bytes; DuckDB substr/len are
      // codepoint-based like Spark's) × SpmByteCostU6 and counts its
      // bytes as pieces; struct field order (c, n, negl, u) mirrors the
      // Spark candidate struct so list_sort picks identically
      return s"""src AS ($srcSql),
       |toks AS (
       |  SELECT * REPLACE (unnest(list_filter(string_split(text, ' '),
       |                                       x -> x != '')) AS text)
       |  FROM src),
       |w AS (SELECT DISTINCT text AS word FROM toks),
       |step AS (
       |  SELECT word, 0 AS i,
       |         [CAST(0 AS BIGINT)] AS dpc, [CAST(0 AS BIGINT)] AS dpn,
       |         [CAST(0 AS BIGINT)] AS dpu
       |  FROM w
       |  UNION ALL
       |  SELECT word, i + 1,
       |         list_append(dpc, best.c), list_append(dpn, best.n),
       |         list_append(dpu, best.u)
       |  FROM (
       |    SELECT word, i, dpc, dpn, dpu,
       |      list_sort(list_filter(
       |        list_transform(generate_series(1, least(i + 1, $maxPieceLen)),
       |          l -> struct_pack(
       |            c := dpc[i + 1 - l + 1] + coalesce(
       |                   map_extract($mapSql,
       |                               substr(word, i + 1 - l + 1, l))[1],
       |                   CASE WHEN l = 1 THEN
       |                     strlen(substr(word, i + 1 - l + 1, l))
       |                       * $SpmByteCostU6 END),
       |            n := dpn[i + 1 - l + 1] + CASE WHEN
       |                   map_extract($mapSql,
       |                               substr(word, i + 1 - l + 1, l))[1]
       |                   IS NOT NULL THEN 1
       |                   ELSE strlen(substr(word, i + 1 - l + 1, l)) END,
       |            negl := -l,
       |            u := dpu[i + 1 - l + 1] + CASE WHEN
       |                   map_extract($mapSql,
       |                               substr(word, i + 1 - l + 1, l))[1]
       |                   IS NOT NULL THEN 0
       |                   ELSE strlen(substr(word, i + 1 - l + 1, l)) END)),
       |        x -> x.c IS NOT NULL))[1] AS best
       |    FROM step WHERE i < len(word)) t),
       |seg AS (
       |  SELECT word, dpn[-1] AS wn, dpc[-1] AS wc_u6, dpu[-1] AS wu
       |  FROM step WHERE i = len(word))""".stripMargin
    s"""src AS ($srcSql),
       |toks AS (
       |  SELECT * REPLACE (unnest(list_filter(string_split(text, ' '),
       |                                       x -> x != '')) AS text)
       |  FROM src),
       |w AS (SELECT DISTINCT text AS word FROM toks),
       |step AS (
       |  SELECT word, 0 AS i,
       |         [CAST(0 AS BIGINT)] AS dpc, [CAST(0 AS BIGINT)] AS dpn
       |  FROM w
       |  UNION ALL
       |  SELECT word, i + 1,
       |         list_append(dpc, best.c), list_append(dpn, best.n)
       |  FROM (
       |    SELECT word, i, dpc, dpn,
       |      list_sort(list_filter(
       |        list_transform(generate_series(1, least(i + 1, $maxPieceLen)),
       |          l -> struct_pack(
       |            c := dpc[i + 1 - l + 1] + coalesce(
       |                   map_extract($mapSql,
       |                               substr(word, i + 1 - l + 1, l))[1],
       |                   CASE WHEN l = 1 THEN $SpmUnkCostU6 END),
       |            n := dpn[i + 1 - l + 1] + 1,
       |            negl := -l)),
       |        x -> x.c IS NOT NULL))[1] AS best
       |    FROM step WHERE i < len(word)) t),
       |seg AS (
       |  SELECT word, dpn[-1] AS wn, dpc[-1] AS wc_u6
       |  FROM step WHERE i = len(word))""".stripMargin
  }

  /** DuckDB oracle for [[spmEncodeDocs]] under a trained model;
    * `extraDocsSql` mirrors planted rows (the bpe convention).
    */
  def spmEncodeOracleSql(model: Seq[(String, Long)], maxPieceLen: Int,
                         extraDocsSql: String = ""): String =
    s"""WITH RECURSIVE ${spmDpSqlCtes(model, maxPieceLen,
        s"SELECT doc_id, text FROM documents$extraDocsSql")}
       |SELECT t.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(s.wn) AS BIGINT) AS n_spm,
       |       CAST(sum(s.wc_u6) AS BIGINT) AS cost_u6,
       |       CAST(sum(s.wn) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |         AS spm_per_word
       |FROM toks t JOIN seg s ON s.word = t.text
       |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for the byte-fallback encode
    * (`spmEncodeDocs(byteFallback = true)`): the fallback DP restated
    * as a recursive CTE with the dpu fallback tally; `extraDocsSql`
    * mirrors the planted unseen-character rows.
    */
  def spmEncodeFallbackOracleSql(model: Seq[(String, Long)], maxPieceLen: Int,
                                 extraDocsSql: String = ""): String =
    s"""WITH RECURSIVE ${spmDpSqlCtes(model, maxPieceLen,
        s"SELECT doc_id, text FROM documents$extraDocsSql",
        byteFallback = true)}
       |SELECT t.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(s.wn) AS BIGINT) AS n_spm,
       |       CAST(sum(s.wc_u6) AS BIGINT) AS cost_u6,
       |       CAST(sum(s.wu) AS BIGINT) AS n_fb,
       |       CAST(sum(s.wn) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |         AS spm_per_word
       |FROM toks t JOIN seg s ON s.word = t.text
       |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for [[spmFertilityByLang]] — same DP, lang-keyed. */
  def spmFertilityOracleSql(model: Seq[(String, Long)],
                            maxPieceLen: Int): String =
    s"""WITH RECURSIVE ${spmDpSqlCtes(model, maxPieceLen,
        "SELECT lang, text FROM documents")}
       |SELECT t.lang,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(s.wn) AS BIGINT) AS n_spm,
       |       CAST(sum(s.wn) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |         AS fertility
       |FROM toks t JOIN seg s ON s.word = t.text
       |GROUP BY t.lang ORDER BY lang""".stripMargin

  /** TF-IDF top terms per document: tf = in-doc term count, idf =
    * ln(N/df) with N = all docs and df from the same corpus, top `k`
    * terms by score (ties to the lexicographically first token).
    * [[tfidfTopTermsFrom]] over an uncapped [[postingStoreFrame]].
    */
  def tfidfTopTerms(documents: DataFrame, k: Int): DataFrame =
    tfidfTopTermsFrom(postingStoreFrame(documents, 1.0), k)

  /** Sparse TF-IDF cosine retrieval over the inverted index — the
    * LEXICAL twin of [[graft.ops.Sim.cosineTopK]]'s dense-embedding
    * search, and the model-free baseline every retrieval pipeline
    * starts from: docs become L2-normalized tf·idf vectors over the
    * token vocabulary, and similarity is computed WITHOUT ever
    * materializing vectors — pairs meet through the posting lists of
    * their shared tokens (Bayardo et al., WWW 2007 "Scaling Up All
    * Pairs Similarity Search"), so two docs with no token in common
    * cost literally nothing. Query docs are doc_id < nQueries.
    *
    * The df cap is the classic posting-list bound: a token in more
    * than `dfCapFrac` of all docs is dropped BEFORE pair generation
    * (its idf is near zero anyway), which caps the worst token's pair
    * fan-out at (dfCapFrac·N)² — the lever that keeps the join from
    * going quadratic at 100 TB. Weights and norms are defined over the
    * kept vocabulary, so the pruned space is self-consistent. Next
    * levers at scale, in order: Bayardo prefix filtering, then LSH
    * over the sparse vectors.
    *
    * [[tfidfCosineTopKFrom]] over a [[postingStoreFrame]] capped at
    * `dfCapFrac`.
    */
  def tfidfCosineTopK(documents: DataFrame, nQueries: Int, k: Int,
                      dfCapFrac: Double): DataFrame =
    tfidfCosineTopKFrom(postingStoreFrame(documents, dfCapFrac), nQueries, k)

  /** BM25 retrieval over the inverted index (Robertson et al., TREC-3;
    * the Lucene/Elasticsearch default and the lexical baseline every
    * dense retriever is benchmarked against) — the step up from
    * [[tfidfCosineTopK]]'s raw tf·idf: term-frequency saturation (k1)
    * stops a 100-mention doc from scoring 100× a 1-mention doc, and
    * length normalization (b) stops long docs from winning by bulk.
    * Query = the distinct token set of each query doc (doc_id <
    * nQueries); candidates score
    *
    *   Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avglen))
    *
    * with the Lucene idf = ln(1 + (N−df+0.5)/(df+0.5)), which is
    * positive even for df > N/2 tokens.
    *
    * [[bm25TopKFrom]] over an uncapped [[postingStoreFrame]]. BM25
    * scores every posting, `kept` or not, so a store's df cap never
    * changes a BM25 answer; a caller that wants the cap filters `kept`
    * itself.
    */
  def bm25TopK(documents: DataFrame, nQueries: Int, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKFrom(postingStoreFrame(documents, 1.0, k1, b), nQueries, k)

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the
    * standard way hybrid retrieval combines rankers with incomparable
    * score scales (a BM25 logit and a cosine in [−1,1] cannot be
    * averaged): each ranking contributes 1/(c + rank) per candidate,
    * and candidates missing from a list simply contribute nothing.
    * c = 60 is the paper's constant. Input: any number of (q_id, c_id,
    * rnk) rankings; output the fused ranking per query.
    *
    * Shape: rankings are already top-k-sized (queries×k rows) — the
    * union + fused aggregate is model-sized, never corpus-sized; the
    * heavy lifting happened in the rankers.
    */
  def rrfFuse(rankings: Seq[DataFrame], c: Double = 60.0, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rankings.nonEmpty, "need at least one ranking")
    val unioned = rankings
      .map(_.select(col("q_id"), col("c_id"), col("rnk")))
      .reduce(_ unionByName _)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_r").desc, col("c_id").asc)
    unioned
      .groupBy(col("q_id"), col("c_id"))
      .agg(
        count(lit(1)).as("n_lists"),
        round(sum(lit(1.0) / (lit(c) + col("rnk"))), 6).as("rrf_r"))
      .withColumn("fused_rnk", row_number().over(w).cast("long"))
      .filter(col("fused_rnk") <= k)
  }

  /** Hybrid retrieval: the tf·idf-cosine ranking ([[tfidfCosineTopK]])
    * and the BM25 ranking ([[bm25TopK]]) RRF-fused ([[rrfFuse]]
    * semantics) in one pass — [[hybridRrfTopKFrom]] over a
    * [[postingStoreFrame]] capped at `dfCapFrac`. HybridRrfSpec pins it
    * equal to the three operators composed, row for row.
    */
  def hybridRrfTopK(documents: DataFrame, nQueries: Int, kPer: Int,
                    kFused: Int, dfCapFrac: Double, k1: Double = 1.2,
                    b: Double = 0.75, c: Double = 60.0): DataFrame =
    hybridRrfTopKFrom(postingStoreFrame(documents, dfCapFrac, k1, b),
      nQueries, kPer, kFused, c)

  /** The fusion back-half of [[hybridRrfTopKFrom]]: rank the (q_id,
    * doc_id, cos_r, n_kept, bm25_r) aggregate twice and RRF-fuse.
    * Kept-pairs-first ordering: rows with n_kept = 0 exist only in the
    * BM25 universe, so they sort after every genuine tf·idf candidate
    * and the row numbers of the n_kept > 0 prefix reproduce
    * tfidfCosineTopK's ranking bit-for-bit.
    */
  private def fuseScored(scored: DataFrame, kPer: Int, kFused: Int,
                         c: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCos = Window.partitionBy(col("q_id"))
      .orderBy((col("n_kept") > 0).desc, col("cos_r").desc, col("doc_id").asc)
    val wBm = Window.partitionBy(col("q_id"))
      .orderBy(col("bm25_r").desc, col("doc_id").asc)
    val ranked = scored
      .withColumn("rc", row_number().over(wCos))
      .withColumn("rb", row_number().over(wBm))
      .withColumn("in_cos", col("n_kept") > 0 && col("rc") <= kPer)
      .withColumn("in_bm", col("rb") <= kPer)
      .filter(col("in_cos") || col("in_bm"))
    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_r").desc, col("c_id").asc)
    ranked
      .select(col("q_id"), col("doc_id").as("c_id"),
        (when(col("in_cos"), 1L).otherwise(0L) +
          when(col("in_bm"), 1L).otherwise(0L)).as("n_lists"),
        round(
          when(col("in_cos"), lit(1.0) / (lit(c) + col("rc"))).otherwise(lit(0.0)) +
            when(col("in_bm"), lit(1.0) / (lit(c) + col("rb"))).otherwise(lit(0.0)),
          6).as("rrf_r"))
      .withColumn("fused_rnk", row_number().over(wF).cast("long"))
      .filter(col("fused_rnk") <= kFused)
  }

  /** The IMPACT-STYLE posting store every lexical retrieval query can
    * read instead of re-running tokenize → collapse → weight per
    * query: per (doc_id, token) — tf, df, the df-cap keep flag, the
    * raw tf·idf weight `w_t`, the L2-unit tf·idf weight over the kept
    * vocabulary `wn` (NULL on capped tokens), and the fully
    * precomputed BM25 contribution `bm_w`. Precomputing per-posting
    * score contributions at INDEX time is standard public practice
    * (Anh & Moffat, SIGIR 2006 "Pruned query evaluation using
    * pre-computed impacts"; Lucene persists per-doc norms the same
    * way), and it is the 100 TB shape: the corpus tokenizes once per
    * version, and every ranker becomes a broadcast-query posting join
    * over the store. Constants (dfCapFrac, k1, b) are baked at build
    * time — the store is versioned by its similarity config exactly as
    * a search index is.
    *
    * Weight definitions: tf·idf N counts ALL docs (`__nt`), BM25's N
    * counts token-BEARING docs (`__n`), avgdl = Σtf / #token-bearing
    * docs, cosine norms fold over the kept vocabulary only.
    */
  def postingStoreFrame(documents: DataFrame, dfCapFrac: Double,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dfCapFrac > 0.0 && dfCapFrac <= 1.0, "df cap must be a fraction of N")
    val byDoc = documents.repartition(col("doc_id"))
    val tf = graft.CacheScope.cached(byDoc
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocsT = documents.agg(countDistinct(col("doc_id")).cast("double").as("__nt"))
    val stats = tf.agg(
      countDistinct(col("doc_id")).cast("double").as("__n"),
      (sum(col("tf")).cast("double") /
        countDistinct(col("doc_id")).cast("double")).as("__avgdl"))
    val kept = col("df") <= col("__nt") * dfCapFrac
    val w = col("tf") * log(col("__nt") / col("df"))
    val byDocW = Window.partitionBy(col("doc_id"))
    val idf = log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5))
    val bmNorm = col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl")))
    tf.join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(nDocsT))
      .crossJoin(broadcast(stats))
      .withColumn("dl", sum(col("tf")).over(byDocW))
      .withColumn("nrm",
        sqrt(sum(when(kept, w * w).otherwise(lit(0.0))).over(byDocW)))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        kept.as("kept"),
        w.as("w_t"),
        when(kept, w / col("nrm")).as("wn"),
        (idf * bmNorm).as("bm_w"))
  }

  /** [[tfidfTopTerms]] over the posting store: the weight is read, not
    * recomputed — one rank window, zero joins, one job.
    */
  def tfidfTopTermsFrom(store: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    store
      .withColumn("tfidf", round(col("w_t"), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("tfidf"), col("rnk"))
  }

  /** [[tfidfCosineTopK]] over the posting store (kept rows carry their
    * unit weights): broadcast-query posting join + rank window — two
    * jobs; ONE when the bounded query slice arrives as a driver-local
    * frame (`qSlice`: columns q_id / token / qw, the search-request
    * side of the retrieval call — 100 TB of corpus scales the store,
    * never the query set, so holding the slice driver-side is the same
    * sanctioned bounded-input pattern as Sim's query matrices, and its
    * broadcast needs no scan job).
    */
  def tfidfCosineTopKFrom(store: DataFrame, nQueries: Int, k: Int,
                          qSlice: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val unit = store.filter(col("wn").isNotNull)
      .select(col("doc_id"), col("token"), col("wn"))
    val q = qSlice.map(_.filter(col("qw").isNotNull).select(col("q_id"), col("token"), col("qw")))
      .getOrElse(unit.filter(col("doc_id") < nQueries)
        .select(col("doc_id").as("q_id"), col("token"), col("wn").as("qw")))
    val scored = unit
      .join(broadcast(q), Seq("token"))
      .filter(col("q_id") =!= col("doc_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(
        count(lit(1)).as("n_common"),
        round(sum(col("wn") * col("qw")), 4).as("cos_r"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("doc_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("doc_id").as("c_id"), col("n_common"),
        col("cos_r"), col("rnk"))
  }

  /** [[bm25TopK]] over the posting store (per-posting `bm_w` is the
    * whole score term): broadcast-query posting join + rank window —
    * two jobs; ONE with a driver-local `qSlice` (see
    * [[tfidfCosineTopKFrom]]'s bounded-query note). Every posting
    * scores, `kept` or not: the store's df cap bounds the tf·idf
    * rankers only, and a caller that wants it here passes
    * `store.filter(col("kept"))`.
    */
  def bm25TopKFrom(store: DataFrame, nQueries: Int, k: Int,
                   qSlice: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qSlice.map(_.select(col("q_id"), col("token")))
      .getOrElse(store.filter(col("doc_id") < nQueries)
        .select(col("doc_id").as("q_id"), col("token")))
    val scored = store
      .join(broadcast(q), Seq("token"))
      .filter(col("q_id") =!= col("doc_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(
        count(lit(1)).as("n_common"),
        round(sum(col("bm_w")), 4).as("bm25_r"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("bm25_r").desc, col("doc_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("doc_id").as("c_id"), col("n_common"),
        col("bm25_r"), col("rnk"))
  }

  /** [[hybridRrfTopK]] over the posting store: both rankers' per-token
    * terms are store columns, so the whole hybrid is ONE broadcast-query
    * posting join + the fusion back-half ([[fuseScored]]) — the two
    * rankings are two score columns of the same (q_id, c_id) aggregate,
    * where composing the three operators would run the posting join
    * once per ranker.
    *
    * The rankers disagree only on the per-token score term and the
    * candidate universe: tf·idf pairs meet through KEPT tokens only,
    * BM25 through any shared token. The join streams ALL shared tokens
    * and carries the kept predicate as a column (the query-side unit
    * weight `qw` is NULL exactly on capped tokens): cosine terms and
    * the kept-token count fold conditionally, and the cosine rank
    * orders kept-pairs first, so candidates sharing only capped tokens
    * can never steal a cosine rank. Equal to the composed form up to
    * rounding-boundary ties: the sums run in a different order, so a
    * score landing EXACTLY on a round(...,4)/round(...,6) boundary
    * could tip the other way (none does in the tested corpora).
    */
  def hybridRrfTopKFrom(store: DataFrame, nQueries: Int, kPer: Int,
                        kFused: Int, c: Double = 60.0,
                        qSlice: Option[DataFrame] = None): DataFrame = {
    val q = qSlice.map(_.select(col("q_id"), col("token"), col("qw")))
      .getOrElse(store.filter(col("doc_id") < nQueries)
        .select(col("doc_id").as("q_id"), col("token"), col("wn").as("qw")))
    val scored = store
      .join(broadcast(q), Seq("token"))
      .filter(col("q_id") =!= col("doc_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(
        round(sum(when(col("kept"), col("wn") * col("qw")).otherwise(lit(0.0))), 4)
          .as("cos_r"),
        sum(when(col("kept") && col("qw").isNotNull, 1L).otherwise(0L)).as("n_kept"),
        round(sum(col("bm_w")), 4).as("bm25_r"))
    fuseScored(scored, kPer, kFused, c)
  }

  /** Polynomial rolling hash over the raw character stream
    * (Rabin-Karp base 31 mod 2³¹−1) — the classic incremental document
    * fingerprint. Sequential by definition, so it's an `aggregate`
    * left fold; fine as a per-document map-side pass, but prefer
    * [[fingerprints]] (sortable bottom-k sketch) when fingerprints
    * need to be comparable under edits.
    */
  def rollingHash(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      expr(
        """aggregate(split(text, ''), cast(0 as bigint),
          |          (acc, c) -> (acc * 31 + ascii(c)) % 2147483647)""".stripMargin)
        .as("rhash"))

  /** Document fingerprint: the 4 lexicographically-smallest md5s of the
    * distinct token set, dash-joined — a bottom-k sketch; equal
    * fingerprints ⇒ near-identical token sets. Map-side only.
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      expr(
        """array_join(slice(array_sort(transform(
          |  array_distinct(filter(split(text, ' '), t -> t != '')),
          |  t -> md5(cast(t as binary)))), 1, 4), '-')""".stripMargin).as("fingerprint"))

  /** Per-document Shannon entropy of the unigram distribution,
    * H = ln N − (Σ c·ln c)/N over token counts c — the lexical-
    * diversity signal (low entropy ⇒ repetitive/templated text, a
    * standard corpus-quality filter next to [[qualityScore]] and the
    * Gopher rules). Natural log, rounded to 4dp.
    *
    * Shape: explode → (doc, token) count → per-doc agg. Both groupBys
    * partial-aggregate map-side; the second is keyed by doc_id
    * (high-cardinality ⇒ even shuffle). Zero-token docs vanish at the
    * explode, matching the oracle's unnest. The identity avoids a
    * per-token p·ln p join against a per-doc total — one pass, no
    * self-join.
    */
  def tokenEntropy(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).cast("long").as("n_toks"),
        round(log(sum(col("c"))) - sum(col("c") * log(col("c"))) / sum(col("c")), 4)
          .as("entropy_r"))

  /** Canonical text normalization — the first stage of every corpus
    * intake pipeline (and the precondition for exact dedup actually
    * catching near-identical pages): lowercase, fold every non-
    * alphanumeric run to a single space, trim. Emits the normalized
    * length and an md5 over the normalized form (the exact-dedup key
    * post-normalization) plus a short prefix for human inspection —
    * not the full normalized body, so the result table stays
    * metadata-sized.
    *
    * Map-side only (regexp_replace/lower/md5 are codegen'd); at 100 TB
    * this is a pure scan-transform with no shuffle.
    */
  def normalizeText(documents: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_raw"),
      length(norm).cast("long").as("n_norm"),
      md5(norm.cast("binary")).as("norm_hash"),
      substring(norm, 1, 32).as("norm_prefix"))
  }

  /** Inverted index build: token → document-frequency + the sorted
    * posting list (comma-joined doc_ids) — the retrieval-side data
    * structure behind keyword search and the decontamination overlap
    * checks ([[graft.ops.Corpus.decontaminate]]).
    *
    * Shape: explode → (doc, token) distinct (partial agg shrinks each
    * partition to its distinct pairs map-side) → ONE token-keyed
    * groupBy building df + postings together. At 100 TB the postings
    * string for a stopword-grade token is unbounded — production
    * shards the posting list by `pmod(hash(doc_id), nSegments)` so
    * each segment row stays bounded (the standard segmented/sharded
    * index layout); `minDf` prunes hapax noise before the heavy
    * string assembly.
    */
  def invertedIndex(documents: DataFrame, minDf: Int): DataFrame =
    documents
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
      .distinct()
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("df"),
        array_join(
          transform(sort_array(collect_set(col("doc_id"))), _.cast("string")),
          ",").as("postings"))
      .filter(col("df") >= minDf)

  /** Adjacent-bigram pointwise mutual information over the corpus:
    * pmi(x,y) = ln(c_xy · N / (c_x · c_y)) with marginals taken from
    * the bigram table itself (left/right position marginals) — the
    * classic collocation detector (Church & Hanks 1990): high PMI ⇒
    * the pair co-occurs far above chance (a phrase), PMI ≈ 0 ⇒
    * independent. `minCount` drops unstable low-count pairs, as
    * standard.
    *
    * Shape: one map-side bigram explode (same pattern as
    * [[bigramLogProb]]), ONE groupBy building the bigram table
    * (cached — marginals and total all derive from it, vocab²-bounded,
    * not corpus-sized), two vocab-sized marginal joins, scalar total
    * via crossJoin(broadcast). At 100 TB everything after the first
    * groupBy operates on the bigram vocabulary, which Heaps' law keeps
    * orders of magnitude below the corpus.
    */
  def bigramPmi(documents: DataFrame, minCount: Int): DataFrame = {
    val bi = documents
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(
        explode(sequence(lit(1), size(col("toks")) - 1)).as("i"), col("toks"))
      .select(
        try_element_at(col("toks"), col("i")).as("w1"),
        try_element_at(col("toks"), col("i") + 1).as("w2"))
    // marginals and the grand total fold as windows over the BIGRAM-
    // VOCABULARY frame (Heaps-bounded, the q_zipf/q_bpe_pairs tier —
    // never instance-sized): one job end-to-end instead of a cached
    // collapse plus three aggregate-and-join-back passes. At 100 TB
    // the partition-less total window is the one to swap for a
    // broadcast scalar; the w1/w2 marginal windows shard by token and
    // survive as-is.
    import org.apache.spark.sql.expressions.Window
    bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .withColumn("c_x", sum(col("c_xy")).over(Window.partitionBy(col("w1"))))
      .withColumn("c_y", sum(col("c_xy")).over(Window.partitionBy(col("w2"))))
      .withColumn("__n",
        sum(col("c_xy")).over(Window.partitionBy()).cast("double"))
      .filter(col("c_xy") >= minCount)
      .select(
        col("w1"), col("w2"), col("c_xy"),
        round(log(col("c_xy") * col("__n") / (col("c_x") * col("c_y"))), 4).as("pmi"))
  }

  /** URL decomposition via the built-in `parse_url` (host / path /
    * one query parameter) — the provenance-analysis primitive (group
    * by host for domain mixes, path prefixes for site sections, query
    * params for tracking tags). The synthetic corpus carries no URL
    * column, so one is derived deterministically from (source, doc_id,
    * lang) first; a real crawl feeds its `url` column straight in.
    * Map-side, codegen'd, no shuffle.
    */
  def parseUrls(documents: DataFrame): DataFrame = {
    val url = concat(
      lit("https://"), col("source"), lit(".example.com/docs/"),
      col("doc_id").cast("string"), lit("?lang="), col("lang"))
    documents.select(
      col("doc_id"),
      url.as("url"),
      parse_url(url, lit("HOST")).as("host"),
      parse_url(url, lit("PATH")).as("path"),
      parse_url(url, lit("QUERY"), lit("lang")).as("q_lang"))
  }

  /** Canonical-URL dedup: lowercase the host, drop the ENTIRE query
    * string, strip the trailing slash, then keep the smallest doc_id
    * per canonical form — the crawl-frontier dedup every web pipeline
    * runs BEFORE fetching (the cheapest dedup there is: no content
    * needed). NOTE the policy is aggressive by design: dropping the
    * whole query string collapses tracking params (utm_*, click ids)
    * AND content-bearing ones (?id=2) — the right default for a
    * frontier (re-fetching a page is cheap, fetching dups at crawl
    * scale is not); keep a param allowlist upstream if query strings
    * are load-bearing for your sites. An unparseable URL (parse_url →
    * NULL host) canonicalizes to ITSELF, so malformed rows never
    * collapse into one NULL group — each passes through as its own
    * keeper. Emits every row with its canonical key, the keeper, and
    * the variant count so the caller can audit what collapsed.
    *
    * Shape: canonicalization is pure map-side (`parse_url` is
    * codegen'd); the keeper rule is one window keyed by the canonical
    * string — at 100 TB swap the key for xxhash64(canon) (8-byte
    * shuffle), the standing substitution.
    */
  def canonicalUrlDedup(urls: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = coalesce(
      concat(
        lower(parse_url(col("url"), lit("HOST"))),
        regexp_replace(parse_url(col("url"), lit("PATH")), "/$", "")),
      col("url"))
    val w = Window.partitionBy(col("canon"))
    urls
      .withColumn("canon", canon)
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .withColumn("n_variants", count(lit(1)).over(w))
      .select(col("doc_id"), col("canon"), col("keep_id"), col("n_variants"),
        when(col("doc_id") === col("keep_id"), 1L).otherwise(0L).as("keep"))
  }

  /** Deflate compression ratio per document — the classic
    * "compressibility" quality signal (Gopher and CCNet both gate on
    * it): highly repetitive/templated text compresses far below
    * natural prose, random noise barely compresses at all. Pure
    * per-partition computation over a broadcast-free codec — the
    * THIRD sanctioned `mapPartitions` site (after BPE apply and the
    * media codec): DEFLATE is inherently imperative byte-level state,
    * there is no Catalyst expression for it, and no oracle mirrors it
    * (DuckDB has no zlib surface) — so its contract is LAW-based
    * (CompressionSpec: repetition ⇒ low ratio, shuffled vocabulary ⇒
    * higher ratio, ratio bounds) rather than value-based, and it is
    * deliberately NOT a declared query.
    */
  def compressionRatio(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val in = documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
    in.mapPartitions { rows =>
      val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
      val buf = new Array[Byte](1 << 16)
      val mapped = rows.map { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        deflater.reset()
        deflater.setInput(bytes)
        deflater.finish()
        var out = 0
        while (!deflater.finished()) out += deflater.deflate(buf)
        val ratio = if (bytes.isEmpty) 1.0 else out.toDouble / bytes.length
        (id, bytes.length.toLong, out.toLong,
          math.rint(ratio * 10000) / 10000)
      }
      // release the native zlib stream when the partition is exhausted —
      // finalizer-only cleanup accumulates off-heap memory on long-lived
      // executors running many tasks
      new Iterator[(Long, Long, Long, Double)] {
        def hasNext: Boolean = {
          val h = mapped.hasNext
          if (!h) deflater.end()
          h
        }
        def next(): (Long, Long, Long, Double) = mapped.next()
      }
    }.toDF("doc_id", "n_bytes", "n_deflate", "ratio_r")
  }

  /** Per-source KL divergence from the corpus unigram distribution —
    * D(P_src ‖ P_corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) — the
    * distributional twin of [[Dedup.sourceOverlapMatrix]]'s set
    * overlap: a source whose token MIX drifts far from the blend is
    * jargon, another language, or spam, even when its vocabulary
    * overlaps fine. Zero-denominator is impossible by construction
    * (every source token is in the corpus marginal).
    *
    * Shape: one (source, token) aggregate (vocab·sources rows), the
    * corpus marginal derived FROM it by a second vocab-sized
    * aggregate joined back broadcast, per-source totals likewise —
    * the corpus is scanned once and everything downstream is
    * vocabulary-sized.
    */
  def sourceKlDivergence(documents: DataFrame): DataFrame = {
    val st = graft.CacheScope.cached(
      documents
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c")))
    // the grand total is the sum of the per-source totals — fold it
    // over a partition-less window on the SOURCE-COUNT frame (a handful
    // of rows) instead of paying a third broadcast-build job to re-scan
    // the collapse for one scalar
    val srcTot = st.groupBy(col("source")).agg(sum(col("c")).as("s_tot"))
      .withColumn("g_tot", sum(col("s_tot"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy())
        .cast("double"))
    val corpTok = st.groupBy(col("token")).agg(sum(col("c")).as("t_tot"))
    st
      .join(broadcast(corpTok), Seq("token"))
      .join(broadcast(srcTot), Seq("source"))
      .select(col("source"), col("s_tot"),
        (col("c") / col("s_tot") *
          log(col("c") / col("s_tot") / (col("t_tot") / col("g_tot"))))
          .as("term"))
      .groupBy(col("source"))
      .agg(max(col("s_tot")).as("n_tokens"), round(sum(col("term")), 6).as("kl_r"))
  }

  /** Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over
    * the whole vocabulary — natural corpora land near −1 (Zipf's
    * law), and a corpus that doesn't is synthetic, truncated, or
    * template-spam. One number plus its r², the cheapest "does this
    * corpus look like language?" gate.
    *
    * Shape: the rank window runs over the VOCABULARY (Heaps' law —
    * sublinear in the corpus, but still corpus-CONNECTED: ~n^0.5 grows
    * without bound), and the fit is the algebraic regr_ pair —
    * map-side combinable. The corpus is touched once for the counts.
    *
    * Rank strategy is size-gated: under
    * [[ZipfRankWindowMaxBytes]] of input the plain partition-less
    * window is cheapest and its single task holds only a bounded
    * corpus's vocabulary; past the gate the EXACT same rank comes from
    * [[Relational.scaleRowNumber]] (range-partition + local rank +
    * bounded per-partition offsets) so no task ever holds the whole
    * vocabulary. The gate reads the optimizer's size statistic — no
    * probe job. Path parity is pinned by Batch16OpsSpec.
    */
  val ZipfRankWindowMaxBytes: Long = 1L << 30
  @volatile private[graft] var testForceScaleZipfRank: Boolean = false
  def zipfFit(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = documents
      .select(explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val keys = Seq(col("freq").desc, col("token").asc)
    val scale = testForceScaleZipfRank ||
      documents.queryExecution.optimizedPlan.stats.sizeInBytes > ZipfRankWindowMaxBytes
    val ranked =
      if (!scale)
        freq.withColumn("rnk", row_number().over(Window.orderBy(keys: _*)))
      else Relational.scaleRowNumber(freq, keys, "rnk")
    ranked
      .select(log(col("rnk").cast("double")).as("lr"),
        log(col("freq").cast("double")).as("lf"))
      .agg(
        count(lit(1)).as("n_vocab"),
        round(expr("regr_slope(lf, lr)"), 4).as("slope_r"),
        round(expr("regr_r2(lf, lr)"), 4).as("r2_r"))
  }

  /** Token burstiness: per token, document frequency, corpus
    * frequency, the mean occurrences per CONTAINING document, and the
    * dispersion index (variance-to-mean of within-doc counts) —
    * content words clump (dispersion > 1: a doc about a topic repeats
    * its terms), function words spread evenly (≈ mean 1). High-mean
    * high-dispersion tokens are boilerplate/template markers that
    * frequency alone ranks identically to common prose words
    * (Church & Gale 1995's adaptation observation).
    *
    * Shape: one (doc, token) aggregate, then one token-keyed
    * aggregate — var_samp/avg are algebraic, everything map-side
    * combinable; output is vocabulary-sized.
    */
  def tokenBurstiness(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("c")).as("cf"),
        round(avg(col("c")), 4).as("mean_r"),
        round(var_samp(col("c")) / avg(col("c")), 4).as("dispersion_r"))
  }

  /** Feature-hashed bag-of-words vectors (the hashing trick —
    * Weinberger et al., ICML 2009): each token hashes to one of `dim`
    * buckets with a ±1 sign from an independent hash bit, and the
    * document's vector is the signed token-count sum per bucket — a
    * model-free text embedding with unbiased inner products
    * (E[⟨φ(a),φ(b)⟩] = ⟨a,b⟩, the signed-sum cancellation argument),
    * which is what bridges the text tables into the ANN/cosine family
    * when no trained encoder exists. Emitted in exploded sparse form
    * (doc_id, bucket, v) — nonzero buckets only.
    *
    * Shape: pure map-side hash + one (doc_id, bucket)-keyed aggregate,
    * map-side combinable to ≤ dim rows per doc. md5-derived bucket and
    * sign for oracle parity; xxhash64 at scale (the standing swap).
    */
  def hashedBowVectors(documents: DataFrame, dim: Int): DataFrame = {
    val toks = documents.select(
      col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
    toks
      .withColumn("bucket",
        expr("cast(conv(substring(md5(cast(token as binary)), 1, 8), 16, 10) as bigint)") % dim)
      .withColumn("sign",
        expr("cast(conv(substring(md5(cast(token as binary)), 9, 1), 16, 10) as bigint)") % 2 * 2 - 1)
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).as("v"))
      .filter(col("v") =!= 0)
  }

  /** Skip-gram pair extraction — word2vec/SGNS training-data prep
    * (Mikolov et al. 2013): every (center, context) token pair within
    * a ±`window` offset, counted corpus-wide. The downstream sampler
    * draws negatives from the context marginals; this table is both
    * the positive-pair store and those marginals (sum over center).
    *
    * Shape: one offsets-explode per position (2·window map-side rows
    * per token, no join — contexts come from `try_element_at` into the
    * SAME row's token array) + one pair-keyed aggregate, vocabulary²-
    * bounded output. The classic "self-join on position" formulation
    * shuffles the corpus twice; this shuffles pair counts once.
    */
  def skipgramPairs(documents: DataFrame, window: Int): DataFrame = {
    val offsets = (-window to window).filter(_ != 0)
    documents
      .select(Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(sequence(lit(1), size(col("toks")))).as("i"), col("toks"))
      .select(col("i"), col("toks"),
        explode(array(offsets.map(lit(_)): _*)).as("o"))
      // explicit bounds guard: a NEGATIVE index would silently wrap to
      // from-the-end semantics (both engines), not out-of-range NULL
      .filter(col("i") + col("o") >= 1 && col("i") + col("o") <= size(col("toks")))
      .select(
        try_element_at(col("toks"), col("i")).as("center"),
        try_element_at(col("toks"), col("i") + col("o")).as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
    * 2003): per document, hash every k-token gram, slide a window of
    * `w` consecutive gram hashes, and keep the minimum of each window
    * (leftmost position on hash ties) — the MOSS plagiarism-detection
    * selection rule. The guarantee: any shared substring of at least
    * w+k−1 tokens yields at least one shared fingerprint, while only
    * ~2/(w+1) of positions are kept — local, deterministic
    * subsampling that (unlike MinHash) localizes WHERE the overlap
    * is. Fingerprints join across docs exactly like shingles
    * ([[Dedup.hashedShingles]]' Σ posting² bound), at a w-fold
    * smaller index.
    *
    * Shape: gram hashing is map-side; the window min is one frame
    * window per doc (partitioned by doc_id — embarrassingly
    * parallel); the distinct collapses each run of windows sharing a
    * minimum. md5-domain hashes for oracle parity, xxhash64 at scale
    * (the swap noted on [[Dedup.hashedShingles]]).
    */
  def winnow(documents: DataFrame, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = documents
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - (k - 1))).as("pos"),
        col("toks"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ",
          (0 until k).map(i => try_element_at(col("toks"), col("pos") + i)): _*)
          .as("gram"))
      .withColumn("h", Dedup.shingleHash(col("gram")))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val perDoc = Window.partitionBy(col("doc_id"))
    grams
      .withColumn("m", count(lit(1)).over(perDoc))
      .withColumn("sel", min(struct(col("h"), col("pos"))).over(frame))
      .filter(col("pos") <= col("m") - (w - 1))
      .select(col("doc_id"),
        col("sel.pos").cast("long").as("fp_pos"), col("sel.h").as("fp_h"))
      .distinct()
  }

  /** TextRank keyword scores (Mihalcea & Tarau 2004): PageRank over
    * the token-adjacency graph — tokens are nodes, adjacent-token
    * bigrams are undirected weighted edges, and the stationary score
    * s(v) = (1−d) + d·Σ_{u∈N(v)} w(u,v)/W(u)·s(u) surfaces the
    * corpus's structurally central vocabulary (the unsupervised
    * keyword extractor that needs no training data — useful as a
    * stopword/boilerplate-term discovery pass over a new crawl).
    * Fixed `iters` power iterations from s₀=1 keep the result
    * deterministic and oracle-expressible (the oracle unrolls the
    * same iterations as CTEs).
    *
    * Scale shape: the edge table is VOCABULARY-bounded (distinct
    * adjacent pairs — Heaps' law, not corpus-sized) and is built from
    * one cached bigram aggregate; each iteration is one join of the
    * edge table against the |V|-row score table (broadcast — scores
    * are vocab-sized) plus a groupBy(dst) sum, so an iteration costs
    * one edges-sized shuffle, never a corpus scan. Same fixpoint
    * economics as [[Dedup.connectedComponentKeepers]], with the
    * iteration count fixed instead of convergence-probed.
    */
  def textrank(documents: DataFrame, damping: Double, iters: Int): DataFrame = {
    val bi = documents
      .select(Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(
        explode(sequence(lit(1), size(col("toks")) - 1)).as("i"), col("toks"))
      .select(
        try_element_at(col("toks"), col("i")).as("w1"),
        try_element_at(col("toks"), col("i") + 1).as("w2"))
      .filter(col("w1") =!= col("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    // symmetrize: each undirected edge contributes both directions
    val edges = graft.CacheScope.cached(
      bi.select(col("w1").as("src"), col("w2").as("dst"), col("c"))
        .unionByName(bi.select(col("w2").as("src"), col("w1").as("dst"), col("c")))
        .groupBy(col("src"), col("dst")).agg(sum(col("c")).as("w")))
    val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("w_out"))
    val contrib = graft.CacheScope.cached(
      edges.join(outW, Seq("src"))
        .select(col("src"), col("dst"), (col("w") / col("w_out")).as("frac")))
    val nodes = contrib.select(col("src").as("token")).distinct()
    var scores = nodes.select(col("token"), lit(1.0).as("s"))
    for (_ <- 1 to iters) {
      val inbound = contrib
        .join(broadcast(scores.select(col("token").as("src"), col("s"))), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("frac") * col("s")).as("in_s"))
      scores = nodes
        .join(inbound.select(col("dst").as("token"), col("in_s")), Seq("token"), "left")
        .select(col("token"),
          (lit(1.0 - damping) + lit(damping) * coalesce(col("in_s"), lit(0.0))).as("s"))
    }
    scores.select(col("token"), round(col("s"), 4).as("score_r"))
  }

  /** Out-of-vocabulary rate: fraction of a document's tokens whose
    * corpus document-frequency is below `minDf` — the RefinedWeb-style
    * "gibberish / OCR-noise" signal (a doc dominated by tokens that
    * appear almost nowhere else is mojibake, hash dumps, or minified
    * code, not prose). Vocabulary = tokens with df ≥ minDf, built from
    * the corpus itself so no external word list is needed.
    *
    * Shape: one distinct-(doc,token) aggregate builds the df table
    * (vocab-sized, Heaps' law — same argument as [[unigramLogProb]]),
    * which joins back BROADCAST onto the exploded token stream; the
    * per-doc aggregate is map-side combinable. The corpus never
    * shuffles on anything bigger than (doc_id) — at 100 TB the df
    * table is the broadcast side and everything else is one pass.
    */
  def oovRate(documents: DataFrame, minDf: Long): DataFrame = {
    val toks = graft.CacheScope.cached(documents.select(
      col("doc_id"), explode(Dedup.tokens(col("text"))).as("token")))
    val vocab = toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("token"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(
        col("doc_id"), col("n_tok"), col("n_oov"),
        round(col("n_oov") / col("n_tok").cast("double"), 6).as("oov_rate_r"))
  }

  // ------------------------------------------------------------------
  // Trained quality-classifier gate — the step up from the heuristic
  // tier (Gopher/C4 rules): production pipelines gate on a TRAINED
  // linear classifier (GPT-3's LR-over-features quality filter, Brown
  // et al. 2020 App. A; CCNet's fastText LM filter, Wenzek et al.
  // 2020; fastText itself: Joulin et al. 2016 — a linear model over
  // averaged hashed-n-gram features). This is that shape on Spark:
  // features = the existing hashedBowVectors (hashing trick), model =
  // logistic regression trained DRIVER-LOCALLY on a bounded per-class
  // sample (the k-means/PQ precedent — a classifier needs ~10³
  // labeled examples regardless of corpus size), scoring = one
  // map-side weighted fold per doc, model broadcast as literals. At
  // 100 TB the corpus never shuffles for the model: train on a sample,
  // score map-side.
  // ------------------------------------------------------------------

  /** Spam-boilerplate suffix planted on the negative class of
    * [[qualityCorpus]] — unmistakable zz-prefixed tokens (the corpus
    * perturbation convention) so the planted task is genuinely
    * separable and the classifier's recall/precision is gradeable.
    */
  val qualitySpamSuffix: String =
    " zzclick zzspam zzbuy zzcheap zzfree zzclick zzspam zzbuy zzcheap zzfree"

  /** Labeled quality corpus: every document clean (label 1) and once
    * more with the spam suffix appended (label 0, doc_id + 100000).
    */
  def qualityCorpus(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text"), lit(1).as("label"))
      .unionAll(documents.select(
        (col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(qualitySpamSuffix)).as("text"),
        lit(0).as("label")))

  /** Deterministic driver-local logistic regression over
    * length-normalized hashed-BoW features (x = v / n_toks — the
    * fastText averaging). Sample is bounded PER CLASS (lowest
    * `maxPerClass` doc_ids with doc_id % sampleMod == 0), so the
    * collect is ≤ 2·maxPerClass·dim cells no matter the corpus size.
    * Full-batch GD in doc_id-sorted order, zero init — bit-reproducible
    * across calls, which is what lets the oracle re-run the identical
    * training and embed the weights as SQL literals.
    *
    * @return (weights(dim), bias)
    */
  def trainQualityLrLocal(corpus: DataFrame, dim: Int, sampleMod: Int = 1,
                          maxPerClass: Int = 1000, iters: Int = 800,
                          lr: Double = 5.0): (Array[Double], Double) = {
    val spark = corpus.sparkSession
    val base = corpus
      .filter(pmod(col("doc_id"), lit(sampleMod.toLong)) === 0L)
    val ids = base.filter(col("label") === 1)
      .orderBy(col("doc_id")).limit(maxPerClass)
      .unionAll(base.filter(col("label") === 0)
        .orderBy(col("doc_id")).limit(maxPerClass))
      .select(col("doc_id"), col("label"),
        greatest(size(Dedup.tokens(col("text"))), lit(1)).as("n"))
    val idRows = ids.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val idSet = idRows.map(_._1).toSet
    // one tokenize pass over the SAMPLE only (broadcast semi-join)
    import spark.implicits._
    val sampleCorpus = corpus.join(
      broadcast(idSet.toSeq.toDF("doc_id")), Seq("doc_id"), "left_semi")
    val feats = hashedBowVectors(sampleCorpus, dim).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2)))
    val byDoc = feats.groupBy(_._1)
      .map { case (id, fs) => id -> fs.map(f => (f._2, f._3)).sortBy(_._1) }
    val docs = idRows.map { case (id, label, n) =>
      (label, n, byDoc.getOrElse(id, Array.empty[(Int, Long)]))
    }
    val w = new Array[Double](dim); var b = 0.0
    if (docs.isEmpty) return (w, b) // empty corpus: all-zero model, σ(0)=0.5 scores
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](dim); var gb = 0.0
      docs.foreach { case (label, n, fs) =>
        var z = b
        fs.foreach { case (bk, v) => z += v.toDouble / n * w(bk) }
        val err = 1.0 / (1.0 + math.exp(-z)) - label
        gb += err
        fs.foreach { case (bk, v) => gw(bk) += err * v.toDouble / n }
      }
      val m = docs.length.toDouble
      var i = 0
      while (i < dim) { w(i) -= lr * gw(i) / m; i += 1 }
      b -= lr * gb / m
      it += 1
    }
    (w, b)
  }

  /** Map-side scoring of a labeled corpus under pinned (w, b):
    * z = (Σ v·w[bucket]) / n_toks + b, score = σ(z), pred = [z ≥ 0]
    * (the σ(z) ≥ 0.5 boundary stated float-safely). One feature
    * aggregate + one doc_id-keyed fold; the model rides as column
    * literals, never a join side.
    */
  def qualityScoreFrom(corpus: DataFrame, dim: Int, w: Array[Double],
                       b: Double): DataFrame = {
    val wArr = array(w.map(lit): _*)
    val sums = hashedBowVectors(corpus, dim)
      .withColumn("contrib", col("v").cast("double") *
        element_at(wArr, (col("bucket") + 1).cast("int")))
      .groupBy(col("doc_id")).agg(sum(col("contrib")).as("s"))
    corpus.select(col("doc_id"), col("label"),
        greatest(size(Dedup.tokens(col("text"))), lit(1))
          .cast("double").as("n"))
      .join(sums, Seq("doc_id"), "left")
      .withColumn("z", coalesce(col("s"), lit(0.0)) / col("n") + lit(b))
      .select(col("doc_id"), col("label"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4).as("score_r"),
        when(col("z") >= 0, 1).otherwise(0).as("pred"))
  }

  /** Pinned-weights DuckDB oracle for q_quality_classifier, the trained
    * gate ([[qualityCorpus]] → [[trainQualityLrLocal]] →
    * [[qualityScoreFrom]]) — the `q_sim_lsh` trick: the trained model
    * is DATA, so the oracle embeds the weight doubles as literals
    * (Scala's toString is the shortest round-trip form, so DuckDB
    * parses back the identical binary double) and independently
    * recomputes corpus, features, fold, sigmoid, and the z ≥ 0
    * decision.
    */
  def qualityClassifierOracleSql(dim: Int, w: Array[Double], b: Double)
      : String = {
    val wRows = w.zipWithIndex
      .map { case (x, i) => s"($i, CAST($x AS DOUBLE))" }.mkString(", ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text, 1 AS label FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text || '$qualitySpamSuffix', 0 AS label
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != ''))
       |    AS token
       |  FROM corpus),
       |feat AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(token), 1, 8))::BIGINT % $dim AS bucket,
       |         sum(('0x' || substr(md5(token), 9, 1))::BIGINT % 2 * 2 - 1) AS v
       |  FROM tok GROUP BY 1, 2 HAVING sum(('0x' || substr(md5(token), 9, 1))::BIGINT % 2 * 2 - 1) != 0),
       |w AS (SELECT * FROM (VALUES $wRows) AS t(bucket, wgt)),
       |lens AS (
       |  SELECT doc_id, label,
       |         greatest(len(list_filter(string_split(text, ' '), t -> t != '')), 1) AS n
       |  FROM corpus),
       |zs AS (
       |  SELECT l.doc_id, l.label,
       |         coalesce(sum(f.v * w.wgt), 0) / max(l.n) + CAST($b AS DOUBLE) AS z
       |  FROM lens l
       |  LEFT JOIN feat f ON f.doc_id = l.doc_id
       |  LEFT JOIN w ON w.bucket = f.bucket
       |  GROUP BY l.doc_id, l.label)
       |SELECT doc_id, label, round(1 / (1 + exp(-z)), 4) AS score_r,
       |       CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS INT) AS pred
       |FROM zs ORDER BY doc_id""".stripMargin
  }

  /** DSIR importance weights (Xie, Santurkar, Ma & Liang, "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every document by the log-likelihood ratio
    * of its hashed n-gram (unigram + bigram) counts under the TARGET
    * domain's bucket distribution vs the raw corpus's —
    *
    *   logw(d) = Σ_{g ∈ grams(d)} [ ln p̂_tgt(b(g)) − ln p̂_src(b(g)) ]
    *
    * with add-1-smoothed bucket frequencies (p̂(b) = (c_b + 1)/(C + B))
    * so unseen buckets stay finite. Positive weight ⇒ the doc reads
    * like the target domain; importance RESAMPLING then keeps the
    * highest-weight docs ([[q_dsir_select]]'s ordered take).
    *
    * Shape (the 100 TB contract): the hashed-gram stream is built in
    * ONE tokenize pass and cached; both bucket histograms are
    * B-row aggregates (map-side combinable counts — fixed-size state,
    * like every sketch here); totals fold in-plan via a broadcast
    * 1-row aggregate (no driver collect, so constructs stay
    * job-free); the per-doc score is ONE doc-keyed
    * aggregate after a broadcast join against the B-row ratio table.
    * Nothing pairs, nothing shuffles vectors — corpus-linear
    * throughout. Buckets use the md5 bridge (hashedBowVectors'
    * convention) so the DuckDB oracle recomputes identical features;
    * the per-bucket log-ratio is quantized to integer micro-nats so
    * the per-doc sum is exact long arithmetic (order-independent —
    * cross-engine ln/fold parity), and the reported weight is that
    * integer over 1e6, unrounded (see the in-body note on why a final
    * round would break cross-engine parity).
    */
  /** Per-doc DSIR gram array (unigrams ++ adjacent bigrams) — ONE
    * expression shared by the batch scorer, the streaming histogram
    * twin, and their parity spec, so the feature definition cannot
    * drift between surfaces.
    */
  private[graft] def dsirGrams(toks: Column): Column =
    concat(toks,
      when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => concat_ws(" ",
            try_element_at(toks, i + 1), try_element_at(toks, i + 2))))
        .otherwise(array().cast("array<string>")))

  /** md5 feature bucket for a gram — the oracle-bridgeable hash
    * ([[hashedBowVectors]]' convention), shared like [[dsirGrams]].
    */
  private[graft] def dsirBucket(gram: Column, buckets: Int): Column =
    conv(substring(md5(gram.cast("binary")), 1, 8), 16, 10)
      .cast("long") % buckets

  def dsirWeights(documents: DataFrame, targetPred: Column,
                  buckets: Int): DataFrame = {
    val hashed = graft.CacheScope.cached(dsirHashedGrams(documents, targetPred, buckets))
    dsirScore(hashed, broadcast(dsirRatioPlan(hashed, buckets)))
  }

  /** [[dsirWeights]] with a PRE-COLLECTED per-bucket log-ratio model —
    * the bounded-model twin ([[Sim]]'s query-matrix precedent): the
    * B-row (bucket, loglr_u6) table is a fixed-size trained artifact
    * of the corpus (B = 256 regardless of corpus size), so a memoizing
    * caller ([[graft.EntrySupport.dsirRatioLocal]]) collects it once
    * and replays it as a LocalRelation — the importance-RESAMPLING
    * consumer then runs in ONE job (scan → broadcast-join the local
    * ratio → doc aggregate → ordered take) instead of three, and at
    * 100 TB this is exactly how DSIR deploys: train the bucket model
    * on a sample/previous pass, score the full corpus with the frozen
    * model. DsirSpec pins model-fed ≡ in-plan row-for-row.
    */
  def dsirWeightsFrom(documents: DataFrame, targetPred: Column, buckets: Int,
                      ratioRows: Seq[(Long, Long)]): DataFrame = {
    require(ratioRows.size <= buckets &&
        ratioRows.map(_._1).distinct.size == ratioRows.size,
      s"dsirWeightsFrom ratio model must be <= $buckets DISTINCT buckets, " +
        s"got ${ratioRows.size} rows")
    val spark = documents.sparkSession
    import spark.implicits._
    // single consumer of the gram stream here — caching it would be
    // pure overhead (the in-plan form caches because hist + score both
    // read it)
    val ratio = spark.createDataset(ratioRows).toDF("bucket", "loglr_u6")
    dsirScore(dsirHashedGrams(documents, targetPred, buckets), broadcast(ratio))
  }

  /** The per-doc hashed-gram stream both [[dsirWeights]] forms share.
    * ONE tokenize + ONE explode: unigrams and bigrams concatenate
    * into a single per-doc gram array before the generator (the
    * union-of-two-explodes form tokenized the corpus twice — measured
    * 0.9 s vs DuckDB's 0.28 s at sf0.1 before this shape).
    */
  private def dsirHashedGrams(documents: DataFrame, targetPred: Column,
                              buckets: Int): DataFrame = documents
    .select(col("doc_id"), col("lang"), targetPred.as("tgt"),
      Dedup.tokens(col("text")).as("toks"))
    .select(col("doc_id"), col("lang"), col("tgt"),
      explode(dsirGrams(col("toks"))).as("gram"))
    .withColumn("bucket", dsirBucket(col("gram"), buckets))
    .drop("gram")

  /** Collect the B-row ratio model once — what
    * [[graft.EntrySupport.dsirRatioLocal]] memoizes. Runs the SAME
    * plan the in-plan form broadcasts, so model-fed and in-plan scoring
    * cannot drift (DsirSpec pins row-for-row equality).
    */
  private[graft] def dsirRatio(documents: DataFrame, targetPred: Column,
                               buckets: Int): Seq[(Long, Long)] =
    dsirRatioPlan(dsirHashedGrams(documents, targetPred, buckets), buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** The B-row (bucket, loglr_u6) model as a PLAN over the hashed-gram
    * stream — what [[dsirWeights]] broadcasts in-plan and
    * [[graft.EntrySupport.dsirRatioLocal]] collects once for the
    * model-fed form. Exposed so the two forms cannot drift.
    */
  private[graft] def dsirRatioPlan(hashed: DataFrame, buckets: Int): DataFrame = {
    // BOTH histograms in one B-row aggregation pass (conditional count)
    val hist = graft.CacheScope.cached(
      hashed.groupBy(col("bucket")).agg(
        count(lit(1)).as("sc"),
        count(when(col("tgt"), lit(1))).as("tc")))
    // totals fold in-plan as a broadcast 1-row aggregate — no collect
    val totals = hist.agg(sum(col("sc")).as("s_tot"),
      coalesce(sum(col("tc")), lit(0L)).as("t_tot"))
    // per-bucket ratio quantized to INTEGER micro-nats: the per-doc
    // sum is then exact long arithmetic — order-independent, so the
    // two engines' different fold orders cannot land an ulp apart at
    // a 4dp rounding boundary (doc 50 at sf0.01 did exactly that with
    // double sums)
    hist.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round((
          log((col("tc") + lit(1)).cast("double") /
              (col("t_tot") + lit(buckets)).cast("double")) -
          log((col("sc") + lit(1)).cast("double") /
              (col("s_tot") + lit(buckets)).cast("double"))) * lit(1e6))
          .cast("long").as("loglr_u6"))
  }

  /** Shared scoring tail: join the gram stream against the (broadcast)
    * ratio model and fold per doc.
    * NO final round: u6 is the same exact integer in both engines, so
    * one IEEE long→double division is bit-identical — while round()
    * here would re-open the boundary (Spark's Round rounds the
    * SHORTEST-DECIMAL repr via BigDecimal.valueOf, DuckDB rounds the
    * exact binary value: a doc sum ending in …50 micro-nats rounds UP
    * in Spark and DOWN in DuckDB — observed at sf0.001 and sf0.1).
    */
  private def dsirScore(hashed: DataFrame, ratio: DataFrame): DataFrame =
    hashed.join(ratio, Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"), sum(col("loglr_u6")).as("u6"))
      .select(col("doc_id"), col("lang"), col("n_grams"),
        (col("u6") / lit(1e6)).as("logw_r"))
}
