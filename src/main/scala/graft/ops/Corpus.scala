package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.{GopherStats, SegHashes}

/** Training-corpus assembly operators: the steps between "deduped,
  * scored documents" and "tensors on a trainer" — deterministic
  * shuffling/sharding, sequence packing, and PII redaction. All are
  * map-side or one-window-per-shard: nothing here shuffles more than
  * once, and nothing depends on nondeterministic state (a re-run of
  * the pipeline reproduces the same shards byte-for-byte, which is
  * what makes training-data builds auditable).
  */
object Corpus {

  /** Deterministic corpus shuffle + sharding: order by `md5(doc_id)`
    * — a fixed, seedless permutation that breaks source/time locality
    * (adjacent doc_ids land far apart) yet reproduces exactly on every
    * run. `shard` is the top 32 bits of the digest mod `nShards`;
    * `rnk` is the document's position within its shard.
    *
    * Scale: the hash and shard are map-side; the per-shard rank is one
    * window sorted WITHIN each shard — at 100 TB that is `nShards`
    * independent sorts (one reducer each, ~corpus/nShards rows), not a
    * global single-partition sort. Writers then emit one file per
    * shard with rows in rank order.
    */
  def shuffleShard(docs: DataFrame, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(col("doc_id").cast("string"))
    val shard = pmod(conv(substring(key, 1, 8), 16, 10).cast("long"), lit(nShards.toLong))
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    docs
      .select(col("doc_id"), key.as("skey"), shard.as("shard"))
      .withColumn("rnk", row_number().over(w).cast("long"))
  }

  /** Sequence packing: concatenate documents in doc_id order within
    * each shard and split the token stream at `budget`-token
    * boundaries. Each document is assigned the sequence its FIRST
    * token lands in (`seq_id`) and its offset within that sequence —
    * the standard streaming-concat packing used to build fixed-length
    * training examples (documents may straddle a boundary; the trainer
    * truncates or wraps at materialization time).
    *
    * Scale: one running-sum window PER SHARD (shard = contiguous
    * doc_id block, embarrassingly parallel) — never a global
    * single-partition cumulative sum. Token counts are map-side.
    */
  def packSequences(docs: DataFrame, shardSize: Int, budget: Int,
                    carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(
        Seq(
          col("doc_id"),
          (col("doc_id") / shardSize).cast("long").as("shard"),
          size(Dedup.tokens(col("text"))).cast("long").as("tok_cnt")) ++
          carry.map(col): _*)
      .withColumn("cum", sum(col("tok_cnt")).over(w))
      .select(
        Seq(
          col("doc_id"), col("shard"), col("tok_cnt"),
          ((col("cum") - col("tok_cnt")) / budget).cast("long").as("seq_id"),
          ((col("cum") - col("tok_cnt")) % budget).as("offset_in")) ++
          carry.map(col): _*)
  }

  /** PII redaction: replace email-like and phone-like spans with typed
    * placeholder tokens. Pure map-side `regexp_replace` (codegen'd,
    * streams through the scan). The patterns are deliberately
    * conservative ASCII shapes that mean the same thing in Java regex
    * (Spark) and RE2 (DuckDB oracle): leftmost-first, greedy,
    * non-overlapping in both.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9][0-9-]{6,}[0-9]"

  def piiMask(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")

  /** Overlapping character chunking — the RAG/context-window document
    * splitter: fixed `chunkSize`-char windows advancing by
    * `chunkSize - overlap`, each row carrying (doc_id, chunk_id,
    * off, chunk, chunk_len). The final chunk may be short; a document
    * shorter than one stride still emits exactly one chunk.
    *
    * Shape: pure map-side — a sequence() of 1-based offsets exploded
    * per document and a substring per offset; no shuffle at any
    * scale (chunk rows inherit the document's partition).
    */
  def chunkDocs(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val stride = chunkSize - overlap
    docs
      .select(col("doc_id"), col("text"),
        posexplode(sequence(
          lit(1), greatest(length(col("text")) - overlap, lit(1)), lit(stride))))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("off"),
        expr(s"substring(text, col, $chunkSize)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("long"))
  }

  /** Per-domain quota capping — corpus balancing: rank each domain's
    * documents by (`orderCol` DESC, doc_id ASC) and keep the top
    * `cap`, so no single source floods the training mix regardless of
    * its crawl volume.
    *
    * Shape: one rank window partitioned by domain — at 100 TB that is
    * one shuffle on the domain key with per-domain sorts; for skewed
    * mega-domains, pre-filter with an approximate per-domain
    * threshold (quantile sketch) so the exact window only sees
    * borderline rows.
    */
  def domainCap(docs: DataFrame, domainCol: String, orderCol: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col(orderCol).desc, col("doc_id").asc)
    docs.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= cap)
  }

  /** Benchmark decontamination: flag training documents that share at
    * least `minShared` 3-gram shingles with any document in the
    * benchmark/eval set — the standard n-gram-overlap contamination
    * check run before a training corpus ships. Returns
    * (doc_id, n_shared, contaminated) for every training doc.
    *
    * Scale shape: the benchmark side is always small (an eval suite,
    * not a corpus), so its DISTINCT shingle-hash set is broadcast and
    * the training corpus meets it in a map-side hash join — the
    * corpus never shuffles for the probe; only the matching (doc, h)
    * rows shuffle for the per-doc count. At 100 TB this is a bloom
    * filter + exact recheck; here the exact broadcast is already
    * cheap.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, minShared: Int): DataFrame = {
    val trainSh = Dedup.hashedShingles(train)
    val benchSh = Dedup.hashedShingles(bench).select(col("h")).distinct()
    val shared = trainSh.join(broadcast(benchSh), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    train.select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shared"), lit(0L)) >= minShared, 1L).otherwise(0L)
          .as("contaminated"))
  }

  /** Deterministic weighted (per-domain) sampling: keep a document iff
    * its hash-derived uniform u(doc_id) ∈ [0,1) falls under its
    * domain's sampling weight — the reproducible way to mix sources
    * into a training corpus (the same doc_id always makes the same
    * cut, runs are comparable, and no RNG state is shuffled around).
    * Uses md5 hex digits 9-16 so the draw is independent of
    * [[shuffleShard]]'s digits 1-8. Unknown domains default to
    * weight 0 (kept out — an unlisted source should never leak in).
    * Pure map-side: the filter streams through the scan.
    */
  def weightedSample(docs: DataFrame, domainCol: String,
                     weights: Map[String, Double]): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 9, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val w = weights.foldLeft(lit(0.0)) { case (acc, (dom, wt)) =>
      when(col(domainCol) === dom, wt).otherwise(acc)
    }
    docs.withColumn("u_r", round(u, 6)).filter(u < w)
  }

  /** Deterministic train/validation/test split: the same md5-derived
    * uniform as [[weightedSample]] cut at cumulative fraction
    * boundaries — every re-run (and every engine) assigns each doc_id
    * the same split, docs never migrate between splits when the corpus
    * grows (assignment depends only on the id, not on corpus order or
    * size), and expected proportions hold per stratum because the hash
    * is independent of any document attribute. Map-side, no shuffle.
    *
    * `cuts` are (label, upperBound) with ascending bounds, last bound
    * covering the remainder — e.g. Seq(("train",0.9),("val",0.95),
    * ("test",1.0)).
    */
  def assignSplit(docs: DataFrame, cuts: Seq[(String, Double)]): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 >= 1.0, "last cut must cover [.., 1.0]")
    val u = conv(substring(md5(col("doc_id").cast("string")), 9, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val expr0: Column = cuts.init.foldRight(lit(cuts.last._1): Column) {
      case ((label, hi), rest) => when(u < hi, label).otherwise(rest)
    }
    docs.withColumn("u_r", round(u, 6)).withColumn("split", expr0)
  }

  /** Exact-size stratified sample: `n` docs per stratum, chosen by
    * md5-hash rank — unbiased w.r.t. every document attribute (the
    * hash ignores them all), deterministic across runs and engines,
    * and exact-N where [[weightedSample]]'s independent coin flips
    * give only expected-N. Complements [[domainCap]], which ranks by
    * quality (deliberately biased) rather than hash (deliberately
    * unbiased).
    *
    * Shape: one rank window per stratum — same scale story as
    * domainCap: the shuffle is on the stratum key; skewed mega-strata
    * pre-filter with an approximate hash-rank threshold before the
    * exact window.
    */
  def stratifiedSampleN(docs: DataFrame, stratumCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(col("doc_id").cast("string"))
    val w = Window.partitionBy(col(stratumCol)).orderBy(col("skey"), col("doc_id"))
    docs.withColumn("skey", key)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= n)
      .drop("skey")
  }

  /** Length-percentile band filter — the "drop the freakishly short
    * and the freakishly long" corpus gate (C4 and Gopher both apply
    * absolute length cuts; the percentile form adapts per language, so
    * a terse-by-nature language isn't gutted by thresholds tuned on
    * English). percent_rank over `lenCol` within each `byCol` group;
    * rows keep their position and a boolean verdict so the caller can
    * audit what a cut WOULD do before applying it.
    *
    * One window shuffle keyed by the group column. Skewed mega-groups:
    * at 100 TB replace the exact window with approx_percentile
    * thresholds per group (two numbers) broadcast back — same verdict
    * within sketch error, no global sort per group.
    */
  def lengthBand(docs: DataFrame, byCol: String, lenCol: String,
                 lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(byCol)).orderBy(col(lenCol), col("doc_id"))
    docs
      .withColumn("len_pr", round(percent_rank().over(w), 6))
      .withColumn("keep", col("len_pr") >= lo && col("len_pr") <= hi)
  }

  /** Winsorization: clip a numeric column to its per-group [pLo, pHi]
    * percentile band — the standard heavy-tail taming step before a
    * mean-based statistic or a loss-weighted sampler sees the data
    * (extreme values saturate, never dominate). Exact percentiles per
    * group (one aggregation; |groups| rows) broadcast back onto the
    * fact table, so the data itself never shuffles. At 100 TB swap in
    * approx_percentile — identical plan shape.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                pLo: Double, pHi: Double): DataFrame = {
    val bounds = df.groupBy(col(groupCol)).agg(
      expr(s"percentile($valueCol, $pLo)").as("__lo"),
      expr(s"percentile($valueCol, $pHi)").as("__hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("clipped_r",
        round(least(greatest(col(valueCol), col("__lo")), col("__hi")), 4))
      .drop("__lo", "__hi")
  }

  /** Boilerplate detection (the C4 "repeated lines" rule adapted to
    * segment granularity): split each document into consecutive
    * non-overlapping `segLen`-token segments, call a segment
    * boilerplate when it appears in ≥ `minDocs` DISTINCT documents
    * (navigation chrome, cookie banners, license footers), and report
    * each document's boilerplate-segment fraction.
    *
    * Shape: segments explode map-side; (segment-hash, doc) pairs are
    * distinct-reduced; the df count comes from ONE segment-keyed
    * aggregation whose output is segment-vocabulary-sized; the verdict
    * joins back on the segment hash. Fraction denominators ride the
    * per-doc aggregation — no second corpus pass. The segment key is
    * xxhash64 — it never reaches the output (only distinct/join
    * identity matters, and the oracle hashes its own way for the same
    * counts). Tradeoff stated honestly: each engine hashing natively
    * means counts agree only while the 64-bit domain is collision-free
    * (fine far past any verify scale); beyond ~2^32 distinct segments
    * per corpus the engines would collide on DIFFERENT segments and a
    * cross-engine compare would need a shared hash again.
    */
  def boilerplate(docs: DataFrame, segLen: Int, minDocs: Int): DataFrame = {
    // ONE map pass with no cache: the repartition(seg) exchange below
    // is read by BOTH the df branch and the join probe side, and the
    // two subtrees are the same object, so ReuseExchange shares the
    // shuffle and the tokenize+explode+hash map work runs once.
    // The segment keys come from the compiled graft_seghash kernel
    // (plans/SegHashes.scala — one byte-scan pass per doc, hashes
    // bit-identical to the declarative xxhash64(concat_ws(slice(...)))
    // chain that SegHashesSpec keeps as reference; that chain allocates
    // a token array + per-segment slice/concat/hash and was
    // q_boilerplate's measured execute cost).
    val segs = docs
      .select(col("doc_id"),
        explode(SegHashes.column(col("text"), lit(segLen))).as("seg"))
      .repartition(col("seg"))
    // hash(seg) clustering satisfies BOTH the (doc_id, seg) distinct
    // (subset key) and the per-seg count on top of it. SHUFFLE_HASH,
    // not broadcast: a broadcast build would re-run the scan+explode
    // subtree into a BroadcastExchange, while the shuffled join lets
    // both sides read the ONE exchange above (df table is
    // distinct-segment-sized — corpus-shaped, not chrome-shaped — so
    // it should not broadcast at scale anyway).
    val segDf = segs.distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("n_docs"))
    segs
      .join(segDf.hint("SHUFFLE_HASH"), Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("n_docs") >= minDocs, 1L).otherwise(0L)).as("n_boiler"),
        round(avg(when(col("n_docs") >= minDocs, 1.0).otherwise(0.0)), 4).as("boiler_frac_r"))
  }

  /** Gopher-style per-document quality signals (Rae et al. 2021,
    * "Scaling Language Models", app. A1.1): word count, mean word
    * length, digit fraction, and repeated-bigram fraction, plus the
    * pass/fail gate. Everything is computed from the token ARRAY
    * map-side — the bigram list is built by zipping the array with
    * itself shifted one, so no explode/groupBy round-trip and no
    * shuffle at any scale.
    */
  def gopherSignals(docs: DataFrame): DataFrame =
    withGopher(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_words"), col("mean_wlen"),
        col("digit_frac"), col("dup_bigram_frac"), col("gopher_ok"))

  /** All of `docs`' columns plus the signal columns — so a pipeline
    * can gate on quality without a join back (the signals are pure
    * row-local expressions; joining a map-side-derivable column would
    * be a gratuitous shuffle at any scale).
    */
  private[graft] def withGopher(docs: DataFrame): DataFrame =
    // one compiled pass per document (plans/GopherStats.scala) — the
    // declarative HOF form (GopherStatsSpec's reference) allocates
    // three arrays and runs four interpreted lambdas per row, which
    // dominated the composed pipeline's profile. Raw counts only;
    // every oracle-visible fraction + rounding is SQL below.
    docs.withColumn("__g", GopherStats.column(col("text")))
      .withColumn("n_words", col("__g.n_words"))
      .withColumn("__nonspace", col("__g.n_nonspace"))
      .withColumn("__n_bg", col("__g.n_bigrams"))
      .withColumn("__n_bg_d", col("__g.n_bigrams_distinct"))
      .withColumn("__n_digit", col("__g.n_digits"))
      .withColumn("__n_char", col("__g.n_chars"))
      .drop("__g")
      .withColumn("mean_wlen",
        when(col("n_words") > 0,
          round(col("__nonspace").cast("double") / col("n_words"), 4))
          .otherwise(lit(0.0)))
      .withColumn("digit_frac",
        when(col("__n_char") > 0,
          round(col("__n_digit").cast("double") / col("__n_char"), 4))
          .otherwise(lit(0.0)))
      .withColumn("dup_bigram_frac",
        when(col("__n_bg") > 0,
          round(lit(1.0) - col("__n_bg_d").cast("double") / col("__n_bg"), 4))
          .otherwise(lit(0.0)))
      .withColumn("gopher_ok",
        when(col("n_words").between(10, 100000) &&
          col("mean_wlen").between(2.0, 12.0) &&
          col("dup_bigram_frac") < 0.3, 1L).otherwise(0L))
      .drop("__nonspace", "__n_bg", "__n_bg_d", "__n_digit", "__n_char")

  /** Quality gate: `docs` minus every document failing the Gopher
    * rules — original columns preserved, signals dropped. Map-side.
    */
  def gopherPass(docs: DataFrame): DataFrame =
    withGopher(docs)
      .filter(col("gopher_ok") === 1L)
      .drop("toks", "n_words", "bg", "mean_wlen", "digit_frac",
        "dup_bigram_frac", "gopher_ok")

  /** Temperature-scaled source-mixing weights (the α-sampling used to
    * rebalance heterogeneous corpora — GPT-3's dataset table, the Pile,
    * and multilingual work all mix sources by `share^α` rather than raw
    * share, α<1 up-weighting small sources without letting any one
    * dominate). Per source: document and token counts, the raw token
    * share, the temperature weight `n_tokens^α / Σ n_tokens^α`, and the
    * implied epochs-over-source when a budget of `totalTokens·weight`
    * tokens is drawn from it (the quantity you audit for overfit risk —
    * epochs ≫ 1 on a small source means it will be repeated).
    *
    * The output IS the `weights` map [[weightedSample]] consumes —
    * train the mix here, apply it there. Shape: one |sources|-row
    * aggregate; the two Σ-scalars fold in via a broadcast 1-row cross
    * join (the established scalar pattern), so nothing reshuffles the
    * corpus. At 100 TB the aggregate is map-side combinable and the
    * result is a 20-row table — free.
    */
  def temperatureWeights(docs: DataFrame, domainCol: String,
                         alpha: Double): DataFrame = {
    val per = docs
      .groupBy(col(domainCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(Dedup.tokens(col("text")))).cast("long").as("n_tokens"))
    val totals = per.agg(
      sum(col("n_tokens")).cast("double").as("tot_tokens"),
      sum(pow(col("n_tokens").cast("double"), lit(alpha))).as("tot_pow"))
    per.crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("tot_tokens"), 6).as("raw_share_r"),
        round(pow(col("n_tokens").cast("double"), lit(alpha)) / col("tot_pow"), 6)
          .as("temp_weight_r"),
        round(pow(col("n_tokens").cast("double"), lit(alpha)) / col("tot_pow")
          * col("tot_tokens") / col("n_tokens"), 4).as("epochs_r"))
  }

  /** Per-group percentile normalization of a score column — the step
    * between "every source has its own quality-score distribution" and
    * "one comparable keep/drop threshold": CCNet buckets perplexity
    * into per-language thirds for exactly this reason (a score that is
    * median-grade for src A may be top-decile for src B, and a single
    * global cut would gut the weaker source). Emits the within-group
    * percent_rank, the group median (broadcast fold-in), and the
    * above-median verdict; callers cut on `pr` uniformly across groups.
    *
    * Shape: one rank window keyed by the group column plus a
    * |groups|-row median aggregate broadcast back — the corpus
    * shuffles once. Skewed mega-groups: swap the exact window for
    * approx_percentile thresholds per group, same verdict within
    * sketch error (the [[lengthBand]] note applies verbatim).
    */
  def percentileNormalize(df: DataFrame, groupCol: String,
                          scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($scoreCol, 0.5)").as("grp_median"))
    df.join(broadcast(med), Seq(groupCol))
      .withColumn("pr_r", round(percent_rank().over(w), 6))
      .withColumn("above_median",
        when(col(scoreCol) >= col("grp_median"), 1L).otherwise(0L))
      .withColumn("grp_median_r", round(col("grp_median"), 4))
      .drop("grp_median")
  }

  /** CCNet perplexity bucketing (Wenzek et al. 2020): rank each
    * source's documents by language-model score and split into
    * equal-count head/middle/tail thirds — CCNet's central move, the
    * one that lets a pipeline keep only the most-fluent third of each
    * language (or up-sample head, down-sample tail) with a threshold
    * that ADAPTS per source instead of one global cut that would gut
    * low-resource slices. LM = the corpus's own unigram model
    * ([[Text.unigramLogProb]] — swap in the bigram scorer or a real
    * KenLM unchanged); higher logprob = more fluent = head.
    *
    * Shape: the scorer's one token pass + a per-source ntile window
    * (rank key (logprob desc, doc_id) so ties are deterministic). At
    * 100 TB swap the exact ntile for two approx_percentile cut points
    * per source, broadcast — the [[lengthBand]] substitution.
    */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Text.unigramLogProb(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("logprob").desc, col("doc_id"))
    scored
      .withColumn("b", ntile(3).over(w))
      .select(
        col("doc_id"), col("source"), col("n_toks"), col("logprob"),
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Deterministic global reservoir-equivalent sample: the `n` docs
    * with the smallest md5(doc_id) — exactly-n, unbiased w.r.t. every
    * document attribute, stable under re-runs, and (unlike a true
    * streaming reservoir) independent of encounter order, so two
    * engines — or two runs over a repartitioned corpus — agree
    * byte-for-byte. The "hold out an eval slice of exactly n docs"
    * primitive; [[stratifiedSampleN]] is its per-stratum sibling.
    *
    * Shape: TakeOrdered(n) over the hash — per-partition top-n
    * heaps, then an n-row merge at the driver-side limit; the corpus
    * is never globally sorted. Growing the corpus displaces an old
    * member only when a new doc hashes lower — expected O(n·ln) total
    * churn, the hash-reservoir property.
    */
  def reservoirSample(docs: DataFrame, n: Int): DataFrame =
    docs
      .withColumn("skey", md5(col("doc_id").cast("string")))
      .orderBy(col("skey"), col("doc_id"))
      .limit(n)
      .drop("skey")

  /** Length-bucketed batching audit: ntile the corpus into `n` equal-
    * count buckets by token length and report, per bucket, the count,
    * the length range, and the padding-waste ratio 1 − avg/max — the
    * number a trainer minimizes by batching similar-length sequences
    * together (batching uniformly at random pads every sequence to the
    * batch max; length-bucketed batching pads only to the BUCKET max,
    * and this table says exactly what that buys).
    *
    * Bucketing is [[Relational.bandedNtile]]: exact ntile semantics,
    * but past the bounded-window gate it range-repartitions and
    * offsets local ranks instead of funnelling the corpus through one
    * task — the same audit, no single-reducer sort at any scale.
    */
  def lengthBuckets(docs: DataFrame, n: Int,
                    knownSize: Option[Long] = None): DataFrame = {
    // knownSize = |docs| is valid for the banding probe because the
    // token-count select is row-preserving
    val toks = docs.select(
      col("doc_id"), size(Dedup.tokens(col("text"))).cast("long").as("n_tok"))
    Relational.bandedNtile(toks, n, Seq(col("n_tok"), col("doc_id")), "bucket",
      knownSize = knownSize)
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_tok")).as("min_tok"),
        max(col("n_tok")).as("max_tok"),
        round(avg(col("n_tok")), 4).as("avg_tok_r"))
      .withColumn("pad_waste_r",
        round(lit(1.0) - col("avg_tok_r") / col("max_tok"), 4))
  }

  /** Deterministic balanced interleave: order the corpus by (per-source
    * hash rank, source) so consecutive rows rotate through the sources
    * — the "stream a fair mix" ordering a sequential trainer consumes
    * (reading the corpus front-to-back visits every source once per
    * rank round, regardless of how unbalanced the source sizes are;
    * small sources simply drop out of later rounds). Deterministic:
    * the same md5 draw as [[shuffleShard]], so re-runs interleave
    * identically.
    *
    * Shape: one rank window per source; the GLOBAL interleave order is
    * just the lexicographic (rnk, source) key — writers range-partition
    * on it (a sort, not a single-reducer window). The query form emits
    * the first `topN` rows via TakeOrdered.
    */
  def interleaveOrder(docs: DataFrame, domainCol: String, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(domainCol)).orderBy(col("skey"), col("doc_id"))
    docs
      .withColumn("skey", md5(col("doc_id").cast("string")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("doc_id"), col(domainCol).as("source"), col("rnk"))
      .orderBy(col("rnk"), col("source"), col("doc_id"))
      .limit(topN)
  }

  /** Split-leakage report: exact-duplicate text pairs that
    * [[assignSplit]] placed in DIFFERENT splits — the audit that
    * catches the classic eval contamination (duplicates straddling
    * train/test inflate benchmark scores even when each split is
    * internally deduped; the fix is dedup BEFORE split, and this table
    * proves whether it happened). Pairs only, smaller doc_id first.
    *
    * Shape: hash-project to (doc_id, split, md5(text)), self-join on
    * the 16-byte hash — posting lists are duplicate-set-sized, so the
    * join output is Σ|dupset|², never N². At 100 TB feed the already-
    * materialized dedup hash index instead of re-hashing the corpus.
    */
  def splitLeakage(docs: DataFrame, cuts: Seq[(String, Double)]): DataFrame = {
    val s = assignSplit(docs, cuts)
      .select(col("doc_id"), col("split"), md5(col("text")).as("h"))
    s.as("a").join(s.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.split") =!= col("b.split"))
      .select(
        col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        col("a.split").as("split_a"), col("b.split").as("split_b"))
  }

  /** Count of non-overlapping occurrences of a LITERAL pattern —
    * `(len(s) - len(replace(s, pat, ""))) / len(pat)`, the same count
    * `size(regexp_extract_all(s, pat, 0))` produced (both scan left to
    * right, non-overlapping; the pattern has no regex metacharacters)
    * without the regex engine pass or the match-array allocation per
    * page. Integer-exact: the length delta is always a multiple
    * of the pattern length.
    */
  private def litCount(s: Column, pat: String): Column =
    ((length(s) - length(replace(s, lit(pat), lit("")))) / lit(pat.length))
      .cast("int")

  /** HTML text extraction — the crawl front door every pretraining
    * pipeline runs before any quality gate (C4, Raffel et al. 2020;
    * CCNet, Wenzek et al. 2020; RefinedWeb, Penedo et al. 2023):
    * script/style removal, tag strip, entity decode, whitespace
    * normalization, and a DOC-LEVEL link-density chrome gate (the
    * RefinedWeb rule: a page whose visible text is mostly anchor text
    * is navigation/link-farm chrome, not prose). Malformed markup —
    * detected as an unbalanced `<script>` open/close count, the one
    * malformation that makes everything downstream of it
    * unextractable (the rest of the page IS script body per HTML5
    * error recovery) — routes to `status = 'quarantined'` with NULL
    * extraction, the intake-trio convention: never job-killing, never
    * silently extracting garbage.
    *
    * Pure built-ins (regexp_replace / regexp_extract_all / aggregate)
    * — entirely map-side, no shuffle, one pass over the page bytes:
    * the 100 TB shape is `scan → project`, and the DuckDB oracle
    * restates every step. Entity decode order is load-bearing:
    * `&amp;` decodes LAST, so a literal `&amp;lt;` in the source
    * yields the text `&lt;`, not `<` (the standard double-decode
    * guard). `link_density` is emitted as ONE IEEE long→double
    * division, unrounded (bit-identical cross-engine; a 4dp round
    * would re-open the .5-boundary split — see dsirWeights), and the
    * chrome gate itself compares integers (`link_chars·100 >
    * n_chars·pct`) so no float threshold is involved. Anchor text
    * stays in the extraction (title/nav text survives tag strip, as
    * in C4) — the gate drops link-dominated DOCS; per-block chrome
    * pruning is the boilerplate operator's job ([[boilerplate]]),
    * which consumes this operator's output downstream.
    */
  def htmlExtract(pages: DataFrame, linkDensityPct: Int = 30,
                  keepText: Boolean = false): DataFrame = {
    require(linkDensityPct > 0 && linkDensityPct <= 100,
      s"linkDensityPct must be in (0,100], got $linkDensityPct")
    // entity decode via literal `replace` (StringReplace), not
    // regexp_replace: the five entity patterns contain no regex
    // metacharacters, so left-to-right non-overlapping literal
    // replacement is EXACTLY the same function — minus five java.regex
    // engine passes over every page (per-task work, trimmed once the
    // job shape is right). Decode order unchanged —
    // &amp; still LAST (the double-decode guard). And ONE select over
    // composed Column vals instead of the former withColumn chain —
    // the identical optimized plan (CollapseProject folded the chain
    // into this projection anyway) minus six driver-side analysis
    // passes per construct (see crawlGate).
    val bad = litCount(col("html"), "<script") =!=
      litCount(col("html"), "</script>")
    val nos = regexp_replace(
      regexp_replace(col("html"), "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")
    val anchors = regexp_extract_all(nos, lit("(?s)<a[^>]*>(.*?)</a>"), lit(1))
    val linkChars = aggregate(anchors, lit(0L), (acc, a) => acc + length(a))
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&nbsp;" -> " ", "&amp;" -> "&") // &amp; LAST — double-decode guard
      .foldLeft(regexp_replace(nos, "<[^>]*>", " ")) {
        case (c, (ent, ch)) => replace(c, lit(ent), lit(ch))
      }
    val txt = trim(regexp_replace(decoded, "\\s+", " "))
    val nChars = length(txt).cast("long")
    pages.select(Seq(
      col("doc_id"),
      when(bad, lit("quarantined"))
        .when(linkChars * 100 > nChars * linkDensityPct, lit("chrome"))
        .otherwise(lit("ok")).as("status"),
      when(!bad, size(anchors).cast("long")).as("n_links"),
      when(!bad, linkChars).as("link_chars"),
      when(!bad, nChars).as("n_chars"),
      // unrounded single division of identical longs — bit-identical
      when(!bad && nChars > 0,
        linkChars.cast("double") / nChars.cast("double")).as("link_density"),
      when(!bad,
        when(txt === "", lit(0L))
          .otherwise(size(split(txt, " ")).cast("long"))).as("n_toks"),
      when(!bad, substring(txt, 1, 50)).as("head_50")) ++
      // the handoff column for downstream gates (gopherSignals,
      // boilerplate, the quality classifier) — full extracted text,
      // opt-in so the declared query's result stays stat-sized
      (if (keepText) Seq(when(!bad, txt).as("text")) else Nil): _*)
  }

  /** The FUSED crawl front-door projection — [[htmlExtract]]'s content
    * chain and [[htmlMeta]]'s head fields computed in ONE pass over the
    * page bytes, for pipelines that consume both (the composed
    * `q_crawl_pipeline` / `q_web_corpus` shape). Both chains are pure
    * map-side regexp projections of the same `html` column; running
    * them as two separate chains joined on doc_id costs a second full
    * scan of the corpus plus a doc_id exchange — avoidable at any
    * scale, fatal at 100 TB. Emits per page the content verdict
    * (`status`/`n_toks`, htmlExtract's exact rules incl. the
    * quarantine and the integer link-density gate) AND the index
    * verdict (`verdict`/`canonical`, htmlMeta's exact extraction);
    * `keepText` opts in the full extracted text, the downstream-gate
    * handoff. htmlMeta's canonical-group COUNT is deliberately not
    * here — it is an aggregate, not a projection; consumers that need
    * group sizes join the (distinct-canonical-sized) count back
    * broadcast, and the dedup pipelines key a keeper window on
    * `canonical` directly. Zero shuffles, zero joins — scan → project.
    */
  def crawlGate(pages: DataFrame, linkDensityPct: Int = 30,
                keepText: Boolean = false,
                carry: Seq[String] = Nil): DataFrame = {
    require(linkDensityPct > 0 && linkDensityPct <= 100,
      s"linkDensityPct must be in (0,100], got $linkDensityPct")
    // head fields read the RAW html (htmlMeta's contract — the meta
    // chain never quarantines; a malformed body must not hide a
    // noindex directive)
    val canonical = regexp_extract(col("html"),
      "<link rel=\"canonical\" href=\"([^\"]*)\"", 1)
    val robots = regexp_extract(col("html"),
      "<meta name=\"robots\" content=\"([^\"]*)\"", 1)
    // ONE select over composed Column vals instead of the former
    // withColumn chain: each withColumn constructed and analyzed
    // a whole new Dataset, and the optimizer's CollapseProject folded
    // them back into exactly this single projection every sample — so
    // the collapsed form is the identical optimized plan minus six
    // driver-side analysis passes per construct (the bench's uncached
    // column pays construct per sample; a construct profile shows
    // generic Catalyst tree-walking as the family's construct cost).
    val bad = litCount(col("html"), "<script") =!=
      litCount(col("html"), "</script>")
    val nos = regexp_replace(
      regexp_replace(col("html"), "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")
    val anchors = regexp_extract_all(nos, lit("(?s)<a[^>]*>(.*?)</a>"), lit(1))
    val linkChars = aggregate(anchors, lit(0L), (acc, a) => acc + length(a))
    // literal `replace` decode chain — same function, five fewer regex
    // passes per page (see htmlExtract)
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&nbsp;" -> " ", "&amp;" -> "&") // &amp; LAST — double-decode guard
      .foldLeft(regexp_replace(nos, "<[^>]*>", " ")) {
        case (c, (ent, ch)) => replace(c, lit(ent), lit(ch))
      }
    val txt = trim(regexp_replace(decoded, "\\s+", " "))
    val nChars = length(txt).cast("long")
    pages.select(Seq(
      col("doc_id"),
      when(bad, lit("quarantined"))
        .when(linkChars * 100 > nChars * linkDensityPct, lit("chrome"))
        .otherwise(lit("ok")).as("status"),
      when(!bad,
        when(txt === "", lit(0L))
          .otherwise(size(split(txt, " ")).cast("long"))).as("n_toks"),
      when(canonical =!= "", canonical).as("canonical"),
      when(robots.contains("noindex"), lit("drop")).otherwise(lit("index"))
        .as("verdict")) ++
      (if (keepText) Seq(when(!bad, txt).as("text")) else Nil) ++
      carry.map(col): _*)
  }

  /** [[crawlGate]] + the pass flag the incremental capstone's two
    * ranking stages key on — shared by the index build and the batch
    * probe so the two sides cannot drift.
    */
  private def incGated(pages: DataFrame, linkDensityPct: Int): DataFrame =
    crawlGate(pages, linkDensityPct, keepText = true)
      .withColumn("passes",
        (col("status") === "ok" && col("verdict") === "index").cast("long"))

  /** The STANDING STATE of the incremental web-corpus capstone — the
    * two indexes a production pipeline materializes once per corpus
    * version and maintains between ingest runs ([[webCorpusIncrement]]
    * scaladoc): `(canonIdx, textIdx)` where canonIdx is the distinct
    * `canonical` URLs claimed by any standing gate-survivor and
    * textIdx is the distinct `th` = md5(extracted text) of standing
    * docs alive through the canonical stage (canonical keepers +
    * no-canonical survivors — exactly the set the union capstone's
    * text stage dedups over). Both are skinny one-column
    * distinct-value-sized frames, so they parquet-materialize cheaply
    * and BROADCAST into every batch probe. The store-fed query
    * (`q_web_corpus_store`) writes these once in prepare() and feeds
    * [[webCorpusIncrementFrom]]; WebCorpusIncrementSpec pins
    * store-fed ≡ in-plan.
    */
  def webCorpusIndexes(standingPages: DataFrame,
                       linkDensityPct: Int = 30): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // the two index frames are SEPARATE consumers of the gated standing
    // corpus (and an in-plan increment broadcasts each into its own
    // probe build), so without materialization the regex-heavy gate
    // extraction runs once per index subtree — plus the text index's
    // rank window re-shuffles the full standing frame. Materialize the
    // gate ONCE (CacheScope-registered, flushed per bench sample; the
    // q_cooccur discipline). Store-fed deployments never execute this
    // function per run at all — it is the prepare-time index build and
    // the in-plan equivalence-law form.
    val sg = graft.CacheScope.cached(incGated(standingPages, linkDensityPct))
    val canonIdx = sg
      .filter(col("passes") === 1L && col("canonical").isNotNull)
      .select(col("canonical")).distinct()
    val sk1 = when(col("passes") === 1L && col("canonical").isNotNull,
        concat(lit("c:"), col("canonical")))
      .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
    val textIdx = sg
      .withColumn("rn1",
        row_number().over(Window.partitionBy(sk1).orderBy(col("doc_id"))))
      .filter(col("passes") === 1L && col("rn1") === 1)
      .select(md5(col("text")).as("th")).distinct()
    (canonIdx, textIdx)
  }

  /** INCREMENTAL web-corpus ingest — the deployment shape of the
    * composed capstone (`q_web_corpus`): a standing corpus is already
    * ingested, a batch of new pages arrives, and each batch page gets
    * the SAME per-doc stage verdict the batch pipeline would assign if
    * the whole union were re-run — without ever re-shuffling the
    * standing corpus on the hot side (the
    * [[graft.ops.Dedup.incrementalNewDocs]] contract). The standing
    * state is the two indexes of [[webCorpusIndexes]]. Batch pages
    * gate map-side ([[crawlGate]]), rank within the batch
    * (synthetic-key windows — batch-sized), and probe the two indexes
    * with BROADCAST joins keyed on canonical / md5(text) — only the
    * BATCH shuffles, the index sides are distinct-value-sized
    * broadcast builds, and the mostly-NULL probe keys (no-canonical,
    * gate-failed, dead rows) never route to a single shuffle partition
    * because there is no shuffle to skew (when an index outgrows the
    * broadcast budget at 100 TB, [[webCorpusIncrementFromBucketed]] is
    * the implemented fallback: the materialized index pre-bucketed on
    * its key, NULL-keyed batch rows split around the join, verdict
    * logic shared line-for-line). Here the
    * indexes derive in-plan from `standingPages` so the equivalence
    * law is checkable end-to-end; `q_web_corpus_store` runs the
    * materialized form.
    *
    * Law (WebCorpusIncrementSpec): with every standing doc_id below
    * every batch doc_id, `webCorpusIncrement(standing, batch)` ≡ the
    * union capstone's verdicts restricted to the batch — standing docs
    * win every canonical/text race exactly as their smaller ids would.
    */
  def webCorpusIncrement(standingPages: DataFrame, batchPages: DataFrame,
                         linkDensityPct: Int = 30): DataFrame = {
    val (canonIdx, textIdx) = webCorpusIndexes(standingPages, linkDensityPct)
    webCorpusIncrementFrom(canonIdx, textIdx, batchPages, linkDensityPct)
  }

  /** [[webCorpusIncrement]] against MATERIALIZED standing indexes —
    * the store-fed deployment form (read `canonIdx` (`canonical`) and
    * `textIdx` (`th`) from the corpus-version store, probe the batch):
    * the standing corpus never appears in the plan at all, so the run
    * cost is batch-proportional by construction.
    */
  /** How the incremental cycle consults its standing indexes: a
    * broadcast of the whole index ([[BroadcastProbe]]) or a semi-join
    * reduction against a pre-bucketed index ([[BucketedProbe]]).
    * [[probeStage]] is the one place that turns a strategy into the
    * gated batch and the [[ProbeFn]] the stages call.
    */
  private sealed trait IndexProbe
  private case object BroadcastProbe extends IndexProbe
  private case object BucketedProbe extends IndexProbe

  /** How a batch frame consults a standing one-column index:
    * `(batch, idx, joinKey, flagCol, candidates)` → batch plus
    * `flagCol` (1L where the key exists in the index, else NULL).
    * `candidates` is a narrow single-column frame of the keys that can
    * match — derived by the CALLER from the shared gated frame, BEFORE
    * any window/probe stage, so a probe's hit-set subtree never
    * contains another probe (deriving candidates from the staged
    * batch made each hit-set build replay the upstream extraction,
    * window and earlier probe — 22 parquet scans in one bucketed-cycle
    * plan). The verdict logic upstream/downstream is identical under
    * every strategy — only the physical probe differs.
    */
  private type ProbeFn = (DataFrame, DataFrame, String, String, DataFrame) => DataFrame

  /** The distinct-value-sized index builds once and broadcasts; the
    * whole batch left-joins map-side (NULL keys never shuffle because
    * nothing shuffles). Right at any realistic index-to-batch ratio,
    * wrong once the index reaches corpus cardinality at 100 TB — then
    * use [[bucketedIndexProbe]]. Candidates are unused: the broadcast
    * carries the whole index, so its plan has no hit-set subtree.
    */
  private val broadcastIndexProbe: ProbeFn = (batch, idx, key, flag, _) =>
    batch.join(broadcast(idx.withColumn(flag, lit(1L))), Seq(key), "left")

  /** The broadcast-budget fallback — a SEMI-JOIN
    * REDUCTION: the index is a PRE-BUCKETED table on `key` (one
    * sorted bucket file per task — prepare-time DDL), and instead of
    * broadcasting it, the probe (1) collapses the caller-supplied
    * candidate keys (rows that CAN match, read off the MATERIALIZED
    * gated batch — narrow and batch-bounded) to their DISTINCT values,
    * (2) left-semi joins those keys against the bucketed index, whose
    * side reads its bucket files with ZERO exchanges no matter how
    * large it grows (the SHUFFLE_HASH hint pins the strategy so the
    * planner cannot re-broadcast a small index at test scale and hide
    * the shape this probe exists to prove), and (3) broadcasts the HIT
    * SET — bounded by the batch's distinct keys, never by the index —
    * back onto the unsplit pipeline as the flag. The main path stays
    * LINEAR (no filter/union split whose pushed predicates would
    * defeat exchange reuse and re-run the extraction per branch), NULL
    * and can't-match keys never enter the probe exchange, and index
    * cardinality buys bucket-file bytes scanned, never network or
    * broadcast budget. A row outside the candidate set whose key
    * happens to be in the hit set picks up a spurious flag; harmless —
    * every consumer guards the flag with the predicate that defined
    * its candidates (or a stricter one).
    */
  private val bucketedIndexProbe: ProbeFn = (batch, idx, key, flag, candidates) => {
    // SHUFFLE_HASH semi with the CANDIDATE side as the build (a
    // LeftSemi can only build right, so the INDEX takes the left/
    // streamed seat): the hash map is batch-bounded — memory-safe at
    // any index size — the bucketed standing side streams off its
    // scan with no exchange and NO SORT demanded at all, and the
    // candidate side skips the sort an SMJ would impose. (The outer
    // probes of the delta chain stay MERGE — a shuffled-hash build
    // there would be index-partition-sized.) hits = index ∩ candidate
    // keys either way, since both sides are distinct on the key.
    val hits = idx.join(
        candidates.distinct().hint("SHUFFLE_HASH"),
        Seq(key), "left_semi")
      .withColumn(flag, lit(1L))
    batch.join(broadcast(hits), Seq(key), "left")
  }

  /** BOTH bucketed hit sets from ONE broadcast build:
    * under [[bucketedIndexProbe]] the canon and text hit-set builds
    * were two separate broadcast-exchange jobs, each re-reading the
    * materialized gate and its own bucketed store. Both candidate sets
    * derive from the SAME gated frame, so one union frame — prefixed
    * composite keys `c:`+canonical / `t:`+th, the [[incCanonStageFromGated]]
    * `bk1` trick, so cross-kind collisions cannot exist — carries both
    * hit sets, and BOTH flag-attach joins broadcast the SAME
    * CacheScope-MATERIALIZED frame (one scheduler job doing both
    * SHUFFLE_HASH semi probes; each standing side still scans its own
    * bucket files with zero exchanges — the stores are never unioned,
    * each semi keys on its own bucket column). The sharing is at the
    * cache level, not ReuseExchange: the hits subtree reads the
    * materialized gate through AQE TableCacheQueryStage wrappers whose
    * attribute ids canonicalization does NOT normalize, so two inlined
    * broadcast copies never canonical-match and neither AQE stage
    * reuse nor ReuseExchange dedups them — without the cache the
    * engine-default AQE config would run the union (and scan BOTH
    * standing indexes) twice per query. The probe contract is
    * unchanged: `flag` = 1L where the key exists in its index, NULL
    * otherwise (a NULL key composes to a NULL pk and matches nothing,
    * exactly like the USING-join it replaces).
    */
  private def fusedBucketedProbes(canonIdx: DataFrame, textIdx: DataFrame,
                                  bg: DataFrame): ProbeFn = {
    val candC = bg.filter(col("passes") === 1L && col("canonical").isNotNull)
      .select(col("canonical"))
    val candT = bg.filter(col("passes") === 1L)
      .select(md5(col("text")).as("th"))
    val hits = graft.CacheScope.cached(canonIdx.select(col("canonical"))
      .join(candC.distinct().hint("SHUFFLE_HASH"), Seq("canonical"), "left_semi")
      .select(concat(lit("c:"), col("canonical")).as("__pk"))
      .unionByName(textIdx.select(col("th"))
        .join(candT.distinct().hint("SHUFFLE_HASH"), Seq("th"), "left_semi")
        .select(concat(lit("t:"), col("th")).as("__pk")))
      .withColumn("__hit", lit(1L)))
    (batch, _, key, flag, _) => {
      val pfx = if (key == "canonical") "c:" else "t:"
      batch.join(broadcast(hits),
          concat(lit(pfx), col(key)) === col("__pk"), "left")
        .withColumn(flag, col("__hit"))
        .drop("__pk", "__hit")
    }
  }

  /** The batch's gate + canonical stage against a standing canonical
    * index — the front half [[webCorpusIncrementFrom]] (verdicts) and
    * [[webCorpusIndexDelta]] (index write-back) share, so the two
    * halves of the nightly cycle cannot drift.
    */
  private def incBatchCanonStage(canonIdx: DataFrame, batchPages: DataFrame,
                                 linkDensityPct: Int,
                                 probe: IndexProbe = BroadcastProbe): DataFrame = {
    val (bg, p) = probeStage(probe, batchPages, linkDensityPct, fuseWith = None)
    incCanonStageFromGated(canonIdx, bg, p)
  }

  /** A probe strategy's physical form: the gated batch and the probe
    * function the stages call. `fuseWith` = the (canon, text) indexes
    * when the caller probes both, so the bucketed strategy can build
    * both hit sets at once ([[fusedBucketedProbes]]; the broadcast
    * strategy is a plain linear join per index and needs no fusion).
    *
    * The gated batch is [[incGated]], MATERIALIZED when the probe
    * strategy needs to read it from more than one plan subtree. Under
    * the BUCKETED probe, each hit-set build is a SEPARATE subtree over
    * the batch (the broadcast probe is one linear join — no
    * duplication), so without
    * materialization the regex-heavy gate extraction re-executes once
    * per probe subtree: measured at sf0.1 on a 32-core host, the bucketed
    * store/delta/cycle queries ran 1.01-1.51 s vs their broadcast
    * twins' 0.34-0.81 s, with the replayed extraction the dominant
    * delta (22 parquet scans in one bucketed-cycle plan). Materialize
    * the gated batch ONCE per run instead (CacheScope-registered: the
    * bench flushes it between samples, so every sample re-pays the
    * extraction exactly once — the q_cooccur discipline). Bounded by
    * the BATCH by the increment contract, never by the corpus, so the
    * cache is safe at any standing-index size — which is the bucketed
    * regime's premise.
    */
  private def probeStage(probe: IndexProbe, batchPages: DataFrame,
                         linkDensityPct: Int,
                         fuseWith: Option[(DataFrame, DataFrame)]): (DataFrame, ProbeFn) =
    probe match {
      case BroadcastProbe => (incGated(batchPages, linkDensityPct), broadcastIndexProbe)
      case BucketedProbe =>
        val bg = graft.CacheScope.cached(incGated(batchPages, linkDensityPct))
        (bg, fuseWith.fold(bucketedIndexProbe) { case (canonIdx, textIdx) =>
          fusedBucketedProbes(canonIdx, textIdx, bg) })
    }

  /** The canonical stage over an already-gated batch frame `bg`. */
  private def incCanonStageFromGated(canonIdx: DataFrame, bg: DataFrame,
                                     probe: ProbeFn): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bk1 = when(col("passes") === 1L && col("canonical").isNotNull,
        concat(lit("c:"), col("canonical")))
      .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
    val ranked = bg.withColumn("rn1",
      row_number().over(Window.partitionBy(bk1).orderBy(col("doc_id"))))
    // probe candidates read off `bg` directly (not `ranked`): the rn1
    // window never changes WHICH canonicals exist, and keeping the
    // hit-set subtree window-free means it is one filter+distinct over
    // the materialized gate — no replayed exchange, no replayed probe
    val canonDup = col("passes") === 1L && col("canonical").isNotNull &&
      (col("in_standing_canon").isNotNull || col("rn1") =!= 1)
    probe(ranked, canonIdx.select(col("canonical")), "canonical",
        "in_standing_canon",
        bg.filter(col("passes") === 1L && col("canonical").isNotNull)
          .select(col("canonical")))
      .select(col("*"), canonDup.as("canon_dup"),
        (col("passes") === 1L && !canonDup).as("alive1"))
  }

  /** The index WRITE-BACK half of the nightly incremental cycle — what
    * maintains the store [[webCorpusIncrementFrom]] probes: after a
    * batch is ingested, the standing indexes must absorb exactly the
    * batch's NEW keys or tomorrow's run re-admits today's duplicates.
    * Returns ONE append-ready delta frame `(kind, key)` — kind 'canon'
    * for canonicals claimed by any batch gate-survivor, kind 'text'
    * for md5 hashes of batch canonical-stage survivors — LEFT-ANTI'd
    * against the keyed union of both standing indexes. One frame on
    * purpose: each page emits its ≤ 2 candidate keys from a single
    * array-explode over the gate + canonical stage, so the regex-heavy
    * extraction runs ONCE per batch (a two-frame API re-ran it per
    * output; the store writer partitions the append by `kind`). One
    * batch-bounded distinct exchange + one broadcast anti-join — the
    * standing side never shuffles.
    *
    * Law (WebCorpusIncrementSpec): for standing ids below batch ids,
    * `webCorpusIndexes(standing ∪ batch)` ≡ standing indexes ∪ these
    * deltas, as sets — i.e. append-maintenance reproduces the
    * from-scratch index build exactly, because a canonical's index
    * membership needs any passing claim (rank-free) and a text hash's
    * needs any canonical-stage survivor, and union ranking lets
    * standing rows win every race the batch could contest.
    */
  def webCorpusIndexDelta(canonIdx: DataFrame, textIdx: DataFrame,
                          batchPages: DataFrame,
                          linkDensityPct: Int = 30): DataFrame = {
    val b1 = incBatchCanonStage(canonIdx, batchPages, linkDensityPct)
    val standingKeys = canonIdx
      .select(lit("canon").as("kind"), col("canonical").as("key"))
      .unionByName(textIdx.select(lit("text").as("kind"), col("th").as("key")))
    b1
      .select(explode(array(
        when(col("passes") === 1L && col("canonical").isNotNull,
          struct(lit("canon").as("kind"), col("canonical").as("key"))),
        when(col("alive1"),
          struct(lit("text").as("kind"), md5(col("text")).as("key")))))
        .as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.kind").as("kind"), col("e.key").as("key"))
      .distinct()
      .join(broadcast(standingKeys), Seq("kind", "key"), "left_anti")
  }

  /** [[webCorpusIndexDelta]] against PRE-BUCKETED standing indexes —
    * the write-back half of the nightly cycle at broadcast-breaking
    * scale, completing [[webCorpusIncrementFromBucketed]]: the batch's
    * canonical stage probes the bucketed canon index (the semi-join
    * reduction), candidate `(kind, key)` rows distinct once
    * (batch-bounded, narrow), then ONE LINEAR CHAIN of two left
    * sort-merge probes — each against its own bucketed index directly
    * (a keyed union of the two stores would destroy their bucketing;
    * a per-kind branch split would push the kind filters below the
    * distinct exchange and re-run the extraction per branch, so the
    * probes share one frame). Cross-kind key collisions cannot corrupt the
    * verdict: each probe sets its OWN flag and the final anti
    * predicate consults the flag only under its kind. The candidate
    * side shuffles ONCE — the second probe reuses the first's
    * key-partitioning — and both standing sides scan exchange-free.
    * Same output contract and the same rebuild-equivalence oracle as
    * the broadcast form.
    */
  def webCorpusIndexDeltaBucketed(canonIdx: DataFrame, textIdx: DataFrame,
                                  batchPages: DataFrame,
                                  linkDensityPct: Int = 30): DataFrame = {
    val b1 = incBatchCanonStage(canonIdx, batchPages, linkDensityPct,
      BucketedProbe)
    b1
      .select(explode(array(
        when(col("passes") === 1L && col("canonical").isNotNull,
          struct(lit("canon").as("kind"), col("canonical").as("key"))),
        when(col("alive1"),
          struct(lit("text").as("kind"), md5(col("text")).as("key")))))
        .as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.kind").as("kind"), col("e.key").as("key"))
      .distinct()
      .join(canonIdx.select(col("canonical").as("key"))
        .withColumn("__in_canon", lit(1L)).hint("MERGE"), Seq("key"), "left")
      .join(textIdx.select(col("th").as("key"))
        .withColumn("__in_text", lit(1L)).hint("MERGE"), Seq("key"), "left")
      .filter(!(col("kind") === "canon" && col("__in_canon").isNotNull ||
                col("kind") === "text" && col("__in_text").isNotNull))
      .select(col("kind"), col("key"))
  }

  /** Per-day index CLAIMS — the RETENTION-tier store rows. The append-only `(kind, key)` indexes only ever grow;
    * a GC-able store instead records, per ingest day, every key the
    * day's gate survivors CLAIM — `('canon', canonical)` for each
    * passing claimer, `('text', md5(text))` for each passing page —
    * and lets re-crawls RE-ASSERT liveness (the LSM pattern: appends
    * refresh recency, compaction folds to max-day and expires). The
    * claim is deliberately RANK-FREE — a pure per-page property — so
    * daily claim sets compose exactly: claims(day d pages) unioned
    * over days ≡ claims(all pages at once), which is what makes the
    * retention law provable without replaying history. (The rank-1
    * standing textIdx suppresses texts carried only by
    * canonical-losing pages; that suppression is NOT day-composable —
    * a suppressor can expire — so the GC tier claims conservatively:
    * a text stays "seen" while ANY gate survivor within the horizon
    * carried it.) One batch-bounded distinct, everything else
    * map-side.
    */
  def webCorpusIndexClaims(batchPages: DataFrame, day: Long,
                           linkDensityPct: Int = 30): DataFrame =
    webCorpusIndexClaimsWithDay(batchPages, lit(day), linkDensityPct)

  /** [[webCorpusIndexClaims]] with the day DERIVED per page — for
    * replaying a multi-day history held in one frame (backfill, or
    * the declared retention query's 4-wave simulation) in ONE pass:
    * the gate extraction runs once over the whole history instead of
    * once per day slice. Exactly ≡ unioning the per-day form over the
    * slices (the claims are per-page, so slicing commutes with
    * claiming — RetentionSpec pins it).
    */
  def webCorpusIndexClaimsWithDay(batchPages: DataFrame, dayCol: Column,
                                  linkDensityPct: Int = 30): DataFrame =
    incGated(batchPages, linkDensityPct)
      .filter(col("passes") === 1L)
      .withColumn("day", dayCol)
      .select(col("day"), explode(array(
        when(col("canonical").isNotNull,
          struct(lit("canon").as("kind"), col("canonical").as("key"))),
        struct(lit("text").as("kind"), md5(col("text")).as("key"))))
        .as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.kind").as("kind"), col("e.key").as("key"), col("day"))
      .distinct()

  /** Retention compaction of the claims store: fold every key to its
    * LAST claim day and drop keys last claimed before `horizonDay` —
    * dead canonicals and texts stop pinning broadcast/bucket budgets.
    * One key-grouped aggregate over the (already skinny) claims rows;
    * run it as the nightly store rewrite and the store's size tracks
    * the live horizon, not all of history.
    *
    * Law (RetentionSpec, and the declared query's oracle):
    * `compact(⋃ all days' claims, h)` ≡ the same max-day fold over
    * ONLY the retained days' claims — expiry ≡ never having ingested
    * the expired days, key for key and day for day.
    */
  def indexRetentionCompact(claims: DataFrame, horizonDay: Long): DataFrame =
    claims.groupBy(col("kind"), col("key"))
      .agg(max(col("day")).as("last_day"))
      .filter(col("last_day") >= horizonDay)

  def webCorpusIncrementFrom(canonIdx: DataFrame, textIdx: DataFrame,
                             batchPages: DataFrame,
                             linkDensityPct: Int = 30): DataFrame =
    incrementFromWith(canonIdx, textIdx, batchPages, linkDensityPct,
      BroadcastProbe)

  /** The WHOLE nightly cycle as ONE run: per-page
    * stage verdicts ([[webCorpusIncrementFrom]]'s contract, rows with
    * `part = 'verdict'`) AND the append-ready index write-back
    * ([[webCorpusIndexDelta]]'s contract, rows with `part = 'delta'`)
    * from a SINGLE linear plan — each page pays the regex-heavy gate +
    * canonical + text stages once and emits its verdict struct plus
    * its ≤ 2 candidate index keys through one array-explode. The
    * candidate dedup is FREE: the pipeline's own race ranks
    * (rn1 within each canonical group, rn2 within each text group)
    * already single out one row per live key, so each candidate emits
    * under a `rn1/rn2 === 1` guard — no post-explode window, no
    * `distinct` + branch split (a split's pushed filters would defeat
    * exchange reuse and re-run the extraction per output, the exact
    * two-output trap the index-delta rebuild avoids). The
    * standing anti check costs NOTHING extra: candidates
    * filter against standing AT EMISSION via the probe flags the
    * verdict pipeline already carries (authoritative under both probe
    * strategies — a candidate is emitted exactly under its probe's
    * canMatch predicate), so the composition adds only the dedup
    * window over the broadcast/bucketed increment it contains.
    *
    * Law: the `verdict` rows ≡ `webCorpusIncrementFrom(...)` and the
    * `delta` rows ≡ `webCorpusIndexDelta(...)` exactly (spec-pinned
    * Spark-vs-Spark; the declared query's oracle states both halves
    * from first principles in one SQL). Day-2 idempotence — append the
    * deltas, feed the next batch — is WebCorpusStreamSpec's "turns
    * twice" junction and NightlyCycleSpec's day-2 case.
    */
  def webCorpusNightlyCycle(canonIdx: DataFrame, textIdx: DataFrame,
                            batchPages: DataFrame,
                            linkDensityPct: Int = 30): DataFrame =
    nightlyCycleWith(canonIdx, textIdx, batchPages, linkDensityPct,
      BroadcastProbe)

  /** [[webCorpusNightlyCycle]] over PRE-BUCKETED standing indexes —
    * the whole composed cycle at broadcast-breaking scale: the two
    * probes are the [[bucketedIndexProbe]] semi-join reduction and
    * NOTHING else changes, because the composition never needed a
    * standing-key structure of its own — the anti information for the
    * delta half is already aboard every page as its probe flags. Same
    * oracle template as the broadcast cycle on its own mod classes.
    */
  def webCorpusNightlyCycleBucketed(canonIdx: DataFrame, textIdx: DataFrame,
                                    batchPages: DataFrame,
                                    linkDensityPct: Int = 30): DataFrame =
    nightlyCycleWith(canonIdx, textIdx, batchPages, linkDensityPct,
      BucketedProbe)

  private def nightlyCycleWith(canonIdx: DataFrame, textIdx: DataFrame,
                               batchPages: DataFrame, linkDensityPct: Int,
                               probe: IndexProbe): DataFrame = {
    val g = incStagedFrame(canonIdx, textIdx, batchPages, linkDensityPct,
      probe)
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    // delta candidates filter against standing AT EMISSION via the
    // probe flags the pipeline already carries (a candidate is emitted
    // exactly under its probe's canMatch predicate, where the flag is
    // authoritative under BOTH probe strategies) — no standing-key
    // union, no extra broadcast, no anti join. Candidate DEDUP is free
    // too: the staged frame already ranks every passing claimer
    // within its canonical group (rn1 over `c:`+canonical) and every
    // canonical-stage survivor within its text group (rn2 over
    // `t:`+th), and the standing flags are GROUP-level (a canonical is
    // in the index or not, for every claimer alike), so guarding each
    // candidate's emission with `rn1 === 1` / `rn2 === 1` emits exactly
    // one delta row per distinct live key — the set the previous
    // explode-then-window form produced, minus its post-explode window
    // exchange + sort over ~2× batch rows (one Exchange removed from
    // both the broadcast and bucketed cycle plans; oracle hash
    // unchanged, NightlyCycleSpec's two-halves law unchanged).
    g.select(explode(array(
        struct(lit("verdict").as("part"), col("doc_id").as("doc_id"),
          incVerdictStage.as("stage"), incVerdictTok.cast("long").as("tok_cnt"),
          nullS.as("kind"), nullS.as("key")),
        when(col("passes") === 1L && col("canonical").isNotNull &&
            col("in_standing_canon").isNull && col("rn1") === 1,
          struct(lit("delta").as("part"), nullL.as("doc_id"),
            nullS.as("stage"), nullL.as("tok_cnt"),
            lit("canon").as("kind"), col("canonical").as("key"))),
        when(col("alive1") && col("in_standing_text").isNull &&
            col("rn2") === 1,
          struct(lit("delta").as("part"), nullL.as("doc_id"),
            nullS.as("stage"), nullL.as("tok_cnt"),
            lit("text").as("kind"), col("th").as("key")))))
        .as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.*"))
  }

  /** [[webCorpusIncrementFrom]] for standing indexes that have
    * OUTGROWN the broadcast budget — the fallback the broadcast form's
    * scaladoc promises, implemented: `canonIdx` / `textIdx` are
    * PRE-BUCKETED tables on their key (written once per corpus version
    * at prepare, the `q_bucket_join` DDL), and each probe is the
    * [[bucketedIndexProbe]] semi-join reduction — the batch's distinct
    * candidate keys (narrow, batch-bounded) sort-merge against the
    * bucketed index with the standing side exchange-free, and the hit
    * set (≤ the batch's distinct keys, NEVER index-sized) broadcasts
    * back onto the unsplit pipeline. Verdict logic is shared
    * line-for-line with the broadcast form ([[incrementFromWith]]),
    * so the two variants cannot drift; the declared query's oracle is
    * the same union-rerun law. Cost at any index size: two narrow
    * batch-bounded probe exchanges + two batch-bounded broadcasts on
    * top of the batch's own window shuffles — index cardinality buys
    * bucket-file bytes scanned, never network or broadcast budget.
    */
  def webCorpusIncrementFromBucketed(canonIdx: DataFrame, textIdx: DataFrame,
                                     batchPages: DataFrame,
                                     linkDensityPct: Int = 30): DataFrame =
    incrementFromWith(canonIdx, textIdx, batchPages, linkDensityPct,
      BucketedProbe)

  private def incrementFromWith(canonIdx: DataFrame, textIdx: DataFrame,
                                batchPages: DataFrame, linkDensityPct: Int,
                                probe: IndexProbe): DataFrame =
    incStagedFrame(canonIdx, textIdx, batchPages, linkDensityPct, probe)
      .select(col("doc_id"), incVerdictStage.as("stage"),
        incVerdictTok.as("tok_cnt"))

  /** The full per-page stage frame of the incremental capstone — gate,
    * canonical race + standing probe, text race + standing probe,
    * Gopher — with every intermediate column still aboard, shared by
    * the verdict projection ([[incrementFromWith]]) and the composed
    * nightly cycle ([[webCorpusNightlyCycle]]), which also needs the
    * candidate index keys the verdict form drops.
    */
  private def incStagedFrame(canonIdx: DataFrame, textIdx: DataFrame,
                             batchPages: DataFrame, linkDensityPct: Int,
                             probe: IndexProbe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // under the bucketed strategy both probes read ONE fused hit-set
    // broadcast
    val (bg, p) = probeStage(probe, batchPages, linkDensityPct,
      fuseWith = Some((canonIdx, textIdx)))
    val b1 = incCanonStageFromGated(canonIdx, bg, p)
    // the in-batch text race keys on md5(text) — the SAME equality
    // relation the standing textIdx probe and the streaming twin
    // (StreamingCorpus.webCorpusStreamCycle stage 2) already use, so every
    // form of the race shares one relation; it also
    // shuffles a 32-char key instead of the full text. The DuckDB
    // oracle keeps RAW-TEXT equality, so the hash match doubles as
    // evidence the md5 stand-in loses nothing on this corpus.
    val thE = md5(col("text")) // deterministic — safe to inline twice
    val bk2 = when(col("alive1"), concat(lit("t:"), thE))
      .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
    val staged = b1.select(col("*"), thE.as("th"),
      row_number().over(Window.partitionBy(bk2).orderBy(col("doc_id")))
        .as("rn2"))
    // text-probe candidates come off `bg` with the WIDER gate-pass
    // predicate (`passes`, map-side) instead of `alive1` (which needs
    // the rn1 window + the canon probe): the hit set stays
    // batch-bounded, alive1 rows' keys are all still in it (alive1 ⊆
    // passes), so the flag every consumer reads UNDER alive1 is
    // unchanged — and the hit-set subtree is one filter+hash+distinct
    // over the materialized gate, with no replayed window or probe. A
    // passes-but-not-alive1 row may pick up a spurious flag; every
    // consumer guards with alive1 (text_dup, the cycle's delta
    // emission), so it is unreadable.
    val textDup = col("alive1") &&
      (col("in_standing_text").isNotNull || col("rn2") =!= 1)
    val b2 = p(staged, textIdx.select(col("th")), "th",
        "in_standing_text",
        bg.filter(col("passes") === 1L).select(md5(col("text")).as("th")))
      .select(col("*"), textDup.as("text_dup"),
        (col("alive1") && !textDup).as("alive2"))
    withGopher(b2)
  }

  private def incVerdictStage: Column =
    when(col("status") === "quarantined", lit("quarantined"))
      .when(col("status") === "chrome", lit("chrome"))
      .when(col("verdict") === "drop", lit("noindex"))
      .when(col("canon_dup"), lit("canonical_dup"))
      .when(col("text_dup"), lit("text_dup"))
      .when(coalesce(col("gopher_ok"), lit(0L)) =!= 1L, lit("low_quality"))
      .otherwise(lit("kept"))

  private def incVerdictTok: Column =
    when(col("alive2") && coalesce(col("gopher_ok"), lit(0L)) === 1L,
      col("n_toks"))

  /** HTML HEAD metadata extraction — the crawl-INDEX gate next to
    * [[htmlExtract]]'s content gate: `<title>`, the `rel="canonical"`
    * link (the publisher's own dedup hint — crawl pipelines collapse
    * variants onto it BEFORE any content hash), and the robots
    * meta directives (`noindex` pages must not enter the corpus at
    * all; `nofollow` kills link expansion). Emits per page the
    * extracted fields, 0/1 directive flags, the index/drop verdict,
    * and `n_same_canonical` — how many pages in the batch share this
    * page's canonical target (the collapse size
    * [[graft.ops.Text.canonicalUrlDedup]] would act on; pages without
    * a canonical count as their own singleton group).
    *
    * Shape: map-side regexp extraction + ONE canonical-keyed count
    * aggregate (distinct-canonical-sized — far smaller than pages)
    * joined back broadcast. Exact integer/flag arithmetic only — no
    * float parity surface.
    */
  def htmlMeta(pages: DataFrame): DataFrame = {
    val title = regexp_extract(col("html"), "(?s)<title>(.*?)</title>", 1)
    val canonical = regexp_extract(col("html"),
      "<link rel=\"canonical\" href=\"([^\"]*)\"", 1)
    val robots = regexp_extract(col("html"),
      "<meta name=\"robots\" content=\"([^\"]*)\"", 1)
    val base = pages.select(
      col("doc_id"),
      when(title =!= "", title).as("title"),
      when(canonical =!= "", canonical).as("canonical"),
      when(robots.contains("noindex"), 1L).otherwise(0L).as("noindex"),
      when(robots.contains("nofollow"), 1L).otherwise(0L).as("nofollow"))
    val groups = base.filter(col("canonical").isNotNull)
      .groupBy(col("canonical")).agg(count(lit(1)).as("n_same_canonical"))
    base.join(broadcast(groups), Seq("canonical"), "left")
      .select(
        col("doc_id"), col("title"), col("canonical"),
        col("noindex"), col("nofollow"),
        when(col("noindex") === 1L, lit("drop")).otherwise(lit("index"))
          .as("verdict"),
        coalesce(col("n_same_canonical"), lit(1L)).as("n_same_canonical"))
  }

  /** The composed corpus build — the whole point of the toolbox in
    * one lazy plan: exact dedup (first doc_id per identical text) →
    * Gopher quality gate → deterministic per-domain sampling →
    * sequence packing. Two shuffles end to end (the dedup window by
    * text, the packing windows by shard); the gate and the sampler
    * ride along map-side. At 100 TB swap the dedup window key for
    * `xxhash64(text)` (8-byte shuffle) and the exact dedup for the
    * MinHash pipeline when near-dups matter.
    */
  def buildCorpus(docs: DataFrame, domainCol: String,
                  weights: Map[String, Double],
                  shardSize: Int, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    val deduped = docs
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val gated = gopherPass(deduped)
    val sampled = weightedSample(gated, domainCol, weights).drop("u_r")
    packSequences(sampled, shardSize, budget, carry = Seq(domainCol))
  }
}
