package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.CacheScope

/** Near-duplicate detection over text corpora — the document-dedup
  * toolbox of a training-data pipeline: exact (see [[Text.exactDedup]]),
  * n-gram Jaccard (exact pairwise), MinHash+LSH (approximate, scalable),
  * and SimHash clustering.
  *
  * Algorithms are the published classics: MinHash resemblance sketches
  * (Broder, "On the resemblance and containment of documents", 1997),
  * LSH band-bucketing (Indyk & Motwani 1998; the banding analysis in
  * Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3), and
  * SimHash fingerprints (Charikar, "Similarity estimation techniques
  * from rounding algorithms", STOC 2002; used at crawl scale in Manku
  * et al., WWW 2007). See also PAPERS.md for the retrieved top-k
  * similarity literature.
  *
  * Hash choice: md5 of the UTF-8 shingle/token — slower than xxhash64
  * but bit-identical in every engine (the DuckDB oracle reproduces it),
  * which makes the whole pipeline correctness-checkable end to end.
  * The xxhash64 swap for 100 TB is noted once, on [[hashedShingles]].
  */
object Dedup {

  /** Whitespace tokens, empties dropped. Map-side HOF, no explode. */
  def tokens(text: Column): Column = filter(split(text, " "), t => t =!= "")

  /** (doc_id, shingle) rows: the 3-gram token shingles of each doc,
    * one row per occurrence, NOT yet distinct — callers fold the dedup
    * into a partition pass they already pay. Docs shorter than 3
    * tokens collapse to one partial shingle (concat_ws skips the NULL
    * tails) — mirrored exactly by the DuckDB oracle.
    *
    * Shape: explode a position sequence and index the token array with
    * `try_element_at` (codegen'd array access, NOT an interpreted HOF
    * lambda) — fully map-side. The previous posexplode + lead/lead
    * window form paid an extra full shuffle+sort on doc_id for the
    * same output.
    */
  private[graft] def docShingles(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), greatest(size(col("toks")) - 3, lit(0)))).as("pos"))
      .select(col("doc_id"), concat_ws(" ",
        try_element_at(col("toks"), col("pos") + 1),
        try_element_at(col("toks"), col("pos") + 2),
        try_element_at(col("toks"), col("pos") + 3)).as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs: J(A,B) = |A∩B| / |A∪B| over
    * 3-gram shingle sets, pairs with J ≥ threshold.
    *
    * Shape at scale: the shingle self-join is the standard
    * inverted-index trick — only docs SHARING a shingle ever meet, so
    * cost is Σ(posting-list²) not N². Skew guard for 100 TB: drop
    * ultra-common shingles (posting list > cap) before the join; they
    * contribute nothing to high-Jaccard detection.
    */
  def ngramJaccardPairs(corpus: DataFrame, threshold: Double,
                        dfCap: Long = 1000L): DataFrame = {
    // Join on the 31-bit shingle hash, not the string: the shuffle
    // carries 8 bytes per row and hash-compares instead of string
    // compares. Collisions (~N²/2³¹ shingles) shift J by a hair — the
    // oracle mirrors the same hash, so results stay exact-comparable.
    // cache(): five consumers (hot-hash agg, both join sides, both
    // size branches) all read the one (doc_id, h) frame.
    val sh = CacheScope.cached(hashedShingles(corpus))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    ngramJaccardFromHashed(sh, sizes, threshold, dfCap)
  }

  /** [[ngramJaccardPairs]] over a pre-built per-doc dedup frame
    * ([[docDedupFrame]]): `explode(hs)` reproduces the hashed-shingle
    * rows exactly and `sz` carries the set sizes, so the exact
    * inverted-index join runs with ZERO tokenize/md5 work — the
    * at-ingest materialized-signatures path.
    */
  def ngramJaccardPairsFromFrame(frame: DataFrame, threshold: Double,
                                 dfCap: Long = 1000L): DataFrame =
    ngramJaccardFromHashed(
      // cached like the corpus path's hashed-shingle frame: the hot
      // aggregate and both self-join sides read the exploded rows —
      // three parquet re-explodes measured ~2× slower than one
      // materialize + cached reads
      CacheScope.cached(frame.select(col("doc_id"), explode(col("hs")).as("h"))),
      frame.select(col("doc_id"), col("sz")),
      threshold, dfCap)

  /** Shared exact-Jaccard core over (doc_id, h) rows + per-doc sizes.
    *
    * The df-cap skew guard is ON BY DEFAULT: shingles whose posting
    * list exceeds dfCap docs are dropped BEFORE the self-join (an
    * ultra-common shingle — "in the of" — contributes k² join rows
    * for k sharers while carrying no similarity signal; one hot
    * shingle can dominate the whole join at corpus scale; the cap
    * bounds per-shingle fan-out at dfCap²). The hot set is
    * vocabulary-tail-sized, so it rides a broadcast ANTI join —
    * map-side, no exchange on the fact side. Set sizes still count
    * capped shingles, so J is underestimated, never overestimated —
    * the safe direction for a ≥ threshold gate (equivalence with the
    * uncapped form when dfCap ≥ max posting size is spec-pinned).
    */
  private def ngramJaccardFromHashed(sh: DataFrame, sizes: DataFrame,
                                     threshold: Double, dfCap: Long): DataFrame = {
    val hot = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("h"))
    val rare = sh.join(broadcast(hot), Seq("h"), "left_anti")
    val a = rare.select(col("doc_id").as("a"), col("h"))
    val b = rare.select(col("doc_id").as("b"), col("h"))
    val common = a.join(b, "h")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sa")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("sb")), "b")
      .withColumn("jaccard", round(col("c") / (col("sa") + col("sb") - col("c")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Asymmetric CONTAINMENT pairs (Broder's other resemblance measure)
    * over a pre-built per-doc dedup frame: c(A→B) = |A∩B| / |A| — near
    * 1 when A is (mostly) inside B even if B is far larger, which
    * Jaccard misses (a quoted paragraph inside a long page has high
    * containment, low J). Same inverted-index join as
    * [[ngramJaccardPairs]], without the df cap: containment is exactly
    * the measure where a COMMON fragment (boilerplate header, quoted
    * paragraph) is the signal. Reports both directions, keeps pairs
    * where either exceeds `threshold`. `explode(hs)` + the carried `sz`
    * give the hashed rows with zero tokenize/md5 work; only the
    * h-repartition that makes the self-join exchange-free remains.
    */
  def ngramContainmentPairsFromFrame(frame: DataFrame, threshold: Double): DataFrame =
    containmentFromHashed(
      CacheScope.cached(
        frame.select(col("doc_id"), col("sz"), explode(col("hs")).as("h"))
          .repartition(col("h"))),
      threshold)

  private def containmentFromHashed(sh: DataFrame, threshold: Double): DataFrame = {
    val a = sh.select(col("doc_id").as("a"), col("sz").as("sa"), col("h"))
    val b = sh.select(col("doc_id").as("b"), col("sz").as("sb"), col("h"))
    a.join(b, "h")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c"), max(col("sa")).as("sa"), max(col("sb")).as("sb"))
      .withColumn("cont_a", round(col("c") / col("sa"), 4))
      .withColumn("cont_b", round(col("c") / col("sb"), 4))
      .filter(col("cont_a") >= threshold || col("cont_b") >= threshold)
      .select(col("a"), col("b"), col("cont_a"), col("cont_b"))
  }

  /** (doc_id, h) — the 31-bit shingle hashes every stage downstream of
    * shingling consumes. Factored out so a composed pipeline computes
    * it (and the corpus feeding it) exactly ONCE and caches it:
    * signatures, set sizes, and exact-verify then all read the same
    * 16-byte-per-row frame instead of re-tokenizing the corpus each.
    *
    * The md5 → xxhash64 swap: md5 keeps every hash in this package
    * bit-identical in DuckDB, which has no bit-compatible xxhash64, so
    * the declared queries and their oracles run md5. At 100 TB replace
    * the md5-prefix expression with `pmod(xxhash64(shingle),
    * 2147483647)`: one 64-bit mix in whole-stage codegen, folded into
    * the same 31-bit domain the permutation family expects, and exact
    * duplicates still always collide. Every other md5 site here (gram
    * keys, content hashes, fingerprints) takes the same one-line swap.
    */
  def hashedShingles(corpus: DataFrame): DataFrame =
    // doc_id partition FIRST: hash(doc_id) satisfies the clustering of
    // the (doc_id, shingle) distinct (subset key) AND of every
    // downstream per-doc aggregation (signature fold, set sizes), so
    // the whole shingle→signature pipeline costs ONE exchange instead
    // of two. The repartition carries raw (pre-distinct) rows where
    // the old distinct exchange carried map-side-deduped ones — but
    // shingles are near-unique within a doc, so the volumes are the
    // same; the h-keyed consumers (inverted-index join) pay their own
    // exchange either way.
    docShingles(corpus)
      .repartition(col("doc_id")).distinct()
      .withColumn("h", shingleHash(col("shingle")))
      .select(col("doc_id"), col("h"))

  /** The 31-bit shingle hash: the first 32 bits of md5, mod 2³¹−1. */
  private[graft] def shingleHash(shingle: Column): Column =
    Sketches.h32(shingle, 0) % 2147483647L

  /** Permutation `s` of the MinHash family over a 31-bit shingle hash:
    * (a_s·h + b_s) mod (2³¹−1) with a_s = 101s + 37 and b_s = 97s + 13,
    * fixed literals the DuckDB oracle restates.
    */
  private[graft] def minhashPerm(h: Column, s: Int): Column =
    (lit((37 + 101 * s).toLong) * h + lit((13 + 97 * s).toLong)) % 2147483647L

  /** The `numHashes` per-seed signature minima `mh0..` over rows of `h`. */
  private def minhashMins(numHashes: Int): Seq[Column] =
    (0 until numHashes).map(s => min(minhashPerm(col("h"), s)).as(s"mh$s"))

  /** MAP-SIDE MinHash signature: the whole signature from the text
    * column in one projection — no explode, no groupBy, NO SHUFFLE.
    * Same shingles (distinct 3-grams), same md5→31-bit base hash, same
    * permutation family as [[docDedupFrame]]'s `minhashes`, so the two
    * forms produce IDENTICAL arrays (law-tested in DedupProps).
    *
    * This is the form Structured Streaming needs (a streaming source
    * can't pay a per-doc groupBy just to build signatures) and the
    * right shape whenever signatures are computed at ingest. The md5
    * chain runs ONCE into a hash array; the per-seed mins then fold
    * over longs (the measured 40×-slower trap was re-deriving the md5
    * chain once per seed — this does not).
    */
  def minhashSignatureExpr(text: Column, numHashes: Int): Column = {
    val toks = tokens(text)
    val shingles = array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - 3, lit(0))),
      i => concat_ws(" ",
        try_element_at(toks, i + 1),
        try_element_at(toks, i + 2),
        try_element_at(toks, i + 3))))
    val hashes = transform(shingles, shingleHash(_))
    array((0 until numHashes).map(s =>
      array_min(transform(hashes, minhashPerm(_, s)))): _*)
  }

  /** The fused per-doc dedup frame: (doc_id, hs array<bigint>, sz,
    * minhashes) in ONE aggregation over the codegen'd [[hashedShingles]]
    * rows — collect_list gathers the shingle-hash array (sorted, as AQE
    * and the reducer count change the order rows arrive in), the
    * `numHashes` permutation mins and the set size ride in the same
    * groupBy, so the whole frame costs a single exchange and keeps md5 +
    * permutations inside codegen (a pure-HOF array form was measured ~4×
    * slower: md5/fold inside interpreted lambdas). `explode(hs)`
    * reproduces [[hashedShingles]]' rows exactly (multiset-identical —
    * the distinct is on the shingle STRING). One cache of this frame feeds
    * LSH candidates, set sizes, AND the exact-verify join in [[verifiedNearDupPairs]].
    */
  private[graft] def docDedupFrame(corpus: DataFrame, numHashes: Int): DataFrame =
    hashedShingles(corpus)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("h"))).as("hs"),
        minhashMins(numHashes) :+ count(lit(1)).as("sz"): _*)
      .withColumn("minhashes", array((0 until numHashes).map(i => col(s"mh$i")): _*))
      .select(col("doc_id"), col("hs"), col("sz"), col("minhashes"))

  /** MinHash + LSH banding: split the signature into `bands` bands of
    * `numHashes/bands` rows; docs sharing any (band, band-signature)
    * bucket become candidate pairs. One shuffle on the bucket key; the
    * classic sub-quadratic dedup at corpus scale.
    */
  def minhashLshCandidates(corpus: DataFrame, numHashes: Int = 16, bands: Int = 4): DataFrame =
    minhashLshCandidatesFromFrame(
      CacheScope.cached(docDedupFrame(corpus, numHashes)), numHashes, bands)

  /** [[minhashLshCandidates]] over a pre-built signature frame
    * (doc_id, minhashes) — the at-ingest materialized-signatures path.
    */
  def minhashLshCandidatesFromFrame(frame: DataFrame, numHashes: Int = 16,
                                    bands: Int = 4): DataFrame =
    lshCandidatesFromSigs(frame, numHashes, bands)

  /** (doc_id, minhashes, band_id, sig) — the banded explode shared by
    * the candidate join and the estimator's signature carry.
    */
  private def bandedSigs(signatures: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    signatures
      .withColumn("band", explode(expr(
        s"""transform(sequence(0, ${bands - 1}),
           |  b -> struct(b as band_id,
           |              array_join(transform(slice(minhashes, b * $rows + 1, $rows),
           |                                   x -> cast(x as string)), ',') as sig))""".stripMargin)))
      .select(col("doc_id"), col("minhashes"), col("band.band_id"), col("band.sig"))
  }

  private def lshCandidatesFromSigs(signatures: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val sigs = bandedSigs(signatures, numHashes, bands)
      .select(col("doc_id"), col("band_id"), col("sig"))
    // both self-join sides read this; the caller caches the signature
    // frame, so the banded explode is a cheap map over that cache —
    // not worth a second cache-materialize action
    val cachedSigs = sigs
    val l = cachedSigs.select(col("band_id"), col("sig"), col("doc_id").as("a"))
    val r = cachedSigs.select(col("band_id"), col("sig"), col("doc_id").as("b"))
    l.join(r, Seq("band_id", "sig"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Jaccard ESTIMATE from signatures alone: fraction of agreeing
    * minhash positions. For a candidate pair this costs 16 comparisons
    * instead of a shingle join — the cheap triage between LSH
    * candidacy and exact verification (E[est] = J, sd ≈ √(J(1−J)/16)).
    */
  def minhashJaccardEstimates(corpus: DataFrame, numHashes: Int = 16, bands: Int = 4): DataFrame =
    minhashJaccardEstimatesFromFrame(
      CacheScope.cached(docDedupFrame(corpus, numHashes)), numHashes, bands)

  /** [[minhashJaccardEstimates]] over a pre-built signature frame
    * (doc_id, minhashes — e.g. a materialized [[docDedupFrame]]).
    *
    * The signatures ride THROUGH the banding self-join (numHashes
    * longs of extra row width on the banded stream) instead of
    * joining back onto the store per side — that join-back shape paid
    * two broadcast-build jobs that each re-scanned the store. The
    * distinct dedups band collisions on (a, b, j_est), which equals a
    * pair-key distinct because j_est is a pure function of the pair.
    * At very large numHashes the carried width would argue for the
    * join-back form again; at the 16-hash production config the
    * carry wins everywhere.
    */
  def minhashJaccardEstimatesFromFrame(sigs: DataFrame, numHashes: Int = 16,
                                       bands: Int = 4): DataFrame = {
    val banded = bandedSigs(sigs, numHashes, bands)
    val l = banded.select(col("band_id"), col("sig"),
      col("doc_id").as("a"), col("minhashes").as("sa"))
    val r = banded.select(col("band_id"), col("sig"),
      col("doc_id").as("b"), col("minhashes").as("sb"))
    l.join(r, Seq("band_id", "sig"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), jEstCol(col("sa"), col("sb"), numHashes))
      .distinct()
  }

  /** The single home of the j_est formula — fraction of agreeing
    * signature positions — shared by the estimator and the audit (so
    * the audit can never drift from the estimator it measures).
    */
  private def jEstCol(sa: Column, sb: Column, numHashes: Int): Column =
    round(
      size(filter(zip_with(sa, sb, (x, y) => x === y), p => p))
        .cast("double") / numHashes,
      4).as("j_est")

  /** The signature-agreement estimate for a GIVEN candidate set (the
    * audit path: candidates arrive cached, both sig joins read the
    * same cached store).
    */
  private def estimatesForCandidates(sigs: DataFrame, cands: DataFrame,
                                     numHashes: Int): DataFrame =
    cands
      .join(sigs.select(col("doc_id").as("a"), col("minhashes").as("sa")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("minhashes").as("sb")), Seq("b"))
      .select(col("a"), col("b"), jEstCol(col("sa"), col("sb"), numHashes))

  /** Verified near-dup edge set: LSH candidates → EXACT Jaccard
    * verification restricted to candidate pairs (the quadratic check
    * only ever runs on the sub-quadratic candidate set). Returns
    * directed pairs (a < b) with J ≥ minJaccard.
    */
  def verifiedNearDupPairs(corpus: DataFrame, minJaccard: Double,
                           numHashes: Int = 16, bands: Int = 4): DataFrame =
    // ONE cached map-side frame feeds everything: per-doc shingle-hash
    // arrays with their sizes ([[docShingleHashArrays]]) and the full
    // MinHash signature folded from them — zero exchanges to build, so
    // the cache materializes in a single scan-shaped job. LSH
    // candidates, set sizes, and the exact-verify join all read it;
    // nothing else is cached.
    verifiedNearDupPairsFromFrame(
      CacheScope.cached(docDedupFrame(corpus, numHashes)), minJaccard, numHashes, bands)

  /** [[verifiedNearDupPairs]] over a pre-built per-doc dedup frame
    * ([[docDedupFrame]] — doc_id, hs, sz, minhashes), e.g. a
    * materialized at-ingest signature store.
    */
  def verifiedNearDupPairsFromFrame(docs: DataFrame, minJaccard: Double,
                                    numHashes: Int = 16, bands: Int = 4): DataFrame =
    exactJaccardForCandidates(docs, lshCandidatesFromSigs(docs, numHashes, bands))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"))

  /** Exact Jaccard computed ONLY for the given candidate pairs — the
    * verify stage's core, shared with the estimator audit: both set
    * sizes ride the join rows into the aggregation, so the cost is
    * Σ over candidate pairs of |A|+|B| rows, never all-pairs. Pairs
    * sharing ZERO shingles produce no row (their J is 0 by
    * definition); callers left-join and fill.
    */
  private def exactJaccardForCandidates(docs: DataFrame, cands: DataFrame): DataFrame =
    cands
      .join(docs.select(col("doc_id").as("a"), col("sz").as("sa"),
        explode(col("hs")).as("h")), Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("sz").as("sb"),
        explode(col("hs")).as("h")), Seq("b", "h"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c"), max(col("sa")).as("sa"), max(col("sb")).as("sb"))
      .withColumn("jaccard",
        round(col("c") / (col("sa") + col("sb") - col("c")), 4))

  /** The composed dedup flow with the ONE-HOP keeper rule: each doc
    * keeps the smallest doc_id among itself and its DIRECT verified
    * near-dups. Cheap (no iteration) and correct when duplicate groups
    * are cliques; duplicate CHAINS (A~B~C with A,C dissimilar) split
    * into multiple keepers — [[connectedComponentKeepers]] is the
    * transitive production rule.
    */
  def lshDedupKeepers(corpus: DataFrame, minJaccard: Double,
                      numHashes: Int = 16, bands: Int = 4): DataFrame =
    lshKeepersFrom(
      verifiedNearDupPairs(corpus, minJaccard, numHashes, bands),
      corpus.select(col("doc_id")))

  /** [[lshDedupKeepers]] over a pre-built per-doc dedup frame — the
    * frame has one row per doc, so it supplies both the verify input
    * and the vertex list.
    */
  def lshDedupKeepersFromFrame(frame: DataFrame, minJaccard: Double,
                               numHashes: Int = 16, bands: Int = 4): DataFrame =
    lshKeepersFrom(
      verifiedNearDupPairsFromFrame(frame, minJaccard, numHashes, bands),
      frame.select(col("doc_id")))

  /** One-hop keeper fold shared by the corpus/frame entries.
    * Undirected neighbor view via a single explode (a self-union
    * would re-run the LSH+verify joins once per branch), min-folded
    * to one row per edge-participating doc BEFORE touching the
    * vertex list: the groupBy shuffles only the dup-edge set, and the
    * vertices then fold singletons in with a broadcast left join —
    * the corpus itself never shuffles, at any scale.
    */
  private def lshKeepersFrom(pairs: DataFrame, vertices: DataFrame): DataFrame = {
    val minNb = pairs
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .groupBy(col("e.a").as("doc_id")).agg(min(col("e.b")).as("nb"))
    vertices
      .join(broadcast(minNb), Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("nb"), col("doc_id"))).as("keep_id"))
  }

  /** TRANSITIVE dedup keeper: connected components over the verified
    * edge set, each doc keeping the smallest doc_id in its component —
    * so a duplicate chain A~B~C collapses to ONE keeper even when A
    * and C are not directly similar.
    *
    * Algorithm: iterated min-label propagation to fixpoint
    * (label(v) ← min(label(v), min over neighbors' labels)), the
    * standard Pregel/hash-min connected-components formulation. Each
    * round is one broadcast-or-shuffle join + one partial-aggregated
    * groupBy; rounds needed = graph diameter in label-hops, ≤ ~5 for
    * dedup graphs (duplicate clusters are tiny and dense).
    * Convergence is detected by the label-sum (labels only ever
    * decrease, so an unchanged sum IS the fixpoint — one cheap scalar
    * agg per round instead of a change-count join). `localCheckpoint`
    * truncates the per-round lineage so the plan doesn't grow
    * exponentially with iterations.
    *
    * The propagation runs ONLY over edge-participating vertices: a doc
    * with no verified near-dup is a singleton by definition, so
    * carrying it through every round would make each iteration
    * corpus-sized instead of duplicate-set-sized (in a real corpus,
    * duplicates are a few percent of docs). Singletons fold back in
    * with one final left join.
    *
    * At 100 TB: identical shape, with the edge set hash-partitioned on
    * `a`; the label table is dup-docs×16 bytes, and each round's
    * shuffle carries only (doc, label) pairs. GraphFrames' CC is this
    * same loop with large-star/small-star optimizations.
    */
  def connectedComponentKeepers(corpus: DataFrame, minJaccard: Double,
                                numHashes: Int = 16, bands: Int = 4,
                                maxIters: Int = 20): DataFrame =
    ccKeepersFromEdges(
      verifiedNearDupPairs(corpus, minJaccard, numHashes, bands),
      corpus.select(col("doc_id")), maxIters)

  /** Connected-component keeper assignment from ANY undirected pair
    * set — the modality-agnostic core of [[connectedComponentKeepers]]:
    * text near-dups arrive via MinHash+verify, image near-dups via
    * [[graft.ops.Multimodal.phashNearDupPairs]], embedding near-dups
    * via cosine pairs — the transitive min-label fixpoint is the same
    * machinery regardless of what produced the edges. `pairs` carries
    * (a, b); `vertices` carries doc_id (singletons keep themselves).
    */
  def ccKeepersFromEdges(pairs: DataFrame, vertices: DataFrame,
                         maxIters: Int = 20): DataFrame = {
    val corpus = vertices
    // ONE cached frame: the undirected edge set, built by exploding
    // each verified (a,b) pair into both directions in the SAME pass —
    // a self-union would re-run the upstream candidate/verify joins
    // (the dominant cost of the operator) once per branch, and caching
    // the directed set first just to guard the union costs a second
    // materialization job. The explode keeps it one plan, one cache.
    val edges = CacheScope.cached(
      pairs
        .select(explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b")))
    // Fused first hop: initialize each edge vertex at min(self, direct
    // neighbors) instead of self — the same label state round 1 would
    // produce, for the cost of the groupBy that builds the vertex set
    // anyway. Saves one full join+checkpoint+converge-probe round.
    val firstHop = edges.groupBy(col("a")).agg(min(col("b")).as("nb"))
      .select(col("a").as("doc_id"), least(col("a"), col("nb")).as("keep_id"))
    // ... and the first propagate round rides in the SAME plan: dedup
    // graphs converge in 1-2 label-hops (clusters are tiny and dense),
    // so materializing the hop-1 state just to immediately propagate it
    // again wastes an action + probe. One checkpoint lands hop-2 state
    // directly; the probe below then confirms the fixpoint.
    var labels = edges
      .join(broadcast(firstHop.select(col("doc_id").as("b"), col("keep_id"))), Seq("b"))
      .select(col("a").as("doc_id"), col("keep_id"))
      .unionByName(firstHop)
      .groupBy(col("doc_id")).agg(min(col("keep_id")).as("keep_id"))
      .localCheckpoint(false)
    // Fixpoint test, directly: hash-min is converged iff every edge
    // has equal endpoint labels (the propagate min then changes
    // nothing). One count job over edges ⋈ labels². Clique-shaped
    // duplicate groups converge at the fused first hop, so the common
    // case pays one probe and ZERO loop rounds; the former label-sum
    // bookkeeping always paid two full rounds just to see the sum
    // repeat.
    //
    // The label side carries EXPLICIT broadcast hints everywhere it is
    // joined: it is a checkpointed RDD scan with no catalog stats, so
    // the planner would otherwise pick sort-merge and shuffle the big
    // side on every probe/round. Labels are dup-subgraph vertices ×16
    // bytes — LSH-verified duplicate sets are a few percent of the
    // corpus, well inside executor memory at this engine's operating
    // envelope. If the duplicate subgraph itself outgrows broadcast
    // range, drop the hints and let AQE choose (the loop shape is
    // already shuffle-correct).
    // Both probe lookups broadcast the SAME frame keyed the same way
    // (doc_id), so the two BroadcastExchanges canonicalize equal and
    // ReuseExchange ships one broadcast build, not two.
    def mismatches(l: DataFrame): Long = {
      val bl = broadcast(l)
      edges
        .join(bl.as("pa"), col("a") === col("pa.doc_id"))
        .join(bl.as("pb"), col("b") === col("pb.doc_id"))
        .filter(col("pa.keep_id") =!= col("pb.keep_id"))
        .count()
    }
    var iter = 2 // fused first hop + one propagate are rounds 1-2
    while (iter < maxIters && mismatches(labels) > 0) {
      // label(v) ← min(label(v), min over neighbors' labels), as ONE
      // union + groupBy-min: the neighbor-label stream (edges ⋈ labels
      // on the b side — a broadcast-size join) unions with the current
      // labels, and a single partial-aggregated min fold replaces the
      // former groupBy + left-join pair — one shuffle per round.
      labels = edges
        .join(broadcast(labels.select(col("doc_id").as("b"), col("keep_id"))), Seq("b"))
        .select(col("a").as("doc_id"), col("keep_id"))
        .unionByName(labels)
        .groupBy(col("doc_id")).agg(min(col("keep_id")).as("keep_id"))
        .localCheckpoint(false)
      iter += 1
    }
    // Singleton fold-in: broadcast the labels so the corpus side never
    // shuffles — a map-side left join at any corpus size (labels stay
    // dup-subgraph-sized; see the broadcast rationale above).
    corpus.select(col("doc_id"))
      .join(broadcast(labels.withColumnRenamed("keep_id", "cc_keep")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cc_keep"), col("doc_id")).as("keep_id"))
  }

  /** 32-bit SimHash fingerprint per doc over its distinct-token bag,
    * plus hamming-0 clustering (identical fingerprints share a cluster
    * keeper). The bit width is 32 so the hex→int conversion is exact in
    * both engines; hamming-≤-k pair search at scale uses the standard
    * bit-band LSH (split the fingerprint into k+1 bands; any pair
    * within distance k shares an exact band) — same join shape as
    * [[minhashLshCandidates]].
    */
  def simhashClusters(corpus: DataFrame): DataFrame =
    // read twice: fingerprint emit + cluster-keeper lookup
    simhashClustersFromFps(CacheScope.cached(simhashFps(corpus)))

  /** [[simhashClusters]] over a pre-built (doc_id, fp) fingerprint
    * table — the at-ingest materialized form (SimHash fingerprints are
    * stored per document in production crawl dedup, Manku et al. 2007).
    */
  def simhashClustersFromFps(fps: DataFrame): DataFrame = {
    val byFp = fps.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    fps.join(byFp, "fp").select(col("doc_id"), col("fp"), col("keep_id"))
  }

  /** The 32-bit SimHash fingerprint table (doc_id, fp) both
    * [[simhashClusters]] (hamming-0) and [[simhashBandStats]]
    * (hamming-≤k) build on.
    */
  def simhashFps(corpus: DataFrame): DataFrame = {
    val tok = corpus
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
      .withColumn("h", Sketches.h32(col("token"), 0))
    // One groupBy(doc) with 32 conditional-sum aggregates — no ×32 row
    // explosion, map-side partial aggregation, same math as the
    // per-(doc,bit) formulation the oracle uses.
    val bitAggs = (0 until 32).map { b =>
      sum(expr(s"2 * ((h >> $b) & 1) - 1")).as(s"s$b")
    }
    tok.groupBy(col("doc_id"))
      .agg(bitAggs.head, bitAggs.tail: _*)
      .withColumn("fp", (0 until 32).map { b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
      }.reduce(_ + _))
      .select(col("doc_id"), col("fp"))
  }

  /** Hamming-≤k SimHash near-dup via BIT-BAND LSH — the k>0
    * generalization [[simhashClusters]]'s docstring names: split the
    * 32-bit fingerprint into k+1 contiguous bands (pigeonhole: any
    * pair within hamming distance k differs in at most k bands, so it
    * MATCHES EXACTLY on at least one — banding has 100% recall, no
    * probabilistic miss), pair only within (band_id, band_value)
    * buckets, then verify the true popcount(xor) ≤ k on candidates.
    * Per doc: fingerprint, verified near-neighbor count, and the
    * cluster keeper (min doc id among self + neighbors — the same
    * greedy keeper rule as [[simhashClusters]], which this reproduces
    * exactly at k = 0).
    *
    * Shape at 100 TB: fingerprints are one corpus pass (map-side
    * hashing, one doc-keyed aggregate); banding explodes ×(k+1) on the
    * FINGERPRINT table (8 bytes/doc, never the corpus); pairing is a
    * bucket-keyed self-join — all-pairs never happens; the verify is a
    * map-side popcount on the candidate stream. A boilerplate-heavy
    * bucket can still go quadratic, so `bucketCap` drops buckets
    * larger than the cap before pairing (the [[ngramJaccardPairs]]
    * dfCap move; capped buckets are near-identical template spam that
    * the hamming-0 [[simhashClusters]] path already collapses
    * exactly).
    */
  def simhashBandStats(corpus: DataFrame, k: Int,
                       bucketCap: Long = 1000000L): DataFrame =
    simhashBandStatsFromFps(CacheScope.cached(simhashFps(corpus)), k, bucketCap)

  /** [[simhashBandStats]] over a pre-built fingerprint table — see
    * [[simhashClustersFromFps]].
    */
  def simhashBandStatsFromFps(fps: DataFrame, k: Int,
                              bucketCap: Long = 1000000L): DataFrame = {
    require(k >= 0 && k < 32, "hamming radius must be in [0, 32)")
    val nBands = k + 1
    val widths = Array.tabulate(nBands)(i =>
      32 / nBands + (if (i < 32 % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band_id"),
        shiftrightunsigned(col("fp"), offsets(b))
          .bitwiseAND(lit((1L << widths(b)) - 1)).as("v"))
    }
    val banded = fps
      .select(col("doc_id"), col("fp"), explode(array(bandCols: _*)).as("bv"))
      .select(col("doc_id"), col("fp"), col("bv.band_id"), col("bv.v"))
    val capped = banded.withColumn("bucket_n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("band_id"), col("v"))))
      .filter(col("bucket_n") <= bucketCap)
    val x = capped.select(col("doc_id").as("a"), col("fp").as("afp"),
      col("band_id"), col("v"))
    val y = capped.select(col("doc_id").as("b"), col("fp").as("bfp"),
      col("band_id"), col("v"))
    val pairs = x.join(y, Seq("band_id", "v"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("afp"), col("bfp"))
      .distinct()
      .filter(bit_count(col("afp").bitwiseXOR(col("bfp"))) <= k)
    // per-doc fold over both directions; singletons keep themselves
    val nbrs = pairs.select(col("a").as("doc_id"), col("b").as("nbr"))
      .unionByName(pairs.select(col("b").as("doc_id"), col("a").as("nbr")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near"), min(col("nbr")).as("min_nbr"))
    fps.select(col("doc_id"), col("fp"))
      .join(nbrs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("fp"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        least(col("doc_id"), coalesce(col("min_nbr"), col("doc_id"))).as("keep_id"))
  }

  /** Embedding-cosine near-dup: top `n` most-similar pairs within a
    * bounded id block (both sides < `cap`). The block cap keeps the
    * exact all-pairs cost fixed at any corpus size; the unbounded form
    * at 100 TB goes through [[Sim]]'s IVF/LSH bucketing first and runs
    * this same pairwise scoring within buckets only.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, cap: Int, n: Int): DataFrame = {
    val e = embeddings
      .filter(col("vec_id") < cap)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Sim.norm(col("v")))
    val a = e.select(col("vec_id").as("a"), col("v").as("av"), col("nrm").as("an"))
      // the capped block arrives as 1-2 parquet splits; spread the
      // pairwise scoring so each task carries ≥ ~50k pair-scorings
      // (work is cap² pairs, DATA-proportional in the operator's own
      // bound — never one micro-task per core)
      .repartition(math.max(1, math.min(
        embeddings.sparkSession.sparkContext.defaultParallelism,
        (cap.toLong * cap / 50000L).toInt)))
    val b = e.select(col("vec_id").as("b"), col("v").as("bv"), col("nrm").as("bn"))
    a.join(broadcast(b), col("a") < col("b"))
      .select(
        col("a"), col("b"),
        round(Sim.dot(col("av"), col("bv")) / (col("an") * col("bn")), 4).as("cos_r"))
      .orderBy(col("cos_r").desc, col("a"), col("b"))
      .limit(n)
  }

  /** Substring-level duplication score — the signal behind EXACT
    * SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": memorization tracks repeated
    * spans, not whole-document copies). For every position in every
    * document, take the `n`-token gram starting there; a position is
    * DUPLICATED if its gram occurs ≥2 times in the corpus (any doc,
    * including self-repetition). Returns per doc: total positions,
    * duplicated positions, and the duplicated fraction — the
    * "memorization risk" ranking used to pick spans to cut.
    *
    * Shape: one position explode (map-side Generator), a (doc, gram)
    * count, then a window-sum over the gram key for the corpus total —
    * the per-gram table is the only thing shuffled, and both its
    * aggregations partial-agg map-side. No join back to the corpus.
    * At 100 TB, swap the raw gram string for `xxhash64(gram)` (8-byte
    * shuffle keys; collisions only ever OVERCOUNT duplication, the
    * safe direction for a filter) — the swap noted on
    * [[hashedShingles]].
    */
  def substringDupScores(corpus: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = corpus
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - (n - 1))).as("i"),
        col("t"))
      .select(col("doc_id"), concat_ws(" ", slice(col("t"), col("i"), lit(n))).as("gram"))
    val perDoc = grams.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
    val withTotal = perDoc.withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("gram"))))
    withTotal
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_pos"),
        sum(when(col("total") >= 2, col("cnt")).otherwise(lit(0L))).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup") / col("n_pos").cast("double"), 4))
  }

  /** FULL exact-substring dedup (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr
    * tool) — the step up from [[substringDupScores]]' per-position
    * score: maximal duplicated SPANS. A position is duplicated when
    * its `L`-token gram occurs ≥ 2 times corpus-wide (any doc,
    * self-repetition included); maximal runs of consecutive duplicated
    * positions merge into spans covering tokens [i, j+L−1] — exactly
    * the contiguous regions a suffix-array walk reports for
    * length-≥-L repeats, computed with sorted-gram machinery instead
    * of a monolithic suffix array (the distributed form: the suffix
    * array's gram-rank bucketing IS a sort by gram, which is the
    * shuffle below).
    *
    * SUBSTITUTION ARGUMENT (why duplicated-L-gram runs = the suffix
    * array's length-≥-L repeats): a position is covered by some
    * duplicated substring of length ≥ L ⟺ its L-gram (or one
    * containing it within the run) occurs twice — every duplicated
    * substring of length ≥ L contains only duplicated L-grams and is
    * exactly tiled by them, and conversely every duplicated L-gram IS
    * a duplicated length-L substring. So the union of merged
    * duplicated-gram runs equals the union of length-≥-L repeats the
    * suffix array reports, position for position; what the gram form
    * gives up is only the identity of WHICH other occurrence matched
    * (adjacent grams may match different partners), which neither the
    * span statistics nor the trim rewrite consume. L is the knob: L=8
    * is the sub-document boilerplate scale the segment family uses,
    * L=50 tokens is Lee et al.'s shipped default — both are declared
    * queries (`q_dedup_substr_spans`/`_spans50`, `_trim`/`_trim50`)
    * over one oracle template.
    *
    * Returns per doc: token count, span count, covered-token count
    * (union of span intervals — adjacent/overlapping token ranges
    * merge), longest span, covered fraction. Docs with no duplicated
    * span report zeros — surfaced, never dropped.
    *
    * Shape: one position explode (map-side Generator), ONE gram-keyed
    * shuffle where the occurrence count and the first-occurrence key
    * ride windows over the gram partition (no join), then a per-doc
    * window pass for the interval merge (doc-keyed, partial). At
    * 100 TB: hash the gram to 8 bytes (xxhash64 — overcounting on
    * collision is the safe direction; the swap noted on
    * [[hashedShingles]]) and range-partition the gram sort; the
    * per-doc merge state is one (position, running-end) pair.
    *
    * Position keys pack as doc_id·2²⁰ + i for the cross-engine
    * first-occurrence min (DuckDB mirrors the same packing): documents
    * must stay under 2²⁰ tokens — the Lee et al. pipeline chunks
    * far below that, and ExactSubstrSpec pins the bound.
    */
  def exactSubstrSpans(corpus: DataFrame, L: Int): DataFrame = {
    val spans = substrSpansFrom(dupPositions(corpus, L), L)
    val stats = spans
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("covered_tokens"),
        max(col("e") - col("s") + 1).as("longest_span"))
    corpus
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(stats, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"),
        round(coalesce(col("covered_tokens"), lit(0L)) /
          greatest(col("n_tokens"), lit(1L)).cast("double"), 4).as("covered_frac"))
  }

  /** The TRIM twin of [[exactSubstrSpans]] — the actionable rewrite
    * (ExactSubstr's actual output): every duplicated span is cut from
    * every occurrence EXCEPT the corpus-first one (min packed
    * (doc_id, position) per gram — the same keeper rule as
    * [[Text.exactDedup]], applied at span granularity), so repeated
    * boilerplate survives exactly once corpus-wide. Docs losing every
    * token come back empty (n_kept = 0, kept_text '') — surfaced for
    * an explicit downstream length gate, like [[segmentTrim]].
    *
    * Shape: [[exactSubstrSpans]]' two window passes on the NON-owner
    * position subset, spans collected per doc (span-count-sized
    * state), one doc-keyed left join back, and a map-side HOF filter
    * of the token array against the span list.
    */
  def exactSubstrTrim(corpus: DataFrame, L: Int): DataFrame = {
    val cuts = substrSpansFrom(
      dupPositions(corpus, L).filter(!col("owner")), L)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("segs"))
    corpus
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .join(cuts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        coalesce(col("segs"), array().cast("array<struct<s:long,e:long>>")).as("segs"),
        col("t"))
      .select(
        col("doc_id"), col("n_tokens"),
        // index-carrying transform over the token array itself (NOT a
        // sequence(1, size) explode: for an EMPTY array that sequence
        // is the descending [1, 0] and element_at(t, 0) throws) —
        // zero-token docs flow through as empty keeps
        expr("""filter(transform(t, (tok, j0) -> struct(j0 + 1L as j, tok as tok)),
               |       p -> NOT exists(segs, g -> p.j >= g.s AND p.j <= g.e))"""
          .stripMargin).as("kept"))
      .select(
        col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(expr("transform(kept, p -> p.tok)"), " ").as("kept_text"))
  }

  /** (doc_id, i, owner) for every position whose L-gram duplicates
    * corpus-wide; owner ⟺ this is the gram's first corpus occurrence.
    */
  private def dupPositions(corpus: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wGram = Window.partitionBy(col("gram"))
    corpus
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= L)
      // LOUD guard for the packing bound the scaladoc states: an
      // oversized doc would alias pk into the next doc_id's range and
      // silently misattribute first occurrences — fail instead. The
      // guard lives IN the t projection (an unused assert column
      // would be pruned away by the optimizer).
      .withColumn("t", when(size(col("t")) < 1048576, col("t"))
        .otherwise(raise_error(concat(
          lit("exactSubstr: doc "), col("doc_id").cast("string"),
          lit(" exceeds the 2^20-token packing bound — chunk it first")))
          .cast("array<string>")))
      .select(col("doc_id"),
        explode(sequence(lit(1L), (size(col("t")) - (L - 1)).cast("long"))).as("i"),
        col("t"))
      .select(col("doc_id"), col("i"),
        concat_ws(" ", slice(col("t"), col("i").cast("int"), lit(L))).as("gram"),
        (col("doc_id") * 1048576L + col("i")).as("pk"))
      .withColumn("total", count(lit(1)).over(wGram))
      .withColumn("first_pk", min(col("pk")).over(wGram))
      .filter(col("total") >= 2)
      .select(col("doc_id"), col("i"), (col("pk") === col("first_pk")).as("owner"))
  }

  /** Merge a set of duplicated positions into maximal covered-token
    * intervals [s, e] per doc (runs whose token ranges touch or
    * overlap coalesce).
    */
  private def substrSpansFrom(dup: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    dup
      .withColumn("prev_end",
        max(col("i") + (L - 1)).over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_end").isNull || col("i") > col("prev_end") + 1, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(wDoc))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("i")).as("s"), (max(col("i")) + (L - 1)).as("e"))
  }

  /** Incremental batch dedup — the PRODUCTION shape of exact dedup
    * once a corpus exists: a new batch is checked against the standing
    * corpus's content-hash index (never against the corpus text), and
    * against itself, in one pass. Re-deduplicating 100 TB because 1 TB
    * arrived is the anti-pattern this op replaces: the standing side
    * contributes only a (hash)-projected index scan, and the batch —
    * the small side — is the only thing that shuffles.
    *
    * Verdict per incoming doc: `dup_of_corpus` (its md5(text) exists
    * in the standing index), `dup_in_batch` (an earlier doc_id in the
    * SAME batch has identical text), `keep` = neither. First-in-batch
    * wins within the batch (min doc_id per hash — same keeper rule as
    * [[Text.exactDedup]]).
    *
    * Shape: standing index = distinct hash projection (at 100 TB this
    * is a materialized bucketed table you maintain, not a rescan — the
    * op takes any DataFrame so both work); batch-side left-semi-shaped
    * join on the 16-byte hash + one min-doc_id window within the
    * batch's hash groups. md5 keeps the oracle bit-portable; swap
    * xxhash64 at scale (the swap noted on [[hashedShingles]]).
    */
  /** The standing corpus's content-hash index — the ONLY projection of
    * the corpus that incremental dedup (batch or streaming) ever
    * reads. At 100 TB this is a materialized bucketed table you
    * maintain alongside the corpus; both consumers accept any
    * DataFrame with an `h` column so either form works.
    */
  def corpusHashIndex(corpus: DataFrame): DataFrame =
    corpus.select(md5(col("text")).as("h")).distinct()

  def incrementalNewDocs(corpus: DataFrame, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idx = corpusHashIndex(corpus)
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    batch
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(w))
      .join(idx.withColumn("in_corpus", lit(1L)), Seq("h"), "left")
      .select(
        col("doc_id"),
        when(col("in_corpus").isNotNull, 1L).otherwise(0L).as("dup_of_corpus"),
        when(col("rn") > 1, 1L).otherwise(0L).as("dup_in_batch"),
        when(col("in_corpus").isNull && col("rn") === 1, 1L).otherwise(0L)
          .as("keep"))
  }

  /** Duplicate-cluster size distribution — the audit run AFTER a
    * dedup pass: how many singletons, pairs, triples, ... did the
    * keeper assignment produce? A histogram whose mass sits in large
    * clusters means boilerplate/mirrors dominate the corpus (act
    * before training); all-singletons means the dedup found nothing
    * (check thresholds). Composes on ANY keeper frame
    * ([[connectedComponentKeepers]], [[lshDedupKeepers]],
    * [[Text.canonicalUrlDedup]]'s keep_id, ...).
    *
    * Shape: two tiny aggregations over the keeper frame — |clusters|
    * rows then |distinct sizes| rows. The expensive part is whatever
    * produced the keepers; this adds nothing data-sized.
    */
  def clusterSizeHistogram(keepers: DataFrame): DataFrame =
    keepers
      .groupBy(col("keep_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * 3-gram shingles whose corpus-wide FIRST occurrence (min doc_id)
    * is the doc itself — the "how much of this is new text?" signal
    * that catches paraphrase mills and template farms dedup misses
    * (a doc can be a non-duplicate while contributing zero novel
    * n-grams), and the attribution primitive behind
    * contamination-style first-seen audits. Later near-copies score
    * ≈ 0; their originals keep scoring high because min() attributes
    * every shared shingle to the earliest id.
    *
    * Shape: reuses the cached [[hashedShingles]] frame for BOTH the
    * first-seen table (one h-keyed min aggregate — vocabulary-sized
    * output) and the join-back, so the corpus tokenizes once and the
    * only shuffles are h-keyed. At 100 TB the first-seen table is the
    * maintained incremental artifact (merge min per batch), exactly
    * like [[corpusHashIndex]].
    */
  def ngramNovelty(corpus: DataFrame): DataFrame =
    ngramNoveltyFromHashed(hashedShingles(corpus))

  /** [[ngramNovelty]] over a pre-built per-doc dedup frame
    * ([[docDedupFrame]]): `explode(hs)` reproduces the hashed-shingle
    * rows with zero tokenize/md5 work.
    */
  def ngramNoveltyFromFrame(frame: DataFrame): DataFrame =
    ngramNoveltyFromHashed(frame.select(col("doc_id"), explode(col("hs")).as("h")))

  private def ngramNoveltyFromHashed(hs0: DataFrame): DataFrame = {
    // ONE h-keyed exchange, no cache (the q_boilerplate move): the
    // first-seen aggregate and the join probe side are the same plan
    // object on top of this repartition, so ReuseExchange shares the
    // shuffle and the scan/explode map work runs once. SHUFFLE_HASH,
    // not broadcast: a broadcast build would re-run the map subtree
    // into its own exchange, and the first-seen table is
    // vocabulary-sized — corpus-shaped, not model-shaped.
    val hs = hs0.repartition(col("h"))
    val first = hs.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    hs.join(first.hint("SHUFFLE_HASH"), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_r",
        round(col("n_novel") / col("n_shingles").cast("double"), 6))
  }

  /** Segment-level exact dedup — the RefinedWeb/MassiveText "line
    * deduplication" stage (Penedo et al. 2023 §3.3; C4 dedups
    * three-sentence spans the same way): boilerplate repeats at
    * SUB-document granularity (navigation chrome, license headers,
    * shared intros), so whole-doc hashing misses it. Text splits on
    * newlines, each line chunks into fixed `w`-token segments (the
    * newline split is the real-corpus path; the chunking makes the
    * stage robust to single-line documents), and a segment occurrence
    * is a duplicate iff an identical segment appeared EARLIER in
    * corpus order (doc_id, line, chunk) — first occurrence keeps, the
    * attribution rule shared with [[ngramNovelty]].
    *
    * Output per doc: segment count, duplicated-segment count, dup
    * fraction — the score a pipeline thresholds to drop or trim docs.
    *
    * Shape: explode to (doc, line, chunk, segment) once; the
    * first-occurrence key is a min window over the segment value —
    * ONE hash shuffle on segment, no join-back — then a doc-keyed
    * aggregate with map-side partials. At 100 TB hash the segment to
    * 16 bytes before the shuffle (the [[hashedShingles]] move) and
    * maintain first-seen incrementally like [[corpusHashIndex]].
    */
  def segmentDedup(corpus: DataFrame, w: Int): DataFrame =
    segmentFirstSeen(corpus, w)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("k") =!= col("first_k"), 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup") / col("n_segs").cast("double"), 4))

  /** Shared segment explode + first-occurrence attribution for
    * [[segmentDedup]] (score) and [[segmentTrim]] (rewrite): one row
    * per segment occurrence with its (doc, line, chunk) order key `k`
    * and the corpus-wide first occurrence `first_k` of that segment
    * value. The key is a STRUCT ordered lexicographically — exact at
    * any doc length (the former doc_id*1e6 + line_no*1e3 + seg_i
    * packing silently aliased across documents once a doc reached
    * 1000 lines or a line 1000 segments — real web corpora do both;
    * struct min needs no bounds). `k` never escapes the operator, so
    * the oracle's packed formulation stays valid on in-bounds data
    * while this side is exact unconditionally.
    */
  private def segmentFirstSeen(corpus: DataFrame, w: Int): DataFrame = {
    require(w >= 1, "segment width must be positive")
    val byLine = corpus
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
      .select(col("doc_id"), col("line_no"), tokens(col("line")).as("toks"))
      .filter(size(col("toks")) >= 1)
    val segs = byLine.select(
      col("doc_id"), col("line_no"),
      posexplode(transform(
        sequence(lit(0), ((size(col("toks")) - 1) / w).cast("int")),
        i => array_join(slice(col("toks"), i * w + 1, lit(w)), " "))).as(Seq("seg_i", "seg")))
    val bySeg = org.apache.spark.sql.expressions.Window.partitionBy(col("seg"))
    segs
      .withColumn("k", struct(col("doc_id"), col("line_no"), col("seg_i")))
      .withColumn("first_k", min(col("k")).over(bySeg))
  }

  /** Segment-level TRIM — the actionable form of [[segmentDedup]]:
    * instead of scoring, REWRITE each doc keeping only the segments
    * whose corpus-wide first occurrence is this very position (the
    * C4/RefinedWeb "drop the duplicated spans, keep the document"
    * move — a page with boilerplate chrome survives with the chrome
    * cut, rather than being dropped whole). Docs whose every segment
    * is owned elsewhere come back EMPTY (n_kept = 0, kept_text '') —
    * surfaced, not silently dropped, so a length gate downstream makes
    * the drop decision explicitly.
    *
    * Shape: [[segmentFirstSeen]]'s one segment-keyed window, then a
    * doc-keyed reassembly (sorted collect_list — per-doc-sized state)
    * and a broadcast-free left join back on doc_id. The rewrite never
    * carries more than one doc's segments in memory at once.
    */
  def segmentTrim(corpus: DataFrame, w: Int): DataFrame = {
    val kept = segmentFirstSeen(corpus, w)
      .filter(col("k") === col("first_k"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("k"), col("seg")))),
            s => s("seg")), " ").as("kept_text"))
    corpus.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** MinHash estimator-quality audit — the "is my sketch lying to me?"
    * query a dedup pipeline runs before trusting LSH at a new corpus:
    * for every LSH candidate pair, compare the signature-based Jaccard
    * estimate against the EXACT shingle Jaccard, and report the error
    * distribution in one row (mean est/true, MAE, worst case). Theory
    * says per-pair σ = sqrt(J(1−J)/k) ≈ 0.12 at k = 16 hashes — a
    * measured MAE far above that means broken hashing, not sampling
    * noise.
    *
    * Shape: both sides reuse the cached machinery
    * ([[minhashJaccardEstimates]]'s signature cache,
    * [[ngramJaccardPairs]]'s inverted-index exact join); the final
    * aggregate is ONE row. A candidate pair sharing a band but zero
    * shingles (hash collision) gets exact J = 0 via the left join.
    *
    * The exact side runs with the df cap effectively OFF
    * (`dfCap = Long.MaxValue`): with the default cap, a candidate pair
    * whose overlap is mostly hot shingles would come back ABSENT from
    * the exact join and be filled with J = 0 — understating the true
    * Jaccard and misattributing cap truncation to sketch error. An
    * audit of the ESTIMATOR must compare against the uncapped truth;
    * the capped form remains the production pairing path.
    */
  def minhashEstimatorAudit(corpus: DataFrame): DataFrame =
    estimatorAuditFrom(
      minhashJaccardEstimates(corpus),
      ngramJaccardPairs(corpus, threshold = 0.0, dfCap = Long.MaxValue))

  /** [[minhashEstimatorAudit]] over a pre-built per-doc dedup frame:
    * both the sketch side and the uncapped exact truth read the same
    * materialized (hs, sz, minhashes) store.
    */
  def minhashEstimatorAuditFromFrame(frame: DataFrame): DataFrame = {
    // cache the store once (candidates + both signature joins + the
    // exact-verify explodes all read it), and the candidate set once
    // (it feeds both the estimate joins and the exact restriction).
    val f = CacheScope.cached(frame)
    val cands = CacheScope.cached(lshCandidatesFromSigs(f, 16, 4))
    // the estimate formula is the shared jEstCol — the single home the
    // estimator query also compiles — so the MEASURED formula cannot
    // drift from the served one (the estimator's join SHAPE differs:
    // it carries signatures through the banding join, while
    // the audit keeps the cached join-back form here)
    val est = estimatesForCandidates(f, cands, numHashes = 16)
    // exact truth computed ONLY for the audited (candidate) pairs and
    // with the df cap OFF — same uncapped values as the all-pairs form
    // restricted to candidates, at candidate-join cost (an audit pair
    // sharing zero shingles has exact J = 0 and simply produces no
    // row; the left join fills it), not the FULL all-pairs
    // inverted-index join with 2k rows left-joined out of it.
    estimatorAuditFrom(est, exactJaccardForCandidates(f, cands).select(col("a"), col("b"), col("jaccard")))
  }

  private def estimatorAuditFrom(est: DataFrame, exact: DataFrame): DataFrame =
    est.join(exact, Seq("a", "b"), "left")
      .na.fill(0.0, Seq("jaccard"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(avg(col("j_est")), 4).as("mean_est"),
        round(avg(col("jaccard")), 4).as("mean_true"),
        round(avg(abs(col("j_est") - col("jaccard"))), 4).as("mae"),
        round(max(abs(col("j_est") - col("jaccard"))), 4).as("max_abs_err"))

  /** Pairwise source-overlap matrix: for every pair of sources, the
    * number of distinct shingles they share and the Jaccard of their
    * shingle sets — the corpus-composition diagnostic that answers
    * "are src3 and src11 the same crawl twice?" before any per-doc
    * dedup runs (two mirrors of one site inflate every token statistic
    * and leak across train/test splits).
    *
    * Shape bound: the corpus reduces to distinct (source, h) FIRST —
    * vocabulary-sized, not corpus-sized — and the self-join fans out
    * per shingle only over the sources containing it (≤ |sources|,
    * here 20), so the join output is Σ_h |sources(h)|², never N².
    * Output is |sources|²/2 rows. The same df-cap guard as
    * [[ngramJaccardPairs]] applies if a boilerplate shingle
    * lands in every source: cap sources-per-shingle before the join.
    */
  def sourceOverlapMatrix(docs: DataFrame): DataFrame = {
    // distinct (source, shingle-hash): the hash is pure set identity
    // here (only counts reach the output), so each side uses its
    // native 64-bit hash — xxhash64 (codegen'd, one mix) vs DuckDB's
    // hash() — and the counts agree because a 64-bit domain is
    // collision-free at these set sizes, unlike the old shared 31-bit
    // md5 fold whose birthday collisions both sides had to reproduce
    // bit-for-bit. Hash FIRST, distinct ONCE — the dedup happens on
    // compact (source, int64) rows; a string-level distinct before
    // hashing would shuffle the full shingle text for an outcome the
    // hashed distinct already delivers.
    val srcSh = graft.CacheScope.cached(
      docShingles(docs.select(col("source").as("doc_id"), col("text")))
        .withColumn("h", xxhash64(col("shingle")))
        .select(col("doc_id").as("source"), col("h")).distinct())
    // per-source set sizes FOLD INTO the pair aggregation: keep the
    // diagonal (x.source = y.source — each distinct (source, h) matches
    // exactly itself, so the diagonal count IS |shingles(source)|)
    // instead of a separate aggregation pass over the cached store.
    // One extra |srcSh| self-match rows through the join for one fewer
    // full pass.
    import org.apache.spark.sql.expressions.Window
    val pairs = srcSh.as("x").join(srcSh.as("y"), Seq("h"))
      .filter(col("x.source") <= col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    // the diagonal sizes reach the off-diagonal rows as WINDOWS over
    // the |sources|²/2-row pair frame (every source present in any
    // pair row has its self-match diagonal row, so the window max is
    // never NULL), instead of a pairs cache + two broadcast size
    // builds: 4 scheduler jobs → 2 (srcSh cache + one main pass),
    // identical arithmetic (two operations keyed the same way share
    // one pass). The exchanges the windows add carry ≤ |sources|²/2
    // rows — noise next to two saved job launches.
    val diagN = max(when(col("src_a") === col("src_b"), col("n_shared")))
    pairs
      .withColumn("n_a", diagN.over(Window.partitionBy(col("src_a"))))
      .withColumn("n_b", diagN.over(Window.partitionBy(col("src_b"))))
      .filter(col("src_a") =!= col("src_b"))
      .select(
        col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6)
          .as("jaccard_r"))
  }
}
