package graft

/** Operator library index — what lives where (full operator → query →
  * test mapping in /root/repo/COVERAGE.md):
  *
  *  - [[graft.ops.EventOps]] — the reference's event pipeline: filters,
  *    GA4 `event_params` extraction (last-match-wins), first-write-wins
  *    dedup, upsert-as-anti-join, funnel stages, last-touch
  *    attribution, Markov transitions, co-occurrence lift, A/B z-test,
  *    seasonality profile, source/sink reconciliation, JSON key
  *    profiling.
  *  - [[graft.ops.Relational]] — joins (broadcast/semi/anti/full,
  *    salted-skew, merge-asof both directions, binned range), windows,
  *    rollup, distinct (exact + HLL), equal-count bands (ntile),
  *    date-spine gap fill, forward fill (LOCF), trailing-window
  *    rolling distinct (exact + HLL-sketch), per-group OLS trend,
  *    MAD outliers, trailing EWMA, key-skew profiling.
  *  - [[graft.ops.TimeFns]] — multi-format date parsing (reference
  *    fallback order), formatting, arithmetic, epoch-micros bridges.
  *  - [[graft.ops.Text]] — tokens, corpus stats, exact dedup, language
  *    ID (marker + char-trigram), quality scores, token counting,
  *    fingerprints, heavy hitters, TF-IDF, unigram/bigram log-prob,
  *    BPE (merge-pair training counts + merge application), unigram
  *    Shannon entropy.
  *  - [[graft.ops.Dedup]] — shingles, n-gram Jaccard (exact, df-capped,
  *    containment), MinHash+LSH (md5 oracle path + xxhash64 production
  *    path), SimHash, embedding near-dup, connected-component keepers,
  *    substring-level duplication scores.
  *  - [[graft.ops.Sim]] — cosine top-k (brute force, IVF, trained
  *    k-means IVF, hyperplane LSH with multi-probe), normalization,
  *    quantization, on the codegen'd `graft.plans` kernels (dot, IVF
  *    cell ranking, PQ encoding, all-cosines scans).
  *  - [[graft.ops.Corpus]] — corpus assembly: deterministic
  *    shuffle-shard, sequence packing, PII masking, Gopher quality
  *    signals/gate, decontamination, weighted sampling, overlapping
  *    chunking, per-domain quota capping, deterministic train/val/test
  *    splits, length-percentile banding, winsorization, boilerplate
  *    detection, and the composed `buildCorpus` pipeline.
  *  - [[graft.ops.Mutations]] — dimension maintenance: MERGE
  *    upsert-with-update, SCD2 history build, snapshot CDC diff.
  *  - [[graft.ops.Multimodal]] — binary media columns, typed metadata,
  *    byte-range chunk planning, per-partition decode through pure-JVM
  *    PPM, WAV, JPEG and PNG codecs.
  *  - [[graft.ops.TypedOps]] — the typed `Dataset[Event]` tier: typed
  *    aggregators, column-vs-lambda filters, mapGroups.
  *  - [[graft.ops.TopK]] — exact top-k per group as a bounded-state
  *    custom `Aggregator` (shuffle ≤ groups·k rows; 1.7× over window
  *    rank at 4M×40k-groups) plus the DataFrame collect+slice form.
  *
  * Sinks/lifecycle live in `graft.etl` (CSV/JSON round trips, append,
  * compaction, JDBC conflict-skip upsert, incremental watermark loop);
  * streaming twins in `graft.streaming`.
  */
package object ops
