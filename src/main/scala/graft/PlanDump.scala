package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans of representative catalog
  * queries with the scale-relevant features called out. Run:
  *   sbt "runMain graft.PlanDump"
  */
object PlanDump {
  private val picks: Seq[(String, String)] = Seq(
    "q1_agg" -> ("Flagship scan→filter→agg→sort. Filter and 7-column projection " +
      "pushed to the parquet scan; partial→final HashAggregate; 6-group output."),
    "p6_range" -> "Range predicate lands in PushedFilters (row-group skipping at scale).",
    "j5_join_multiway" -> ("5-way star join: all four dimension joins broadcast onto " +
      "the fact scan — the only exchange is the final 25-group aggregate."),
    "w1_lag_diff" -> "Window pipeline: exactly one hash exchange on user_id, sort within partitions.",
    "o4_topk" -> "Top-k compiles to TakeOrderedAndProject — per-partition heaps, no global sort.",
    "dd_lsh_pairs" -> ("MinHash LSH: signature table materialized once (InMemoryRelation), " +
      "band explode, candidate equi-join on (band, key) — never all-pairs."),
    "sim_ann_topk" -> "LSH ANN probe: bucket filter before any cosine math; broadcast query vector.",
    "asof_join_custom" -> ("Custom AsOfJoinExec: children exchanged on the key and sorted " +
      "(key, time) via requiredChildDistribution/Ordering, O(n+m) merge walk."),
    "skew_salted_agg" -> "Two-stage salted aggregation: hot key spread over 8 sub-keys, then merged.",
    "st_sessionize" -> "Sessionization: one shuffle on user_id feeds lag, running sum, and the session aggregate.",
    "w3_every_kth" -> ("Global row numbers with NO Window operator: range exchange + " +
      "per-partition sort + record-index decomposition, offsets broadcast back."),
    "bj_colocated_join" -> ("Bucketed co-located join: both scans report Bucketed: true; " +
      "sort-merge join with zero exchanges on the join keys."),
    "pp_partition_pruned" -> ("Partition-pruned scan: the o_year predicate resolves to " +
      "PartitionFilters against the directory listing — one partition read, zero data filters."),
    "nested_dotpath_agg" -> ("Nested (Dremel) column pruning: ReadSchema is exactly " +
      "struct<meta:struct<etype,uid>> — the repeated attrs column and payload are never read."),
    "tx_tfidf" -> ("TF-IDF: cache-barriered token stage, one shuffle on term for tf⋈df, " +
      "corpus size as a broadcast 1-row aggregate (BroadcastNestedLoopJoin over a single row)."),
    "tx_sparse_cosine" -> ("Sparse similarity join: weights cached once, pair dot products " +
      "accumulate under a TERM-partitioned self-join (shuffle key = term, per-term fan-out " +
      "bounded by the relative df band) — never a doc×doc cross; norms re-join at the end."),
    "dd_contamination" -> ("Contamination check: shingle df computed in one hash-agg pass, " +
      "df-cap filter before the test⋈train equi-join — bounded fan-out, no raw self-join."),
    "sketch_quantiles" -> ("Sketch bound check: per-group percentile_approx rows broadcast " +
      "back onto the scan for the rank count — sketch stays mergeable state, no full sort."),
    "tx_pack_greedy" -> ("Sequence packing: cumulative token offsets windowed per SHARD " +
      "(doc_id % 32), never a global sort — 32-way (→N-way) parallel chunk assignment."),
    "st_session_transcript" -> ("Session transcripts: one shuffle on user_id; the ordered " +
      "event sequence comes from an in-array struct sort inside the aggregate, not a " +
      "second sort pass."),
    "dd_simhash_sig" -> ("Native fused TokenHashes∘SimHash24 expression: the whole simhash " +
      "is a scan-side codegen'd projection — zero exchanges before the output sort."),
    "emb_kmeans_step" -> ("One Lloyd iteration: seeds broadcast, k×n candidates collapse " +
      "via struct-min PARTIAL aggregation before the single wide exchange; update step " +
      "is a ≤k·64-group re-aggregate."),
    "q5_region_volume" -> ("TPC-H-Q5 star join: lineitem⋈orders⋈customer shuffle on their " +
      "keys, supplier/nation/region broadcast, date range in orders PushedFilters."),
    "graph_rank_step" -> ("Rank step: the edge list distincts on the pair key, both " +
      "join branches then co-partition on src, and the per-supplier aggregate is the " +
      "only downstream exchange."),
    "st_view_purchase" -> ("Attribution join: both event branches shuffle once on user_id; " +
      "the time-range predicate rides the equi-join as a post-condition."),
    "agg_hist_equidepth" -> ("Equi-depth deciles with NO Window operator: the w3 two-level " +
      "row-number scheme (range exchange, record-index decomposition, broadcast offsets) " +
      "plus a broadcast 1-row total; bucket math is pure integer arithmetic."),
    "tx_sample_weighted" -> ("Deterministic weighted sample: hash/weight priority key is a " +
      "scan-side projection; selection is the typed TopK aggregator in partial→final " +
      "aggregation — bounded per-partition state, no per-group sort."),
    "tx_dup_ngram_fraction" -> ("Cross-doc duplicated-5-gram share: staged gram arrays " +
      "explode into one (gram → distinct-doc) hash-agg, then a gram-key shuffle join " +
      "back and a per-doc re-aggregate — fact⋈dim layout, never doc×doc."),
    "layout_file_skipping" -> ("File-stats data skipping: the scan's InMemoryFileIndex " +
      "lists ONLY the footer-surviving files (subset of the 8-file layout); the exact " +
      "band predicate still pushes down within them."),
    "pp_dynamic_pruning" -> ("Dynamic partition pruning: the era predicate on the year dim " +
      "becomes a dynamicpruning subquery in the fact scan's PartitionFilters — the year " +
      "set is resolved at runtime, only matching directories are read."),
    "agg_bitmap_distinct" -> ("Bitmap exact-distinct: (group, user/64) bitmap words bit_or-" +
      "merge in PARTIAL aggregation — no Expand, no count-distinct shuffle of raw ids; " +
      "the popcount sum is exact."),
    "tx_cdc_chunks" -> ("Content-defined chunking: the native cdc_chunks expression " +
      "explodes directly over the scan (zero pre-shuffle); chunk-level dedup is one " +
      "(source, chunk-hash) partial count-distinct."),
    "ts_resample_ohlc" -> ("OHLC bars: min_by/max_by carry mergeable (value, ts) extremum " +
      "state — ONE hash aggregation, no Window, no self-join."),
    "q4_priority_exists" -> ("TPC-H-Q4 EXISTS: lowered to a LeftSemi join carrying the " +
      "shipdate>orderdate residual; the order-date range lands in PushedFilters."),
    "opt_reused_exchange" -> ("Day-over-day self-join: both sides consume ONE aggregated " +
      "subplan — the second side reuses the first's shuffle (non-nullable grouping key " +
      "keeps the canonical forms identical), so the fact is scanned once."),
    "src_pushdown_docs" -> ("Custom DataSource V2 scan: the doc_id range is absorbed into " +
      "the generated interval (BatchScan shows [90000, 90100)); unprojected columns never " +
      "materialize in the reader."),
    "sub_not_in_null_trap" -> ("NOT IN under a nullable subquery: null-aware broadcast " +
      "anti join beside the plain NOT EXISTS anti join — both existence tests, no " +
      "nested-loop scans."),
    "dd_bloom_prefilter" -> ("Bloom-prefilter contamination screen: the 256-word benchmark " +
      "bitmap broadcasts onto the corpus scan (BroadcastHashJoin), so membership is " +
      "scan-side bit math; only bloom survivors reach the exact fingerprint semi-join."),
    "dd_substring_spans" -> ("Duplicated-substring spans: 8-gram hashes shuffle once for " +
      "the df count, join back on the gram key, and span merging is a doc-PARTITIONED " +
      "window (island trick) — no global sort, no doc×doc comparison."),
    "src_pushdown_agg" -> ("DSv2 aggregate pushdown (partial): the BatchScan answers " +
      "count/min/max arithmetically per range partition (pushedAggregates in the scan " +
      "description) — Spark's final HashAggregate merges `slices` one-row partials; " +
      "no row is ever generated."),
    "src_pushdown_limit" -> ("DSv2 limit/offset pushdown (EXACT, isPartiallyPushed=false): " +
      "the scan description carries PushedLimit/PushedOffset and the generated interval " +
      "shrinks to exactly the surviving rows — Spark plans NO Limit/Offset operator of " +
      "its own, so a LIMIT-n exploration query over an arbitrarily large synthetic " +
      "table reads n rows."),
    "etl_snapshot_read" -> ("Time-travel reads: the SCD2 history builds with one " +
      "shuffle + a PARTITIONED window; the 4-row snapshot-date frame broadcasts onto " +
      "it (BroadcastNestedLoopJoin over 4 rows), and each snapshot's checksum is an " +
      "exact BIGINT sum."),
    "etl_incremental_rollup" -> ("MV refresh: base and delta rollups collapse in " +
      "partial aggregation before their union; the merge re-aggregates rollup-sized " +
      "frames only — history facts are scanned once, never re-joined."),
    "src_runtime_prune" -> ("DSv2 runtime filtering (SPARK-35779): the probe scan " +
      "carries RuntimeFilters: [dynamicpruningexpression(doc_id IN ...)] — the " +
      "broadcast build side's key set returns to the scan before partition planning " +
      "and collapses the generated interval to the joinable slice."),
    "graph_triangles" -> ("Degree-ordered triangle counting: oriented out-adjacency " +
      "lists (per-node size bounded O(√E) by the orientation, hub-safe), count = " +
      "Σ|adj(src) ∩ adj(dst)| via two edge⋈adjacency joins — the wedge set is never " +
      "materialized; shape census rides the same checkpointed edge frame."),
    "sim_ivfpq_topk" -> ("IVF-PQ serving funnel: the nprobe=2 probe frame and the " +
      "128-row codebook/LUT broadcast; PQ codes collapse via struct-min PARTIAL " +
      "aggregation; the ADC shortlist cut and the final top-5 are both " +
      "TakeOrderedAndProject — raw vectors are touched only for the ≤100 survivors."),
    "tx_bpe_encode" -> ("BPE apply with vocabulary memoization: the 5-merge fold " +
      "expression runs once per DISTINCT word, the encoded vocab joins back to the " +
      "(doc, pos, word) stream (AQE broadcasts it at this size), and documents " +
      "reassemble order-exact from an in-aggregate struct sort — measured 7× over " +
      "encoding per occurrence."),
    "tx_mixture_resample" -> ("Mixture resampling: per-source keep cutoffs are exact " +
      "integer rationals in two tiny broadcast aggregates; the keep decision is " +
      "scan-side quadratic-mix integer hashing — no rand(), reproducible at any " +
      "partitioning."),
    "sketch_hll_union" -> ("Mergeable HLL sketch table: per-group hll_sketch_agg " +
      "partials collapse map-side; the union estimate re-aggregates the sketch " +
      "COLUMN (hll_union_agg), not the fact — O(groups) merge, one fact scan per " +
      "side."),
    "tx_chunk_sliding" -> ("Sliding token windows: tokenize → integer chunk " +
      "geometry → explode → slice, all scan-side codegen in ONE stage before the " +
      "output sort — no shuffle touches the corpus, and no chunk string longer " +
      "than one window materializes."),
    "tx_perplexity_bucket" -> ("CCNet perplexity split: the vocab²-bounded KN " +
      "model broadcasts into the corpus bigram stream (no shuffle for the score " +
      "join); per-source cutoffs come back as a 20-row broadcast — the corpus is " +
      "shuffled once, for the per-doc score aggregation."),
    "mm_image_dedup" -> ("Perceptual image dedup: hashing at the typed binary " +
      "boundary, then a declarative 4×14-bit band explode and (band, bkey) " +
      "equi-join — candidate fan-out bounded by bucket occupancy, never " +
      "all-pairs; Hamming verify is a codegen'd bit_count."),
    "q21_single_blame" -> ("TPC-H Q21 decorrelated: per-order conditional-" +
      "distinct aggregates replace the EXISTS + NOT EXISTS correlated pair — " +
      "one fact⋈orders join and two hash aggregations, no repeated fact probes."),
    "dd_lsh_tuning" -> ("LSH geometry sweep: the cached signature table is " +
      "banded three ways; each geometry is one explode + equi-join, and the " +
      "planted-truth joins run against the (a, b) pair key — per-geometry cost " +
      "scales with bucket occupancy."),
    "q2_min_cost_supp" -> ("TPC-H Q2 shape: the correlated MIN decorrelates to " +
      "one offer-book aggregation (the only big shuffle) + a per-part min " +
      "joined back on an exact fixed-point BIGINT; region/nation/part dims " +
      "all broadcast — never a per-row rescan."),
    "j7_join_full" -> ("Full-outer reconciliation: both sides reduce to " +
      "nation cardinality BEFORE the SortMergeJoin(FullOuter) — the join " +
      "touches two group-count-sized frames, never the facts."),
    "etl_dq_report" -> ("DQ constraint suite: all row-level checks on one " +
      "table fuse into a single scan as conditional sums; uniqueness and the " +
      "two FK orphan probes are the only shuffles (anti-joins with " +
      "broadcast-able key sides)."),
    "sub_lateral_topn" -> ("Correlated LATERAL ORDER BY…LIMIT from SQL text: " +
      "Spark decorrelates to the window-rank plan (filter on rank ≤ 2 over " +
      "one partitioned window) — proof the SQL surface lands on the same " +
      "scalable shape as the hand-built w4_rank_topn."),
    "graph_adamic_adar" -> ("Hub-capped Adamic–Adar: the scored pair table " +
      "(wedge self-join with fan-out bounded by the degree-64 ceiling, " +
      "fixed-point weight sum) materializes once per snapshot — the " +
      "CC-label pattern — so the serving plan is a layout scan + top-100 " +
      "TakeOrdered + the 1-row dropped-hub census BNLJ."),
    "graph_rank_converged" -> ("Prepared PageRank: the degree-weighted " +
      "adjacency and node frames come from per-sf layouts, so the plan is " +
      "ONLY the 5 unrolled rounds — each one rank⋈adjacency join + one " +
      "mass aggregation + the re-seed left join, lineage truncated per " +
      "round."),
    "etl_commit_conflict" -> ("Commit-log audit: per-version snapshot scans " +
      "union under 1-row crossJoins (metadata-sized census); the table data " +
      "itself is only ever scanned through the manifests — the staged " +
      "orphan is read once to prove its row count."),
    "st_repair_roundtrip" -> ("Streamed-fragment repair census: fragments " +
      "(session-count-sized) window once on user_id for the island chain; " +
      "each side is grouped ONCE on the full session identity and the " +
      "whole census (counts + both bag differences) derives from one " +
      "full-outer join of the two count frames — the raw events are " +
      "scanned once for the batch twin, nothing recomputes."),
    "etl_commit_checkpoint" -> ("Delta-action log + checkpoint census: " +
      "manifests, checkpoints, and the resolve≡replay proof are " +
      "file-count-sized driver reads (the Delta-log metadata class); " +
      "table data flows only through the six per-version parquet counts, " +
      "which union under 1-row crossJoins."),
    "sim_nndescent" -> ("NN-descent k-NN graph: candidate generation is a " +
      "self-join of the symmetrized adjacency on the shared PIVOT node " +
      "(sum-of-degree² rows, never vector×vector); per-node top-k is one " +
      "window on the node key; rounds localCheckpoint. Exact-kNN ground " +
      "truth broadcasts the 2% query sample against one corpus scan."),
    "tx_unigram_tokenizer" -> ("Unigram-LM trainer: ONE corpus pass (word " +
      "histogram hash-agg); substring candidates, vocab cap, micro-nat " +
      "costs, and both EM rounds are vocabulary-sized. Viterbi is a " +
      "mapPartitions over the distinct-word frame with the broadcast " +
      "cost table — the BPE trie-encode boundary."),
    "range_join_binned" -> ("Binned interval join: windows explode to " +
      "their ≤3 covered 12 h bins, events equi-join on the bin key " +
      "(broadcast here; hash at scale), exact interval predicate as a " +
      "post-filter — the manual rewrite of the BroadcastNestedLoopJoin " +
      "cliff stock Spark plans for pure inequality joins."),
    "ts_stl_decompose" -> ("Classical STL decomposition: ONE corpus-sized " +
      "day hash-agg to quantized BIGINTs; the 7-day MA window, dow " +
      "profile, and residuals all run on the ~days-sized frame — every " +
      "output column is one IEEE divide of exact integers."),
    "graph_louvain_move" -> ("Louvain move pass: node→community map joins " +
      "both edge endpoints on the node key, one (src, community) hash-agg " +
      "for k_iC, per-node argmax window, exact-BIGINT gains; the two Q " +
      "censuses and the 1-row assembly are the only other exchanges."),
    "dd_suffix_exact" -> ("Sorted-suffix exact substring dedup: suffixes " +
      "keyed by their first 8 tokens, range-partitioned + sorted within " +
      "partitions, adjacent-LCP scan in mapPartitions (m−1 comparisons " +
      "per shared run, never m²), cross-boundary pairs stitched from the " +
      "≤2-per-partition marker rows on the driver."),
    "tx_bpe_encode_k500" -> ("Production-k BPE: the floored vocabulary " +
      "collect feeds driver-side training; encode is ONE mapPartitions " +
      "scan with the broadcast rank map and per-partition word→pieces " +
      "memo — no shuffle until the 1-row census aggregate."),
    "dd_prefix_filter" -> ("PPJoin prefix-filtered similarity join, r11: " +
      "the hashed 4-gram table and its df-ranked prefix are committed " +
      "per-sf layouts (the index a production pipeline maintains at " +
      "write time); the per-run plan is the index READ path — prefix " +
      "self-join on low-df keys, exact-Jaccard verify confined to " +
      "candidates. Exact-threshold alternative to banded minhash."),
    "agg_gini_concentration" -> ("Two-phase distributed rank: monotone " +
      "⌊√rq⌋ buckets, cumulative offsets over the value-domain-bounded " +
      "bucket frame (broadcast back), within-bucket row_number — no " +
      "one-partition global window anywhere in the plan."),
    "layout_bloom_skipping" -> ("Bloom skipping census: the per-file " +
      "(fid, j, bit) manifest and key table are write-time layouts (scan " +
      "only); probes broadcast into the EXISTS-formulated membership " +
      "join — no bitmap structure, pure relational algebra."),
    "etl_partition_evolution" -> ("Partition-spec evolution read: two " +
      "generation scans union, gen1 pruning on o_year with the evolved " +
      "month predicate evaluated row-side (backfilled column), gen2 " +
      "pruning on BOTH directory keys — plan-asserted in PlanQualitySpec."),
    "sim_maxsim" -> ("Late-interaction MaxSim: the 4×4 slice-cosine grid " +
      "is 16 fused cosine_sim calls in ONE codegen'd projection against " +
      "the broadcast 8-query side; the only exchange is the per-query " +
      "rank window over scored rows — the PLAID re-rank kernel shape."),
    "tx_dsir_weights" -> ("DSIR weights: one explode pass feeds BOTH " +
      "distributions (target = conditional sum), the ≤4096-row lr table " +
      "broadcasts back into the per-doc hash-agg, and the weight is a " +
      "quantized order-free sum; top-15 is TakeOrderedAndProject."),
    "tx_preference_pairs" -> ("Preference pairs: per-group extremes via " +
      "min/max over (score, id) structs — partial aggregation collapses " +
      "each group map-side before one |groups|-sized exchange; no window, " +
      "no per-group sort."),
    "tx_annotator_kappa" -> ("Annotator kappa: scan-side integer label " +
      "projections, ONE hash-agg keyed by lang with map-side partial " +
      "collapse; po/pe/kappa are exact-Long numerator/denominator pairs " +
      "rounded with integer arithmetic — |langs| rows out, no float."),
    "tx_chat_template" -> ("Chat-template render: one window exchange " +
      "keyed by source (row_number + two leads share the frame) for the " +
      "synthetic turn pairing; the mask-span arithmetic is scan-side " +
      "codegen over length(concat(...)) — with real conversation ids the " +
      "window disappears and the face is a zero-shuffle projection."),
    "etl_clone_shallow" -> ("Shallow-clone census: both snapshot reads go " +
      "through manifest-resolved file lists (metadata operations); the " +
      "only jobs are two count aggregates over the referenced parquet — " +
      "the clone itself was one manifest write, zero data bytes."),
    "graph_modularity" -> ("Modularity census: symmetric-frame scan joins " +
      "the node→community map on each endpoint (AQE demotes both to " +
      "broadcast at bench sf; co-partitioned shape at scale), one " +
      "per-community hash-agg, 1-row total crossJoined back."),
    "ts_autocorr" -> ("ACF: one hash-agg collapses any input volume to the " +
      "calendar-bounded daily frame; the 5-lag pair join is broadcast on " +
      "both sides (lags dim + tiny day frame) and the moment sums are " +
      "exact DECIMAL(38,0) partial aggregates — no floating aggregation " +
      "anywhere in the plan."),
    "dd_record_linkage" -> ("FS linkage: candidate generation is ONE " +
      "equi-join on the (nation, segment, last-digit) blocking key — " +
      "never all-pairs; scoring is a codegen'd integer-weight projection " +
      "and the census one hash-agg. Blocking granularity is the scale " +
      "dial; the plan shape is LSH's band join."),
    "etl_deletion_vectors" -> ("Merge-on-read DV: base scan + ONE " +
      "broadcast left join against the word-packed sidecar + a codegen'd " +
      "bit test — no shuffle on the data path at any scale; the sidecar " +
      "is manifest-sized (one BIGINT row per occupied 32-bit word)."),
    "mm_blur_score" -> ("Sharpness filter: synth → real BMP decode → " +
      "integer gradient mass, all inside ONE mapPartitions pass " +
      "(codec-init-once, per-image state only); the only exchange is the " +
      "final doc_id sort. Corrupt payloads drop at the decode boundary."),
    "mm_audio_clipping" -> ("Clipping census: int16 decode + rail count " +
      "in ONE mapPartitions pass; flag is integer arithmetic " +
      "(100·clipped > 5·n). The sign-extending byte decode is the thing " +
      "under test — the oracle replays the plant rule, never the bytes."),
    "etl_l_diversity" -> ("l-diversity: two-level hash-agg chain " +
      "((nat,seg,band) distinct → per-class diversity → per-segment " +
      "census) — partial aggregation collapses each level map-side; " +
      "nothing row-cardinality-sized after the first agg."),
    "dd_sorted_neighborhood" -> ("SNM: ONE per-nation sort feeds the rank " +
      "window, then an equi-join on nation with a bounded rn-band " +
      "predicate — candidates are w·|A| (linear) at any corpus size. The " +
      "blocking-join alternative (dd_record_linkage) trades the sort for " +
      "a key whose granularity must be re-tuned as data grows."),
    "dd_jw_comparator" -> ("Graded ER comparator: the native codegen'd " +
      "jaro_winkler BinaryExpression scores each blocked candidate pair " +
      "inside whole-stage codegen (no UDF boundary); one census hash-agg. " +
      "The DuckDB-builtin oracle makes the hash gate a cross-" +
      "implementation equivalence proof per pair."),
    "tx_calibration_bins" -> ("Reliability diagram: the quality-model " +
      "score chain stays scan-side (broadcast one-row weights), then ONE " +
      "hash-agg onto ~200 fixed-width score bins with map-side partial " +
      "collapse; pred/obs/gap are exact-Long integer roundings — the " +
      "shifted floor division keeps Spark div and DuckDB // identical on " +
      "negative scores."),
    "st_top_paths" -> ("Path mining: one per-user hash-agg collecting a " +
      "bounded 5-struct prefix (tiny agg state), one |distinct paths| " +
      "hash-agg, TakeOrderedAndProject for the top-10 — no corpus-wide " +
      "window, no explode; share is an exact integer ratio."),
    "etl_bitemporal" -> ("Bitemporal as-of: versions ≈ 1.02× the fact " +
      "table, the 2×2 (T_tx, T_v) grid is a broadcast literal; " +
      "resolution is one window per (cell, key) with the standard " +
      "(valid_from, tx_from) pick order — a deployment pins one pair " +
      "and pays a single windowed pass."),
    "agg_weighted_median" -> ("Exact weighted median via two-phase " +
      "weighted bucket selection (OPTIMIZATION r15): one codegen " +
      "weight-histogram hash-agg (domain-bounded), a cumulative window " +
      "over the metadata-sized histogram locates each flag's crossing " +
      "bucket, a guarded second scan gathers only that bucket and walks " +
      "the pooled in-bucket cumulative. The one row-scale exchange left " +
      "is countDistinct(price)'s pair dedup — the exact-distinct floor; " +
      "the old full-rollup 3-task window straggler is gone. The answer " +
      "is a raw data value — zero arithmetic, zero rounding needed."),
    "graph_hits" -> ("HITS hubs/authorities: two unnormalized mutual-" +
      "reinforcement iterations on the materialized edge frame — each " +
      "half-step is one co-partitioned edge⋈score join + one hash-agg, " +
      "every score an exact BIGINT (no float, no normalization); top-15 " +
      "is TakeOrderedAndProject."),
    "sim_binary_hamming" -> ("Binary-quantized retrieval: sign-bit " +
      "packing is a scan-side Horner fold into two 32-bit words; Hamming " +
      "ranking is bit_count over XOR — pure integer codegen; the exact " +
      "float top-5 comes from TakeOrderedAndProject broadcast back, " +
      "never a global window."),
    "tx_ngram_novelty" -> ("Novelty curve: first-occurrence is a " +
      "commutative MIN per gram (map-side partial agg, vocabulary-sized " +
      "dim table), one shuffle join back on the gram key, one per-doc " +
      "re-aggregate — never doc×doc, no corpus-wide window."),
    "etl_gdpr_access" -> ("DSAR report: the bounded request batch " +
      "broadcasts through the erase cascade's join graph read-only — one " +
      "scan per fact table regardless of batch size, never a per-subject " +
      "query storm; spend is the order-independent fixed-point sum and " +
      "zero-activity subjects survive the LEFT joins with NULL spans."),
    "etl_t_closeness" -> ("t-closeness census: one (class, bucket) " +
      "hash-agg; the ~dozen-row global bucket distribution broadcasts " +
      "back to densify every class over the full grid; the EMD is a " +
      "per-class cumulative window over m buckets carried as scaled " +
      "Longs — one integer rounding at the end, no float."),
    "tx_langid_confusion" -> ("Lang-ID confusion census: scan-side " +
      "stopword hit counting feeds ONE hash-agg onto ≤ |langs|² cells; " +
      "gold totals come back via a broadcast join, shares are exact " +
      "integer basis points — never a window over the corpus."),
    "ts_backtest_holt" -> ("Rolling-origin backtest: ONE sequential fold " +
      "per key captures all three held-out forecasts in a single pass " +
      "(running level+trend read immediately before consuming each " +
      "origin) — one user_id shuffle, constant per-key state; the oracle " +
      "replays the recurrence as three prefix list_reduce folds."),
    "dd_winnowing" -> ("Winnowed fingerprints (MOSS): min-of-window " +
      "selection is scan-side array codegen — the explode happens AFTER " +
      "the ~60% reduction to selected fingerprints; partners ride one " +
      "equi-join on the fingerprint key behind a df ≤ 16 cap, so a " +
      "boilerplate fingerprint cannot quadratically explode the " +
      "self-join. Never doc×doc."),
    "dd_nfc_normalize" -> ("Unicode NFC dedup face: the native " +
      "nfc_normalize expression runs inside whole-stage codegen as a pure " +
      "scan-side projection — ZERO shuffle; the ASCII fast path " +
      "(numBytes == numChars → return input, no copy) makes a mostly-" +
      "ASCII corpus free. Oracle = utf8proc vs JDK normalizer, md5-proven " +
      "per row."),
    "tx_wordpiece_encode" -> ("WordPiece greedy encode, dictionary " +
      "discipline: the token stream is touched once (one hash-agg to the " +
      "distinct-word dictionary); candidate matches explode off the " +
      "dictionary and equi-join the BROADCAST vocab; the greedy scan is " +
      "one array fold per word — everything after the first agg is " +
      "dictionary-sized."),
    "graph_random_walks" -> ("DeepWalk corpus step: per hop, the frontier " +
      "joins the committed adjacency and the hub-sized candidate fan-out " +
      "collapses map-side via min(struct(h, dst)) PARTIAL aggregation — " +
      "one row per walk ever shuffles (measured 3.3× over the window-" +
      "ranked form)."),
    "sim_graph_search" -> ("kNN-graph beam search (the ANN serving read " +
      "path): per round ONE join of the O(queries × beam) frontier " +
      "against the committed k-out-degree graph on the node key, " +
      "re-score with broadcast vector lookups, one query-keyed rank " +
      "window — scored rows ≤ queries × beam × (k+1), never corpus-" +
      "sized; the whole 5-round search is one lazy-checkpoint cascade."),
    "graph_louvain_levels" -> ("Two-level Louvain: weighted move pass " +
      "(all lookup sides node-/community-bounded and broadcast, one " +
      "data-sized hash-agg), community contraction as ONE groupBy on the " +
      "mapped endpoints, second pass on the communities²-bounded coarse " +
      "graph — each level shrinks the frame the next one touches."),
    "graph_kcore" -> ("k-core peel: survivor sets and restricted edges are " +
      "lazy checkpoints (each still runs its shuffle and broadcast stages " +
      "when it is taken, under AQE), the survivor set broadcasts into both " +
      "restriction joins below nodeHintGate, and the final plan is ONE " +
      "grouped counter aggregate over the union of the checkpointed rounds " +
      "and a 5-row zero frame — no per-round counter joins."),
    "st_cdc_upsert" -> ("Streaming CDC upsert audit: per-version keyed " +
      "states read straight off the exactly-once manifest log; the " +
      "replay probe re-attempts batch 1's version claim each run (a " +
      "metadata put-if-absent, no data motion) — the three 1-row " +
      "censuses union under SinglePartition exchanges only."),
    "etl_change_data_feed" -> ("Change data feed: consecutive CDC states " +
      "full-outer-joined on the key (sort-merge — CDF diffs two " +
      "unbounded snapshots, nothing is broadcast-safe at scale); insert/" +
      "update/delete classification collapses map-side."),
    "dd_decontaminate" -> ("13-gram benchmark decontamination: the " +
      "benchmark gram set BROADCASTS into the streaming corpus scan (the " +
      "standard decontamination join), per-doc distinct counts collapse " +
      "map-side, per-step-mod Horner hashes keep both engines in exact " +
      "integer agreement."),
    "graph_truss_support" -> ("k-truss support census: triangles rooted " +
      "once at their lowest-degree-rank edge (oriented adjacency " +
      "intersection, O(sqrt E) out-lists, no wedge materialization), 3 " +
      "canonical edges emitted per triangle, support = one hash-agg on " +
      "the edge key, histogram value-bounded."),
    "graph_assortativity" -> ("Degree assortativity: degree hash-agg, two " +
      "node-keyed lookups onto the edge frame, ONE exact-BIGINT moments " +
      "aggregate; r is a parenthesization-pinned IEEE chain, qround'd " +
      "(negative on this graph)."),
    // r12 additions
    "agg_mad" -> ("Median absolute deviation on engine/Quantiles' two-" +
      "phase bucketed selection: a codegen bucket histogram (state = " +
      "value-domain/width, NEVER row count — the built-in percentile() " +
      "buffers every distinct value per group in executor memory), a " +
      "metadata-sized cumulative window locates each rank's bucket, a " +
      "second scan gathers only the target buckets. Two selections run " +
      "sequentially — the dev column needs the median first."),
    "agg_winsorize" -> ("Winsorized mean, same Quantiles selection for " +
      "the [p05, p95] fit (one histogram pass covers both probes), then " +
      "the fit-broadcast-transform clamp pass; interpolation replays " +
      "Percentile.getPercentile bit-for-bit (QuantilesSpec)."),
    "w6_range_frame" -> ("Value-banded RANGE frame keyed per ENTITY " +
      "(o_custkey): Spark's sliding aggregate frame has no retraction — " +
      "it recomputes the frame per row, so frame size is the cost and " +
      "the partition key is the lever. ~10k groups of ~a dozen rows " +
      "instead of 3 status slabs of ~50k (r12 re-key: 2.0 → 0.45 s)."),
    "etl_cdf_stored" -> ("Stored change data feed: the reader consumes " +
      "ONLY per-commit _change_data files — no snapshot is opened, cost " +
      "tracks change volume, not table state; pre/post image pairing " +
      "pinned in-row, stored ≡ snapshot-diff proven in CommitsSpec."),
    "st_cdf_stream" -> ("Streaming CDF consumer: a foreachBatch query " +
      "applies stored change files version-by-version onto its own " +
      "exactly-once log; the face audits full-row state equality vs the " +
      "CDC ledger per version (bag-equality exceptAll both ways)."),
    "graph_louvain_converged" -> ("Louvain to convergence: move pass + " +
      "ONE-groupBy contraction per level until dq_scaled·10⁴ < (2m)² — " +
      "the stop rule compares exact BIGINTs, so driver and oracle replay " +
      "identical arithmetic; one action cascade per level, ≤4 rows ever " +
      "cross to the driver."),
    "sim_hnsw_search" -> ("Hierarchical kNN-graph search: 2 beam rounds " +
      "on the corpus/16 coarse layer seed the full-graph beam (3 rounds) " +
      "— the HNSW upper-layer descent; every candidate scored exactly " +
      "once (visited-set discipline), recall ≥ flat width-8 at lower " +
      "scored-candidate budget, pinned in-row."),
    "agg_median_per_entity" -> ("Exact per-supplier medians at entity " +
      "cardinality — the group count where percentile()'s per-group " +
      "value buffer stops being viable; engine/Quantiles' two-phase " +
      "bucketed selection: codegen bucket histogram, metadata-sized rank " +
      "locate, target-buckets-only gather — state never depends on row " +
      "count."),
    "graph_scc_coloring" -> ("Directed SCC (Orzan coloring, phase 1) on " +
      "the ship/return trade digraph: 4 forward min-label rounds + 4 " +
      "backward frontier-membership rounds, node-sized frames broadcast " +
      "into every edge join (one shuffle/round), zero floats; the final " +
      "frame is the checkpointed census assembly."),
    "dd_decontaminate_sweep" -> ("n-gram decontamination sweep (8/13/20): " +
      "one tokenize stages the corpus, each n re-folds the same token-" +
      "hash arrays with its own per-step-mod Horner window; benchmark " +
      "gram sets broadcast into the train scan; counts monotone in n " +
      "(FacesInvariantSpec)."),
    "sim_index_insert" -> ("ANN index maintenance: base-half committed " +
      "kNN layout + search-then-link-prune-repair of the arriving half; " +
      "corpus-row vector lookups gated (embHintGate), repair confined " +
      "to 2-hop/co-linker pools ≤ batch × k²; the final frame is the " +
      "4-row census assembly over the checkpointed cascade. r15: the " +
      "beam state is the NARROW (qid, cand, cos) frontier — no exchange " +
      "carries a vector array (PlanQualitySpec pins it; 72.6 → 4.0 MB " +
      "shuffle at sf0.1) — and the exact-kNN recall denominators " +
      "aggregate map-side via the mergeable TopK instead of ranking " +
      "all scored pairs through a window exchange."),
    "st_index_append" -> ("Streaming index append read path: the " +
      "committed per-batch edge shards (written exactly-once by " +
      "batchId inside foreachBatch) scan + one 3-group census — the " +
      "search cost lives in the stream, not the reader."),
    "sim_knn_join_idx" -> ("Two-sided index-blocked kNN join: only the " +
      "k=16 centroid frame broadcasts (constant at any scale); the " +
      "cell equi-join is the one shuffle pair — neither corpus " +
      "broadcasts (PlanQualitySpec pins the shape)."),
    "mm_audio_dedup" -> ("Constellation audio dedup: decode+energies in " +
      "one mapPartitions pass, per-clip peak windows, banded candidate " +
      "equi-join on the (dt, ratio) landmark key with the df-style " +
      "bucket cap applied BEFORE pair generation — never clip × clip.")
  )

  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Tables.localSession("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"` at sf0.001. These are the\n")
    sb.append("plan shapes asserted in `PlanQualitySpec`; comments call out what matters\n")
    sb.append("at 100 TB.\n\n")
    sb.append("Expression-level note: `Vectors.cosine` dispatches to the native fused\n")
    sb.append("`cosine_sim` Catalyst expression (one codegen'd loop for dot + both\n")
    sb.append("norms). The `COSBENCH` Probe mode (800k pairs × 64 dims, sf0.01, warm;\n")
    sb.append("last present in commit c68a309, removed in the commit after it)\n")
    sb.append("measures ~5× over the composed three-fold form: 0.21s vs 1.06s —\n")
    sb.append("every similarity/k-NN/near-dup query inherits this.\n")
    for ((name, note) <- picks) {
      val df = SparkEntry.queries(name)(spark, d)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println(s"[plandump] wrote PLANS.md (${picks.size} plans)")
    spark.stop()
  }
}
