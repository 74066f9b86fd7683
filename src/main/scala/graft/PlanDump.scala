package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for headline queries to PLANS.md —
  * reviewable evidence that the plans have the shapes the engine
  * promises (pushdown, broadcast, partial agg, codegen, equi-join LSH).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession()

    val headline = Seq(
      "q1_agg" -> "partial+final HashAggregate; 4-column pruned scan",
      "q2_filter_project" -> "PushedFilters + pruned ReadSchema at the parquet scan",
      "q3_join_revenue" -> "broadcast dims (nation/region), shuffled fact joins",
      "q6_topk_per_key" -> "two-phase top-k: local window then tiny global window",
      "q44_topk_agg" -> "top-k as ONE aggregation: partial+final TopKAgg, map-side combine",
      "q46_freq_items" -> "Misra-Gries heavy hitters: capacity-bounded partial buffers",
      "q21_minhash_lsh" -> "LSH candidates from an equi-join on band buckets; ReusedExchange for the symmetric self-join sides",
      "dedup_simhash" -> "banded self-join with ReusedExchange; hamming filter before distinct",
      "dedup_simhash_w" -> "idf-weighted signature: df agg + shingle-hash equi-join feeding the same banded tail",
      "q24_embedding_dedup" -> "block-grid pair equi-join (no BroadcastNestedLoop); codegen'd vec_cosine",
      "q31_sessions" -> "session_window aggregation, single shuffle on user_id",
      "q34_asof_join" -> "merge-based as-of: one shuffle, window carry-forward",
      "q56_quantile_budget" -> "histogram shuffle + broadcast per-lang thresholds; window only over budget-bounded candidates",
      "q65_pack_sequences" -> "distributed prefix sum: per-bucket window cumsum + broadcast 16-row bucket offsets; no global sort of the corpus",
      "q73_bm25" -> "broadcast df (|query| rows) + corpus stats (1 row); one per-doc score shuffle",
      "q74_pagerank" -> "per-round edge-rank equi-join + gather aggregation; O(1) plan depth via localCheckpoint",
      "q79_zorder" -> "narrow interleave_bits kernel inside codegen; single bounded-key aggregation",
      "q85_kmeans" -> "Lloyd assignment as narrow decimal expressions over centroid literals; ONE K-group partial+final aggregation carries the whole update",
      "q90_phrase_search" -> "per-term postings filters prune the exploded tokens BEFORE the adjacency equi-join shuffle",
      "q91_fuzzy_join" -> "deletion-neighborhood candidate equi-join (no all-pairs); exact levenshtein verify after the distinct",
      "q95_star_join" -> "six-table star: broadcast dims at the bottom, fact-fact shuffles above — Catalyst-chosen join order",
      "q96_exists_subquery" -> "correlated EXISTS decorrelated to a left-semi join (no nested-loop subquery execution)",
      "q97_scalar_subquery" -> "correlated scalar subquery decorrelated to ONE aggregate + join on p_partkey",
      "q99_gap_fill" -> "per-group sequence() explode builds the grid narrowly; AQE broadcasts the grid side of the left join",
      "q100_quality_audit" -> "whole constraint suite in ONE aggregation pass (single scan); inline() verdict expansion after the agg",
      "q102_outliers" -> "per-type moments broadcast back over the corpus: scoring is a narrow map, corpus never shuffles",
      "q105_upsert" -> "MERGE as update UNION anti-join: co-partitioned or broadcast, no per-row lookups",
      "q106_eqdepth_hist" -> "percentile boundaries as an array literal (driver metadata) — narrow bucket scoring, no join, no sort",
      "q112_approx_percentiles" -> "approx_percentile sketch: O(accuracy) group state, partial+final merge — the q47 form that survives 100x",
      "q113_rolling_distinct_exact" -> "7x day-explode + ONE distinct aggregation; no non-equi join, so no BroadcastNestedLoop",
      "q114_span_removal" -> "positional span hashes -> shared-set semi join (dup-bounded) -> collect_list starts -> narrow filter-by-index splice",
      "mm_image_neardup" -> "dHash per image (narrow decode) + hamming-band bucket grouping — one shuffle, never all-pairs",
      "q126_corr_matrix" -> "ALL 15 moments in ONE partial+final aggregation pass; pair assembly is a narrow explode over the 1-row result",
      "q129_shingle_cosine" -> "inverted-index postings self-join on the shingle hash, df-capped; decimal-exact dot/norm aggregations",
      "q130_bloom_join" -> "16 KB bloom literal prunes the fact scan INSIDE codegen before the join shuffle (explicit runtime filter)",
      "q139_fuzzy_pairs" -> "brand-blocked fuzzy pairing: candidates from an equi-join on the blocking key, dam_lev/jaro_winkler kernels codegen'd in the verify filter — no all-pairs surface",
      "q141_shortest_path" -> "3 unrolled min-plus rounds: one frontier equi-join + map-side-combined grouped min each; state is one row per reached node",
      "q143_recursive_reach" -> "native recursive CTE (UnionLoop) over the session-pinned trade-edge view (round 12 - the edge build is no longer re-run per recursion step); DISTINCT recursive term bounds per-level state by the node set, depth guard caps the loop",
      "q145_split_leakage" -> "content-hash aggregation + co-partitioned join back on the hash — the q20 exact-dedup shuffle shape with a split-spread count",
      "q148_seasonal_anomaly" -> "daily decimal aggregation + lag-7 window; per-type residual moments broadcast back over the series (the q102 outlier shape on time series)",
      "q155_survival" -> "per-customer gap window (one shuffle) collapses to DISTINCT-DURATION rows; KM risk-set/product windows run over that calendar-bounded set, 1-row horizon broadcast",
      "q158_profile" -> "ONE single-distinct aggregation per column, unioned — each branch's scan prunes to its column; the 11-distinct Expand alternative measured 26s vs 1.4s",
      "q154_also_bought" -> "basket-ARRAY form: cap window + collect_list share ONE cust exchange into a pinned one-row-per-customer basket relation; pairs are codegen'd stacked explodes (narrow, <=C(cap,2)/customer) feeding the single pair-agg shuffle with map-side combine; popularity broadcasts only under the <=4M-item size gate fed by the dimension count, beyond it the plain join lets AQE choose",
      "q160_sorted_neighborhood" -> "GlobalRank: driver-sampled boundary literals -> pure-expression bucket id, per-bucket rank, broadcast prefix offsets (NO single-partition window on data, no checkpoint); neighbor pairing is an equi-join on rank",
      "q211_salted_hot_join" -> "profiled hot key scattered across 8 salts; ONLY hot rows replicate the 25-row dim side (cold keys ride salt 0); aggregate == plain join",
      "q212_chunk_sliding" -> "narrow per-row start-sequence explode — zero shuffles, map-only behind the scan",
      "q213_rep_ratio" -> "per-row higher-order-function folds (dup-3gram + top-token fractions) — zero shuffles",
      "q214_ann_filtered" -> "label equality rides the broadcast-join condition (pre-filter ANN); corpus side stays partitioned",
      "sim_ann_ivfpq" -> "serve-from-snapshot: ADC scan reads ONLY the code column of the persisted index; exact re-rank joins embeddings from the same snapshot",
      "q161_hits" -> "two mutual-reinforcement rounds as co-partitioned equi-join + grouped LONG sums (exact, order-independent); 1-row normalizer broadcasts at the end",
      "q171_weighted_median" -> "DECIMAL cumulative-weight window ordered by (value, row key); the 2·cw ≥ tw cut replaces any global sort-and-pick",
      "q176_asof_native" -> "custom AsOfJoinExec: ClusteredDistribution + (keys, time) sort on both children, one O(|L|+|R|) merge per co-partition pair — the plan SortMergeJoin gets, with as-of semantics",
      "q175_overlap_score" -> "probe shingles broadcast (benchmark-suite-bounded); corpus side is one explode + left-outer count — the q57 shape emitting a fraction instead of a verdict",
      "q188_ks_test" -> "corpus reduces to per-(type, value) arm counts in one pass; the CDF walk + integer supremum run over the value-cardinality table (oracle-shaped original; stats_ks_rank is the scale form)",
      "stats_ks_rank" -> "BOTH arm cumulatives ride one range-partitioned prefix pass: per-class counts packed into a single long (ca*2^32+cb, carry-free through ~2e9 rows/arm), per-type totals as literals — no per-type distinct-value sort task",
      "drift_qnorm_rank" -> "q223's per-source rank windows replaced by grouped GlobalRank passes (range-partitioned); the BIGINT rank-profile agg and join-back unchanged",
      "q189_naive_bayes" -> "training = two grouped counting passes (vocab-bounded model); scoring joins test tf with the model on w + the 5-row class grid; per-doc argmax window",
      "q192_kcore" -> "round 1 is a plain degree filter; peels 2-3 are induced-subgraph semi-joins + map-side-combined counts — frontier-proportional, never the whole graph after round 1",
      "q193_mv_join_maintain" -> "only the DELTA rides the 3-table join pipeline; base + delta merge by summing aggregate state — the Gupta-Mumick rule as one plan",
      "q197_near_search" -> "ZERO shuffles: indexed transform/filter builds both terms' position lists in one scan; pair enumeration stays inside the row",
      "q198_source_similarity" -> "one corpus pass to (source, word) cells; vocab-keyed self-join over the bounded profile table; exact integer dots/norms until one division per pair",
      "q201_ctfidf" -> "one tokenize pass; tf/class-df/score aggregates all vocab-bounded; per-class top-10 window over vocab-sized input",
      "q204_quantize" -> "narrow per-row array fold (fixed left-to-right order) — map-only work fused behind the scan",
      "stats_wmedian_2pass" -> "pass 1: 64-bucket weight histogram (map-side combined); bucket walk over flags x 64 rows; pass 2 re-scans ONLY the located buckets and refines — exact q171 answer, no per-group corpus sort",
      "rfm_globalrank" -> "three sampled-boundary GlobalRank passes (binary-search bucket ids, round 9) + closed-form ntile from the gap-free rank — NO whole-relation single-partition window; bucket sizes from the unranked branch (map-side-combined) on the pinned base",
      "q207_freq_triples" -> "Apriori L2 ⋈ L1 candidate join on the doc key — support-filtered pair hits bound the triple volume (anti-monotonicity), never tokens³",
      "q209_dsir_weights" -> "both n-gram distributions reduce to 256-row bounded tables; per-bucket log-ratios broadcast over ONE corpus feature pass — the whole selection model is KB metadata",
      "q220_psi_drift" -> "one (type, value) arm-count shuffle (pinned); the reference cumulative rides the range-partitioned prefix sum (round 9 — the per-type window was each type as ONE corpus-sized sort task); 9-double boundary arrays broadcast — bucketing is a narrow array filter, no join multiplier",
      "q221_target_encode" -> "one grouped pass over orders⋈broadcast(customer); global-mean prior is a 1-row driver scalar; nation names broadcast",
      "q222_mann_kendall" -> "corpus reduces to the calendar-bounded daily table in ONE map-side-combined shuffle; the C(days,2) pair self-join and the Sen order-statistic window touch only that metadata",
      "q225_bootstrap_ci" -> "200-replica explode over the DAILY table (types x days x 200 rows of metadata, never the corpus); md5 day-inclusion is a narrow filter; CI is an integer ceil-rank pick",
      "q226_calibration" -> "rides q189's vocab-bounded scoring joins; posterior normalizer sums once-rounded exp terms DECIMALLY per doc (order-independent); bin table is 10 rows",
      "q228_dynamic_sessions" -> "native session_window with a per-event gap expression: ONE shuffle on user_id, merge happens inside the session aggregation — no self-join, no window walk",
      "q229_source_overlap" -> "(source, shingle)-deduped postings bound the self-join fanout by the SOURCE CATALOG per shingle (no df cap needed, unlike the doc-unit q23); sizes broadcast onto C(sources,2) pair rows",
      "q230_homoglyph_dedup" -> "builtin translate (codegen'd) folds confusables in the scan projection; ONE map-side-combined group on the 16-byte skeleton hash — q20's exact-dedup shape",
      "q232_pack_bins" -> "FFD runs per md5 shard inside flatMapGroups after ONE shuffle on the shard key; bin state never leaves its task; output re-aggregates shard-locally",
      "q235_dedup_impact" -> "hash-group for global keepers + co-partitioned join back on fp + source rollup — two map-side-combined shuffles, all counting integer-exact",
      "q237_nb_crossval" -> "ONE corpus pass for all five folds (round 11): per-(fold,class,word) counts aggregate once and train counts come by exact integer subtraction (corpus total minus held-out fold); the 25-row per-fold class grid broadcasts",
      "q126_corr_matrix" -> "ONE aggregation pass carrying all 14 moments as Sum128 (two-long 128-bit buffer slots — fixed-width, codegen-friendly; the decimal(38,8) buffers this replaced re-serialized per row: 3.9s -> 0.6s at sf0.1); corr assembly is scalar math on the 1-row result",
      "q1_agg" -> "map-side-combined grouped agg; every measure sums through Sum128 (bit-identical to the decimal route, long-add speed); 2 grouping keys -> tiny shuffle",
      "q246_rrf_fusion" -> "lexical arm: postings equi-join against the BROADCAST query-token table (candidates = query-term postings, never the corpus) + per-query jaccard window over the bounded candidate set; semantic arm: q25's query-set broadcast cosine top-k; fusion: full-outer join of two <=pool-deep rank lists per query",
      "q247_holt" -> "ONE Sum128 daily reduction (map-side combined); the coupled fold runs as flatMapGroups over the CALENDAR-bounded series — the imperative step never sees data volume",
      "stats_eqdepth_rank" -> "exact deciles with NO percentile value-count buffer: one GlobalRank range-partitioned rank pass + an 18-rank narrow filter; the bucket consumer is identical to q106's",
      "stats_spearman_rank" -> "NO per-row rank pass at all: each value column reduces to its (flag, value, cnt) class table (map-side combined), withPrefixSumInGroups assigns tie-mean ranks over the CLASS table, and one fine-key join-back pairs rq/rp per row for the decimal moments",
      "stream_index_inc" -> "per-term ValueState (2 longs x vocabulary) folds each micro-batch's postings partials — O(delta postings)/batch; the additive index row makes the fold exact",
      "q248_holt_winters" -> "ONE Sum128 daily reduction; the level/trend/season fold runs as flatMapGroups over the CALENDAR-bounded series — O(m) state, data volume never reaches the imperative step",
      "q249_t_closeness" -> "one map-side-combined (quasi-ID, bucket) aggregation reduces the corpus; the dense |groups|x4 grid, cumulative windows and EMD fold all run on bounded metadata",
      "q250_emd_drift" -> "q220's grid verbatim (one arm-count shuffle, prefix-sum boundary pass, broadcast decile boundaries); the cumulative walk is a bounded window over |types|x10 rows — integer-exact cross products, one guarded division",
      "conc_globalrank" -> "per-customer spend agg pinned once; grouped GlobalRank replaces the 25-coarse-group rank window; Gini/HHI fold is one map-side-combined pass over ranked rows",
      "dedup_jaccard_prefix" -> "rare-first prefix index (one df agg + per-doc window); bucket-grouped pair generation carries (pos, n); PPJoin length + positional prunes run IN the candidate aggregate before the verify join; verify is a codegen sorted-merge intersect over long arrays",
      "sim_ann_serve" -> "serve-only shape: snapshot scan (code column for ADC) + broadcast 100-query probe join + two bounded rank windows — zero training jobs, the build amortized into the committed snapshot",
      "q258_kneser_ney" -> "three vocabulary-bounded model tables (types/ctx/cont — ctx and cont derive from the TYPES frame, never the corpus) left-joined under the held-bigram scan; AQE broadcasts at test scale, shuffles at web-corpus vocab; ln P folds to integer micros before the per-doc agg",
      "q259_dup_span_runs" -> "no join on the pair path (bucket-grouped pair explosion, the q21/q23 rule, df-capped 2..16); the islands window partitions on (pair, diagonal) — fine keys, dup-bounded volume",
      "q260_loo_ablation" -> "ONE training pass off the session-pinned TokenCache frame: every per-source model is count subtraction off the full tables; the correction join BROADCASTS the model-sized delta (round 10 — the vocab key is low-cardinality and skewed, so shuffling tf on it lost 2x); the (classes x sources+1) grid and the 1-row full-accuracy frame are the other broadcasts",
      "dedup_components" -> "round-10 connectivity pair graph, exact by two theorems: sha2 exact-dup collapse (one narrow hash shuffle) -> star edges + rep-only index; prefix-filtered exact Jaccard (AllPairs/PPJoin pruning) over the representatives with SortedIntersectCount verify; min-label propagation over the union",
      "q261_cdc_chunks" -> "chunking is a NARROW per-row expression (boundaries, slices, hashes never leave the row); only the chunk-hash agg and the dup-hit semi join shuffle (both keyed on the 32-byte hash)",
      "q263_vocab_coverage" -> "the vocab ranking rides GlobalRank.withRank (a plain row_number window would sort the whole vocabulary in ONE task); the K-sweep is conditional sums in one aggregation — no second pass",
      "q265_changepoint" -> "the corpus reduces to the DAILY grain in one map-side-combined aggregation; every window (prefix sums, argmax) runs over the calendar-bounded table")

    /** One line per join-bearing query: which side broadcasts, why, and
      * whether the decision survives a 100× scale-up. Broadcast is
      * EXPLICIT only where the small side is bounded by construction
      * (dimension tables, the query set, per-language/grid metadata);
      * everywhere a side grows with the corpus the plan leaves the choice
      * to AQE so test-scale broadcasts become shuffles at corpus scale.
      */
    val broadcastNotes = Seq(
      "q3_join_revenue / q12_chained_pipeline" ->
        "explicit broadcast(nation, region): dims are 25/5 rows at ANY scale factor (TPC-H dims grow sublinearly); fact-fact joins (lineitem-orders-customer) shuffle on their keys — at 100x only the fact shuffles grow",
      "q9_semi_join / q10_anti_join" ->
        "no hint: the aggregated orders side fits broadcast at test scale (AQE picks it) but grows with the corpus - AQE flips to shuffled join when it crosses the threshold",
      "q11_left_join_agg / q53_full_outer" ->
        "no hint, shuffle join by design: both sides scale with the corpus; outer joins preserve unmatched rows so neither side is prunable",
      "q21/q23/dedup_simhash(_w)/dedup_keep_min" ->
        "no join on the hot path at all: bucket-grouped pair generation replaces the bucket self-join; q23's per-doc size lookups carry NO broadcast hint (one row per document - AQE broadcasts at test scale, must shuffle at 10^9 docs)",
      "dedup_simhash_w df join" ->
        "shuffle_hash hint on the per-shingle df table: same key the index shuffles on, and df is shingle-cardinality (corpus-sized) - never broadcastable",
      "q24_embedding_dedup" ->
        "explicit broadcast(grid): B(B+1)/2 block-pair rows (36 at B=8), pure metadata; the vectors themselves shuffle on the block-pair key",
      "q25_ann_topk / sim_ann_lsh / sim_ann_ivf" ->
        "explicit broadcast(query set): bounded by the caller (20 queries x probes), independent of corpus size; the corpus side stays partitioned - the defining shape of these operators",
      "q34_asof_join" ->
        "no broadcast anywhere: union + window carry-forward needs ONE shuffle on the join key; broadcasting either side is structurally unnecessary",
      "q38_range_join" ->
        "no hint: bucketed equi-join shuffles both sides on (key, bucket); bucket fan-out is the bounded replication factor",
      "q45_stream_join" ->
        "stream-stream: both sides watermark-bounded state, no broadcast (batch twin: AQE decides)",
      "q39/q54 curation keeper join" ->
        "no hint: keeper table is one row per DISTINCT text - shrinks with dup rate but scales with the corpus, so AQE must own the choice",
      "q56_quantile_budget" ->
        "explicit broadcast(thresholds): one row per language - bounded metadata like the IVF centroids",
      "EventStream.enrich" ->
        "explicit broadcast(dim): stream-static enrichment is defined as a per-micro-batch map-side join; a corpus-sized dim would need a stream-stream join instead",
      "q57_decontaminate" ->
        "explicit broadcast(probe shingles): the probe side is a benchmark suite, bounded by construction; the corpus streams through semi-join + anti-join",
      "q69_decontaminate_bloom" ->
        "no broadcast of the probe set at all: a ~16 KB bloom literal rides the plan into codegen and prunes corpus shingles narrowly; the exact-verify semi-join sees only pre-filtered candidates, so AQE owns its strategy - the form that survives a probe set too big to broadcast",
      "q65_pack_sequences" ->
        "explicit broadcast(bucket offsets): exactly 16 rows (one per order-key hex prefix) at any corpus size; the corpus shuffles ONCE on the bucket key for its windowed cumsum",
      "q66_domain_mix" ->
        "explicit broadcast(rate table): one row per source domain - bounded metadata; the corpus side is a narrow filter pass, no shuffle after the count aggregation",
      "q73_bm25" ->
        "explicit broadcast(df, corpus stats): df is one row per QUERY term (bounded by the query, not the corpus), stats one row; the (doc, term) tf table stays partitioned and shuffles once for the per-doc score sum",
      "q74_pagerank" ->
        "no hint: the rank vector is node-cardinality (corpus-scale) and must never broadcast; each round equi-joins edges against ranks on the source key - both sides hash-partition on the same key so rounds after the first reuse the partitioning. Out-degree is a map-side-combined groupBy + join on the SAME source key (round 4: replaced the unbounded window count, which buffered a power-law hub's whole edge list in one task's sort)",
      "q75_snapshot_diff" ->
        "no hint, full-outer by design: both snapshots scale with the corpus; the join carries (id, 32-byte hash) only, one co-partitioned shuffle",
      "q77_triangles" ->
        "no hint on the triangle joins: the edge set is vocabulary-bounded (AQE broadcasts at any realistic vocabulary); the 1-row doc count IS explicitly broadcast into the edge threshold filter",
      "q85_kmeans" ->
        "no join at all: centroids ride the plan as decimal-expression literals (KB driver metadata, the IVF pattern); the corpus contributes one K-group aggregation per Lloyd round",
      "q86_bfs" ->
        "no hint on the frontier semi-joins: the frontier is distinct-node-bounded (AQE broadcasts the seed/supplier frontiers at test scale); at a corpus-scale frontier the semi-join flips to shuffle on the same key",
      "q90_phrase_search" ->
        "no hint: both sides are single-term postings lists - rare terms broadcast under AQE, common terms shuffle on doc_id; forcing either would be wrong for the other case",
      "q91_fuzzy_join" ->
        "no hint on the candidate-key equi-join: both key sides scale with the entity set; bucket population (names per deletion key) is bounded by near-dup density, the LSH argument",
      "q92_incremental_dedup" ->
        "shuffle_hash hint on the bipartite postings join: the corpus postings side is corpus-sized (never broadcastable) and the incoming-delta side can be anything from a single doc to a full re-delivery, so both sides shuffle on the shingle key unconditionally; pair aggregation groups on (b_id, a_id) only, folding the per-doc sizes through max() — grouping on all four keys measured 6x slower from the wider exchange rows",
      "q95_star_join" ->
        "explicit broadcast(nation, region) only: the four corpus-scale tables (customer-orders-lineitem-supplier) shuffle on their keys; Catalyst owns the join ORDER, pushing the region filter through the broadcast dims before the fact shuffles",
      "q96_exists_subquery / q97_scalar_subquery" ->
        "no hint: Catalyst decorrelates EXISTS to a left-semi join and the scalar subquery to an aggregate + join, both on corpus-scale keys - AQE owns the strategy (semi-join build sides grow with the corpus)",
      "q99_gap_fill" ->
        "no hint needed: the day grid is rangeDays x nTypes rows - independent of event cardinality, AQE broadcasts it at any corpus size; the observed-daily side arrives pre-aggregated (one row per type-day)",
      "q102_outliers" ->
        "explicit broadcast(moments): one row per event type - bounded vocabulary like q56's thresholds; the corpus side is a narrow scoring pass, zero corpus shuffles",
      "q104_stream_left_join" ->
        "stream-stream left outer: both sides watermark-bounded state, no broadcast (the null-emission semantics need symmetric state); batch twin: AQE decides",
      "q105_upsert" ->
        "no hint on the anti-join: the change set can be one row or a full re-delivery - AQE broadcasts small deltas, shuffles big ones on the key; the update union is narrow",
      "q108_containment" ->
        "no join on the pair path (bucket-grouped, as q21/q23); per-doc size lookups un-hinted - one row per document, AQE broadcasts at test scale, shuffles at corpus scale",
      "q109_tfidf_topterms" ->
        "shuffle_hash hint on the df join: the vocabulary grows with the corpus and must NEVER broadcast (contrast q73, whose df is bounded by the QUERY's terms and is explicitly broadcast)",
      "q101_state_merge / q106_eqdepth_hist" ->
        "no join at all where it matters: q101 merges partial-aggregate STATE rows (one per key) through a union+regroup; q106's boundaries ride the plan as an array literal (KB driver metadata, the kmeans/IVF pattern)",
      "q110_share_of_total" ->
        "explicit broadcast(nation, region) only; both share windows run over <=25 AGGREGATED rows (bounded metadata), so the unpartitioned grand-total window is safe at any corpus size",
      "q102_outliers / q111_mad_outliers" ->
        "explicit broadcast(per-type scalar tables): moments/median/MAD are one row per event type - bounded vocabulary; every corpus pass stays narrow, zero corpus shuffles",
      "q113_rolling_distinct_exact" ->
        "explicit broadcast(distinct-days semi join): date cardinality is calendar-bounded metadata; the exploded events shuffle ONCE for the per-day distinct aggregation",
      "q114_span_removal" ->
        "no hint anywhere: the shared-span semi join and the starts join are both corpus-keyed (shingle hash / doc_id) and co-partition with their producing aggregations; only dup-covered positions flow through the second shuffle",
      "mm_image_neardup" ->
        "no join on the pair path (bucket-grouped like q21/the simhash family); signatures are 8 bytes per image so the band shuffle carries fixed-width rows",
      "SkewOps.saltedJoinAuto" ->
        "hot-key set is driver-side KB metadata embedded as an isin literal - no profile join rides the mitigated plan; the right side replicates salts-fold ONLY for hot-key rows",
      "q129_shingle_cosine" ->
        "shuffle_hash hint on the df join (vocabulary-sized, the q109 rule); the postings self-join shuffles both sides on the shingle hash - both corpus-scale, never broadcastable; the two norm joins are un-hinted (one row per doc: AQE broadcasts at test scale, shuffles at corpus scale)",
      "q130_bloom_join" ->
        "no broadcast of the dim keys: a 16 KB bloom literal rides the fact scan (the q69 pattern) and the residual equi-join is AQE-owned - small dims broadcast, large ones shuffle a fact side that the bloom already pruned",
      "q126_corr_matrix / q127_linreg / sim_pca" ->
        "no join at all: moment/covariance aggregations with map-side partial combine; eigenvectors, means, and moment totals return to the plan as KB-scale literals (the kmeans/IVF pattern)",
      "q139_fuzzy_pairs" ->
        "no hint on the blocking join: both sides are the same corpus-scale table keyed on the blocking column (AQE broadcasts the build side at test scale, shuffles at corpus scale); the distance kernels run AFTER the equi-join, so no all-pairs surface exists",
      "q141_shortest_path" ->
        "no hint: edges and the dist vector are both graph-scale and must never broadcast; each round's join and grouped min hash-partition on the same key, so rounds reuse the partitioning (the q74 rule)",
      "q145_split_leakage" ->
        "no hint on the fingerprint join: the spread table is one row per DISTINCT text — shrinks with dup rate but scales with the corpus, so AQE owns the choice (the q39/q54 keeper rule)",
      "q146_majority_label" ->
        "no hint: vote counts are (supplier x nation)-bounded; the argmax window partitions by supplier over <= |nations| rows — bounded metadata, never event volume",
      "q147_lateral_topk" ->
        "lateral correlated ORDER BY/LIMIT subquery: planned as a per-group ranked join whose outer side is the dimension table — group count bounds the fan-out",
      "q148_seasonal_anomaly" ->
        "explicit broadcast(per-type residual moments): one row per event type (the q102 rule); the series side arrives pre-aggregated to (type, day) rows",
      "q136_welch_ttest / q137_chi_square / q142_autocorr / q144_streaks" ->
        "no join on the corpus path: conditional/moment sums reduce in ONE grouped pass with map-side combine; q137's marginal windows and q142/q144's per-key windows run over aggregated, bounded row sets",
      "q153_personalized_pr" ->
        "no hint (the q74 rule): links and the rank vector co-partition on the source key per round; the rank vector is SPARSE — reached nodes only — so early rounds join a frontier, not the graph; the seed teleport table rides as a bounded union branch",
      "q154_also_bought" ->
        "basket CAP first (row_number window keeps the BasketCap=128 most recent parts per customer), FUSED with the basket aggregation: window and collect_list partition on the same cust key, ONE exchange; the one-row-per-customer basket-array relation is pinned (localCheckpoint — its two consumers, pairs and popularity, are shapes Catalyst cannot share), pairs generate narrowly as two stacked codegen explodes bounded at C(128,2)/customer (no self-join, no second sort of the purchase relation), both orientations emit from ONE explode (never scored.union(scored)), and item popularity is a map-side-combined count BROADCAST under the catalog-size gate onto the support-filtered pair table",
      "q155_survival / q156_interpolate / q161_hits / q165_rfm" ->
        "explicit 1-ROW broadcasts only (dataset horizon, calendar span, score normalizers): the cross join against a single aggregate row is the intended plan; every corpus-scale reduction upstream is a grouped LONG/DECIMAL sum with map-side combine",
      "q160_sorted_neighborhood" ->
        "GlobalRank's offsets join is an explicit broadcast of the bucket-count-sized size table (bounded by spark.sql.shuffle.partitions); bucket ids are pure expressions against driver-sampled boundary literals (no checkpoint, no physical-partition dependence); the rank equi-join shuffles both sides on rn — corpus-scale, never broadcast",
      "q167_period_over_period / q172_concentration" ->
        "explicit broadcast of the dimension chain (customer/nation/region — bounded catalogs); revenue aggregates reduce decimally before the window/rank stage which runs per-nation or per-region over customer-bounded rows",
      "q176_asof_native" ->
        "no broadcast by design: the custom exec REQUIRES ClusteredDistribution on both children, so EnsureRequirements co-partitions exactly like a sort-merge join; per-partition merge state is one buffered right row",
      "q178_fk_orphans" ->
        "left-anti per FK edge, un-hinted: parent sides range from 5-row region (AQE broadcasts) to corpus-scale orders (shuffles) — exactly the split AQE should own",
      "q189_naive_bayes" ->
        "explicit broadcast(class grid): |classes| rows of model constants attached to every test doc (an intentional bounded-metadata BNLJ, the q161 normalizer pattern); the seen-word join is test-tf x matched-vocab on w, un-hinted — the model side is vocab-sized, AQE owns it",
      "q192_kcore / kCoreFixpoint" ->
        "no hint on the peel semi-joins: the surviving node set is frontier-scale (can be the whole graph in round 2) — AQE broadcasts small cores, shuffles big ones on the SAME node key the degree aggregation uses",
      "q193_mv_join_maintain / StreamingMv" ->
        "no hint anywhere: the delta can be one order or a full backfill — AQE broadcasts small deltas through the dimension joins, shuffles big ones; the base+delta merge unions nation-cardinality STATE rows (no join)",
      "q198_source_similarity" ->
        "explicit broadcast(norms): one row per source — bounded metadata; the profile self-join is un-hinted (vocab-sized cells, AQE broadcasts at test scale and shuffles on w at corpus vocabulary)",
      "q203_impute" ->
        "explicit broadcast(per-type fill means): bounded vocabulary, the q102 scalar-table shape; the fill pass is narrow",
      "stats_wmedian_2pass" ->
        "explicit broadcast(target-bucket table): one row per group — bounded metadata; the in-bucket refine joins the corpus against it on (flag, bucket), keeping ~1/64 of rows past the filter",
      "rfm_globalrank" ->
        "explicit broadcast(GlobalRank prefix offsets, 3x): one row per range bucket — bounded metadata; plus the q165 1-row horizon. Bucket boundaries are sampled once per score axis as driver literals (no localCheckpoint pinning — the round-4 form retained three materialized copies per run)",
      "q211_salted_hot_join" ->
        "saltedJoinAuto end-to-end: the profiled hot key's rows scatter across 8 salts while the 25-row nation side replicates ONLY for hot keys (cold keys join on salt 0); the result is the plain join's — mitigation invisible in the aggregate, pinned by oracle hash",
      "q214_ann_filtered" ->
        "explicit broadcast(query set WITH labels): the label equality rides the join condition into the broadcast build side — pre-filter ANN; the corpus stays partitioned, and a label-partitioned layout turns the predicate into partition pruning at scale",
      "q199_stream_semi_join" ->
        "stream-stream left semi: both sides watermark-bounded state, no broadcast; batch twin: AQE decides",
      "q220_psi_drift / stream_psi_drift" ->
        "explicit broadcast(boundary/ref-model table): types x (9 doubles + 10 longs) — bounded metadata; bucket assignment is a narrow array filter on the corpus side (no join multiplier, no BNLJ); the streaming twin keeps (windows x types x 10) counters of state",
      "q221_target_encode" ->
        "explicit broadcast(customer, nation): bounded catalogs; the global-mean prior is a 1-row driver scalar folded into the projection — the corpus contributes ONE grouped pass",
      "q222_mann_kendall / q224_isotonic / q225_bootstrap_ci" ->
        "no hint needed anywhere: every join/window/explode runs over the calendar-bounded DAILY table (types x days rows of metadata); the corpus's only appearance is the one map-side-combined daily aggregation",
      "q226_calibration" ->
        "rides q189's broadcast decisions unchanged (class grid broadcast, vocab join un-hinted); the posterior fold and decile binning add zero joins",
      "q229_source_overlap" ->
        "explicit broadcast(per-source sizes): |sources| rows of metadata; the shingle self-join is un-hinted — both sides are the same (source, shingle) relation, co-partitioned on the shingle key",
      "q234_retrieval_eval / stream_scd2_enrich" ->
        "q234's ground-truth side inherits q25's query-set broadcast; the metric join is K x |queries| vs K x |queries| (AQE's call). scd2Enrich: equality conjunct on the key keeps the stream-static join a hash join with the validity range as residual — never a BNLJ",
      "q235_dedup_impact / q236_profile_drift / q237_nb_crossval" ->
        "q235 joins corpus-to-keepers co-partitioned on the content hash (both sides derive from the same aggregation); q236 has NO joins (unioned single-distinct branches); q237 aggregates once and subtracts per fold — one set of q189-shaped joins, not five",
      "q249_t_closeness / q250_emd_drift / stream_emd_drift" ->
        "explicit broadcast of the 1-row total (q249) and the per-type boundary/ref-count arrays (q250/stream — the q220 rule): everything after the one corpus arm-count aggregation is bounded-grid metadata",
      "conc_globalrank" ->
        "explicit broadcast(customer dim) into the spend join (bounded catalog, the q172 rule); GlobalRank's offset tables broadcast at bucket/|nations| size; the ranked corpus-side fold is map-side combined",
      "dedup_jaccard_prefix" ->
        "no join on the candidate path (bucket-grouped pair generation, the q21/q23 rule); the verify join's per-doc sorted-hash arrays are corpus-sized and un-hinted — AQE broadcasts at test scale, shuffles at 10^9 docs",
      "sim_ann_serve" ->
        "explicit broadcast(query probe set): 100 queries x probes, caller-bounded (the q25 rule); the snapshot's code column streams through the ADC scan partitioned — serving never moves the corpus",
      "stats_ks_rank / drift_qnorm_rank / q242_feature_auc" ->
        "GlobalRank prefix/rank passes (round 9): bucket-offset tables broadcast at <=buckets rows; per-group totals are LITERALS (bounded groups, collected driver-side — no goffs broadcast join at all); the corpus contributes one class-table aggregation (ks/auc) or a narrow 3-column scan (qnorm)",
      "stream_lm_ppl / stream_cdc_inc" ->
        "the two round-9 ingest monitors: LM model tables broadcast into the stream-static scoring joins (vocabulary-bounded; drop the hint at extreme vocab), the CDC reference chunk index stream-static joins UN-hinted (corpus-scale static side — the dedup index every design holds somewhere); per-window state is 2-3 counters either way",
      "q264_classifier_agreement" ->
        "q189's class-grid broadcast inherited through nbScores; the agreement statistics are one aggregation over the joined per-doc predictions plus two |classes|-row marginal tables; the final 1-row chance-agreement frame broadcasts onto the 1-row base aggregate")

    val out = new StringBuilder
    out ++= "# PLANS — FINAL (post-AQE) physical plans for headline queries\n\n"
    out ++= s"Generated by `graft.PlanDump` at $sfDir. Each query is EXECUTED\n"
    out ++= "first, so the dump shows the runtime-adapted plan (isFinalPlan=\n"
    out ++= "true) — exchange reuse and AQE join choices included. What to\n"
    out ++= "look for is noted per query; regenerate after plan changes.\n"
    out ++= "\n## Broadcast decisions (per join query)\n\n"
    broadcastNotes.foreach { case (q, note) =>
      out ++= s"- **$q** — $note\n"
    }
    headline.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // materialize so AQE settles on the final plan
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      out ++= s"\n## $name — $note\n\n```\n$plan```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"wrote PLANS.md (${headline.size} plans)")
    spark.stop()
  }
}
