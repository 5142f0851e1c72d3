package graft

/** Per-query SHUFFLE-EXCHANGE budget as a regression test: the count
  * of shuffle exchanges in each query's physical plan is pinned to
  * the value recorded when the plan was last audited. A future edit
  * that silently adds a shuffle (the classic 100 TB regression — an
  * extra groupBy, a lost broadcast, a repartition sneaking into a hot
  * path) fails HERE instead of in a bench run three rounds later.
  * Plans that IMPROVE fail too — by design: re-run
  * `runMain graft.ShuffleCount` and paste the fresh map so the
  * tighter plan becomes the new contract.
  *
  * Counts are structural (subtree duplication counts every occurrence
  * — e.g. x33's shared corpus lineage appears once per consumer), so
  * they overstate runtime shuffles but catch regressions in exactly
  * the same way. Broadcast exchanges are excluded: they are the cheap
  * kind the audits encourage.
  */
class ShuffleBudgetSpec extends SparkSpec {

  private val baseline: Map[String, Int] = Map(
    "a01_daily_user_rollup" -> 2,
    "a03_unpivot_metrics" -> 1,
    "a05_union_distinct" -> 2,
    "a06_hourly_rollup" -> 2,
    "a07_pivot" -> 3,
    "a08_moving_window" -> 3,
    "a09_lead_lag_delta" -> 3,
    "a10_running_total" -> 2,
    "a11_topk_per_key" -> 2,
    "a12_range_frame" -> 3,
    "a13_forward_fill" -> 2,
    "a14_wau" -> 4,
    "a15_cumulative_distinct" -> 3,
    "a16_retention_cohort" -> 5,
    "a17_histogram" -> 3,
    "a18_streaks" -> 3,
    "a19_mode" -> 3,
    "a20_time_weighted_avg" -> 2,
    "a21_ohlc" -> 2,
    "a22_transition_matrix" -> 4,
    "a23_activity_trend" -> 3,
    "a24_path_pattern" -> 2,
    "a25_incremental_rollup" -> 3,
    "a26_audience_overlap" -> 8,
    "a27_ratio_to_report" -> 2,
    "a28_bounce_rate" -> 3,
    "a29_percentile_bands" -> 2,
    "a30_interevent_gap" -> 3,
    "a31_winsorized" -> 4,
    "a33_seasonality" -> 5,
    "j01_entity_resolution" -> 1,
    "j02_broadcast_lookup" -> 2,
    "j03_distinct_dim_keys" -> 1,
    "j04_scd2_merge" -> 1,
    "j05_asof_join" -> 3,
    "j06_range_join" -> 2,
    "j07_interval_agg" -> 3,
    "j08_salted_agg" -> 3,
    "j09_bloom_join" -> 2,
    "j10_scd2_asof" -> 1,
    "j11_asof_native" -> 4,
    "j12_salted_join" -> 3,
    "j13_interval_overlap" -> 3,
    "j14_asof_forward" -> 3,
    "j15_fuzzy_join" -> 3,
    "j16_preagg_join" -> 3,
    "j17_asof_tolerance" -> 3,
    "m01_multimodal_meta" -> 1,
    "m02_frame_sample" -> 1,
    "m03_resize_plan" -> 1,
    "m04_audio_chunks" -> 1,
    "m05_phash_neardup" -> 5,
    "m06_video_meta" -> 1,
    "q01_catalog_antijoin" -> 2,
    "q02_pk_uniqueness" -> 10,
    "q03_fk_orphans" -> 7,
    "q04_null_violations" -> 6,
    "q05_domain_profile" -> 6,
    "q06_range_checks" -> 6,
    "q07_join_coverage" -> 1,
    "q08_distribution_stats" -> 5,
    "q09_topk_time_window" -> 1,
    "q10_monthly_rollup" -> 1,
    "q11_segment_distribution" -> 2,
    "q13_violations_table" -> 5,
    "q14_run_summary" -> 3,
    "q15_percentiles" -> 3,
    "q16_rollup" -> 2,
    "q17_zscore_outliers" -> 3,
    "q18_funnel" -> 8,
    "q19_grouping_sets" -> 2,
    "q20_set_ops" -> 3,
    "q21_exists_semijoin" -> 3,
    "q22_ntile_quartiles" -> 2,
    "q23_above_cust_avg" -> 2,
    "q24_argmax_profile" -> 2,
    "q25_json_extract" -> 2,
    "q26_approx_distinct" -> 2,
    "q26b_exact_distinct" -> 3,
    "q26c_approx_bound" -> 4,
    "q27_null_aware_anti" -> 2,
    "q28_relative_rank" -> 2,
    // 6 (was 26): the comment always PROMISED lazy checkpoints on the
    // two histograms; r6 actually applied them, so the lineitem
    // lineage no longer replays once per consumer (2.1x at sf0.1).
    "q29_mad_outliers" -> 6,
    "q30_skew_profile" -> 3,
    "q31_fanout_profile" -> 3,
    "q32_benford" -> 2,
    "q33_distribution_drift" -> 3,
    "q34_fd_audit" -> 3,
    "q35_correlation" -> 2,
    "q36_contingency" -> 2,
    "q37_gini_profile" -> 6,
    "q38_hll_rollup" -> 3,
    "q38b_hll_bound" -> 5,
    "q39_orphan_trend" -> 3,
    "q40_pricing_summary" -> 2,
    "q41_shipping_priority" -> 1,
    "q42_basket_affinity" -> 9,
    "q43_segment_momentum" -> 4,
    "q44_dup_transactions" -> 2,
    "q45_ks_test" -> 3,
    "q46_rank_sum" -> 3,
    // 4 (was 8): the one-pass bootstrap — all 32 replicate sums in a
    // single HashAggregate instead of a 32× row fan-out + re-agg.
    "q47_bootstrap_ci" -> 4,
    "st01_event_windows" -> 2,
    "st02_sessionize" -> 2,
    "st03_stream_join" -> 1,
    "st04_sliding_windows" -> 2,
    "st05_stream_dedup" -> 4,
    "st06_stream_enrich" -> 2,
    "st07_outer_attribution" -> 1,
    "st08_lateness_profile" -> 3,
    "t03_unit_strip_cast" -> 1,
    "t05_keyword_classifier" -> 1,
    "t06_tokenize_explode" -> 1,
    "t08_flags_to_conditions" -> 1,
    "t11_date_parts" -> 2,
    "t14_static_dim" -> 1,
    "t15_date_range_dim" -> 1,
    "t16_synthetic_generator" -> 0,
    "t17_gap_fill" -> 3,
    "t18_normalize" -> 1,
    "w01_star_build" -> 1,
    "w02_full_etl" -> 0,
    "w03_corpus_etl" -> 3,
    "w04_curation_funnel" -> 6,
    "w05_neardup_funnel" -> 6,
    "x52_zorder_layout" -> 5,
    "x53_jl_projection" -> 3,
    "q48_quantile_sketch_bound" -> 6,
    "q49_k_anonymity" -> 3,
    // 3 user-keyed step aggs (+ their join sides) + 3 one-row summary
    // aggs; every step relation shrinks to converters only
    "q56_funnel_conversion" -> 8,
    // class×band agg + class totals + band totals + the 11-row-grid
    // window + final sort — nothing past |classes|·m after the 1st agg
    "q57_t_closeness" -> 5,
    // daily dedup + dau agg + the exploded (7x deduped) wau dedup/agg
    // + final sort — the sliding-distinct without a range join
    "q59_dau_wau" -> 4,
    // q59's shape at the 28-day window: same four stages, the explode
    // is 28x the deduped daily grain (the priced linear-in-W knob)
    "q62_dau_mau" -> 4,
    // daily dedup + hash dedup + per-day sketch window + the exploded
    // (days x k) window-merge dedup/window/agg + exact-twin path +
    // final join/sort — the sketch explode is k rows/day, not |daily|
    "x91_sliding_kmv" -> 7,
    // x91's daily half alone: daily dedup + hash dedup + per-day
    // sketch window + exact-dau agg + final join/sort
    "st11_daily_kmv" -> 4,
    // (user, week) dedup + per-user min + the activity join-back agg
    // + cohort-size join + final sort
    "q60_retention_cohorts" -> 5,
    // (type, day) agg + the per-type centered window + the weekday
    // contracting agg/sort — nothing wider than days×types
    "q61_seasonality_decompose" -> 3,
    // (brand, type) count agg + the contracted-domain window + rollup
    "q50_fd_repair" -> 3,
    "x54_shard_rebalance" -> 1,
    "x01_dedup_exact" -> 2,
    // 9 → 6 when signatures went row-local (MinHashSigs): the sig
    // stage is a shuffle-free projection; only the banded candidate
    // join, verify joins, and final sort shuffle
    "x02_dedup_minhash_lsh" -> 6,
    // x02's sigPairs (banded candidate join + verify joins + distinct)
    // + the caught/escaped per-doc agg + final sort — arrival mapping
    // and orientation are row-local
    "st10_neardup_dedup" -> 7,
    // delta-vs-index band join + distinct + verify joins + the per-doc
    // verdict agg + final sort; base corpus touched only via its
    // signature relation
    "x82_incremental_dedup" -> 5,
    // signature agg + banded candidate join + verify-stage
    // intersect/size joins over the checkpointed shingle relation
    "x51_minhash_error" -> 11,
    "x03_simhash16" -> 3,
    "x03_simhash_pairs" -> 6,
    // one composed card plan (the a17/q14 scalar-crossJoin pattern):
    // 7 census legs over the lazily-cut sigs/slice/truth/banding
    // relations — each leg's agg+anti-join shuffles count once
    "x106_simhash_contract" -> 18,
    "x04_ngram_jaccard" -> 12,
    "x05_knn_cosine" -> 4,
    "x05_knn_lsh" -> 10,
    "x06_lang_id" -> 4,
    "x07_text_quality" -> 2,
    "x08_token_count" -> 1,
    "x09_fingerprint" -> 1,
    "x10_dedup_embedding" -> 14,
    // 2 = the star-root dedup (tiny: one row per component) + the
    // output sort; the per-round CC shuffles live behind the
    // checkpoint cut and are bounded by O(log n) rounds.
    "x11_dup_clusters" -> 2,
    // x11's bounded pair generation + CC closure (cut per round) seen
    // from two consumers of the cluster relation, + the singleton
    // left join and the two contracting weight-census aggs
    "x101_cluster_weights" -> 6,
    // the shared keyed pair scan rides one cut; both closures
    // (base → star, star ∪ delta) are cut per round, so the static
    // plan shows the delta split + final sort only
    "x102_incremental_cc" -> 2,
    // x97's audited serve tail behind the adaptive probe relation
    // (+1: the probe census agg joined into the card)
    "x103_adaptive_probes" -> 37,
    // 0 — the whole point: both scans are bucketed on the join key,
    // the aggregate reuses the layout, and the top-100 plans as
    // TakeOrderedAndProject. The one-time layout shuffle happens at
    // write time, not per query.
    "j18_bucketed_join" -> 0,
    "x12_quality_filter" -> 2,
    "x13_domain_mix" -> 2,
    "x14_decontamination" -> 4,
    "x15_pii_redact" -> 1,
    "x16_repetition" -> 1,
    "x17_pack_chunks" -> 2,
    // 6 (was 10): the trained-codebook rewrite cuts the corpus and
    // codebook lineages once each (lazy localCheckpoints), so shared
    // subtrees stop being recounted per consumer; the Lloyd steps'
    // (cluster, dim) aggs sit behind the cut
    // one per-source rank window + the contracting source agg/sort
    "x84_source_gini" -> 2,
    // per-source + global score histograms, their cum windows, the
    // 9-row decile grid agg and final sort — histogram-sized throughout
    "x85_quantile_calibration" -> 5,
    // the flagship serving composite: x80's 5 sparse stages + x05b's
    // dense stages + the fusion outer join, rerank window, packing
    // window and final sort — everything after the retrievers is
    // <= 10 rows/query
    "w07_rag_funnel" -> 16,
    "w07b_rag_funnel_pq" -> 10,
    "x93c_funnel_pq_recall" -> 14,
    "x105_compaction_policy" -> 1,
    "x107_tiered_compaction" -> 1,
    "x108_leveled_compaction" -> 1,
    "x109_geometric_schedule" -> 1,
    "x110_snapshot_cdc" -> 1,
    "w13_cdc_dedup_sync" -> 1,
    "w12_online_funnel" -> 10,
    // w07's 18 audited stages + x05's truth slice + the per-query
    // eval join/agg over two <= 10-rows/query relations + final sort
    "x93_funnel_recall" -> 20,
    // three funnel configs over shared cut arms (truth, sparse, the
    // bucketed corpus): per config one fuse window + rerank window +
    // pack window + grade agg; the two dense arms add a pair census
    // and top-10 window each — everything candidate-list-sized
    "x93b_funnel_sweep" -> 22,
    // x04's capped-grain truth join + the library edges path (sig agg,
    // banded candidate join, verify joins) + the pair-keyed eval
    // full-outer + band agg/sort — two audited bounded plans composed
    "x94_dedup_eval" -> 10,
    // the nightly-shard flagship: sparse build+append stages + the
    // minhash incremental band/verify joins + the dense train/assign
    // aggs + 1-row family cards unioned — each leg its family's
    // audited plan over ONE shared shard definition.
    // 19 -> 32 (r10): the retraction legs landed (SparseIndex.delete's
    // touched-term split + re-truncation window + dl/df/stats re-aggs,
    // the minhash/dense anti-join censuses); the appended plist is cut
    // so its three consumers stop re-planning the append subtree
    // (43 -> 32); steady sf0.1 cost measured flat (5.6 s vs 5.5 r9).
    // 32 -> 43 (r10b): the FOURTH family landed — the shard through
    // PqIndex build(base)/append/delete with frozen base-trained books
    // (4 subspace Lloyd aggs + the code-census agg; the coarse/cells
    // subtrees stay lazy — the census reads codes only); steady 9.9 s
    // at sf0.1, the full four-family nightly
    "w08_nightly_ingest" -> 39, // r14: PQ base codes cut once (was 43)
    // x97's audited IVFPQ compose + one bounded candidate join per
    // refine config (3 configs share ONE ADC pass; each tail is
    // ≤ k'·EvalK rows keyed back to the vector relation) + the
    // per-config grade aggs
    "x104_pq_refine" -> 26,
    // the serve plan over the pq lifecycle's MATERIALIZED layout —
    // the nightly writes run eagerly before this plan exists (w09's
    // shape, dense family): row-local probes + the cluster-keyed scan
    // join + one top-k fold over parquet the compaction already folded
    "w10_pq_lifecycle" -> 4,
    // the serve plan over the minhash lifecycle's MATERIALIZED
    // layout: band-key candidate join + the two signature verify
    // joins over the parquet the compaction already folded
    "w11_minhash_lifecycle" -> 2,
    // the serve plan over the lifecycle's MATERIALIZED layout — the
    // nightly writes (init, 2 appends, policy-fired compaction, a
    // delete segment) run eagerly before this plan exists, so the
    // counted plan is one post-compaction snapshot view: base scans +
    // the delete's dirty-term re-truncation + x80's serve joins.
    // Flatter than x99's 17 BY CONSTRUCTION: compaction folded the
    // append segments into parquet the serve just scans
    "w09_segment_lifecycle" -> 5,
    // x05b's audited candidate plan + the two sliced-embedding joins,
    // the per-query rerank window and the final sort
    "x83_maxsim_rerank" -> 10,
    // x05's audited truth-slice plan + the in-degree count agg + the
    // distinct-query stats agg; the card itself is TakeOrdered
    "x86_hubness" -> 3,
    // x79's build stages on the base split + the delta assignment,
    // its (cluster, dim) mean aggs, occupancy aggs and card joins —
    // the monitor costs one scan of the data that just arrived
    "x87_centroid_drift" -> 15,
    // token tf agg + vocab df agg + the impact-truncation window (tok)
    // + doc-grain dl agg + the serve's one per-query top-k fold;
    // the candidate join itself rides the broadcast qterms side
    "x80_bm25" -> 3,
    // the build phase alone (x80 minus serve, SparseIndex.build): the
    // token tf agg + vocab df agg + the impact-truncation window (tok)
    // + the per-term census agg/sort; stats rides a 1-row broadcast
    "x88_sparse_index_build" -> 4,
    // the card plan is the K-row driver-side merge table + one sort;
    // the training rounds run eagerly behind per-round checkpoint cuts
    // (each round: word agg + pair agg + bounded per-word windows —
    // constant per round, released when superseded; BpeTrainSpec pins
    // the constant-depth property)
    "x89_bpe_train" -> 1,
    // x88's build stages on the base split + the delta's tf/df/dl
    // union aggs + the touched-term re-truncation window + the census
    // — the append theorem gated against the full-rebuild oracle
    "x92_sparse_index_append" -> 11,
    // full build stages (tf agg + df/dl/stats + truncation window) +
    // the delete's touched-term split and re-truncation window + the
    // census agg/sort; the deleted-doc tf and the 1-row stats ride
    // broadcasts
    "x96_index_delete" -> 10,
    // x96's build+delete stages + the rare-term query selection window
    // + the serve's candidate join and one per-query top-k fold
    "x98_delete_serve" -> 10,
    // base build + the append/delete segment derivations (df deltas,
    // doc lengths), the scoped tombstone anti-joins and telescoping
    // df sum of the LIVE VIEW, the dirty-term re-truncation window,
    // then x80's serve tail — structural count over one base + two
    // segments (23 → 17 when the dirty-term set gained its cut and
    // stopped re-inlining into every consumer; growth per segment is
    // LINEAR, pinned by SparseSegmentsSpec, and compact() resets it)
    "x99_segmented_serve" -> 11,
    // per-source prefix-sum window + the (source, shard) census agg
    // — packing is per-source streams, never one global ordering
    "x100_sequence_pack" -> 2,
    // per-word token census + the n_tokens-bucket agg + sort over the
    // trained (checkpointed) symbol relation; training cost as x89
    "x90_bpe_apply" -> 3,
    "x18_knn_ivf" -> 6,
    // the build phase alone (x18 minus serve): 2 Lloyd (cluster, dim)
    // mean aggs + the assignment window + the <= K-row card agg/sort
    "x79_ann_index_build" -> 4,
    "x19_quantize_error" -> 2,
    "x20_segment_dedup" -> 4,
    "x21_tombstone_cascade" -> 6,
    "x22_heavy_hitters" -> 2,
    "x23_tfidf" -> 7,
    "x24_stratified_sample" -> 2,
    "x25_incremental_dedup" -> 3,
    "x26_epoch_shuffle" -> 1,
    "x27_ngram_fluency" -> 3,
    "x28_snapshot_diff" -> 3,
    "x29_corpus_card" -> 5,
    "x30_temperature_mix" -> 2,
    "x31_vocab_oov" -> 5,
    "x32_substring_dedup" -> 7,
    "x33_semdedup" -> 10,
    // structural: the shared signBucketsCapped vecs lineage appears
    // once per consumer (q slice, train slice, and the left-join
    // spine), like x10/x33; runtime shuffles are far fewer
    "x55_semantic_decontam" -> 20,
    // one signature agg feeding both bandings via lazy cuts + one
    // (band, band_key) shuffle and one verify join per banding
    "x56_lsh_banding" -> 7,
    // shingle-key semi join + per-doc island window + final rollup
    "x57_contam_spans" -> 5,
    // 4 subspaces × (slice repartition behind a lazy cut + Lloyd mean
    // agg) + the 3 vec_id re-joins; every argmin is broadcast-side
    // 17 -> 5 (r9): the trained 8-row codebooks are cut, so the four
    // per-subspace Lloyd chains stop being recounted per consumer;
    // only the code-join and final sort exchanges remain visible
    "x58_pq_codes" -> 5,
    // 16 -> 33 (r10, ADVICE): the LUT and truth joins lost their
    // broadcast() pins because the query side GROWS with the corpus
    // (x05's rule) — statically they now plan as shuffle joins (4 LUT
    // joins + truth-slice + recall-denominator agg), and AQE converts
    // them back to broadcasts at runtime while the sides are genuinely
    // small (measured steady 3.4s at sf0.1 vs 4.9s hinted)
    "x95_pq_adc_serve" -> 33,
    // x18's cut IVF train + cell assignment + x58's cut PQ trainers +
    // the probe window, the cluster-keyed scan join (cut: census + ADC
    // ranking), 4 unhinted LUT joins, ADC/truth top-10 windows and the
    // card joins — two audited trainers composed, nothing all-pairs
    // except x05's documented truth slice.
    // 26 -> 37 (r10): x97 now composes the library (PqIndex.build/
    // serve — the gate covers the deployable module); serve's two
    // card consumers (top-k + scan census) re-plan the post-cut LUT
    // joins, which AQE broadcasts at runtime (steady 5.0 s at sf0.1;
    // an outer cut-on-cut was measured SLOWER, 9.7 s, and reverted).
    // 37 -> 33: serve is one scan (codebooks bound as literals, one
    // top-k fold) — no LUT joins, rank window or scan census join.
    "x97_ivfpq_serve" -> 33,
    // 3 groupBy-on-dst iteration shuffles + the top-20 sort + one
    // visible join-side exchange; the pairs-distinct and deg aggs sit
    // behind lazy cuts
    "x59_pagerank" -> 5,
    // three ANN paths behind lazy cuts (each top-10 relation computed
    // once) + the per-probe count/hit aggregations and rollup joins
    "x60_ann_recall" -> 10,
    // vocab agg behind a lazy cut; per-word windows + the two pair
    // aggs + bounded global top-10 windows
    "x61_bpe_merge" -> 4,
    // cascade stages behind lazy cuts: exact-key agg + semi join,
    // the NearDup funnel, the stage-3 bucket join + CC star dedup,
    // and the four 1-row card aggs
    "w06_dedup_cascade" -> 7,
    // anchor×corpus pass feeding two keyed argmax aggs + their join
    "x62_hard_negatives" -> 7,
    // assignment argmin agg + the per-cell quota window + the card
    "x63_diverse_sample" -> 3,
    // per-user clip window + (type, user) agg + the per-type card
    "x64_contribution_bound" -> 3,
    // per-doc scoring is row-local; one agg over the 10-bin domain
    "x65_score_calibration" -> 3,
    // per-source batching windows + (policy, source, batch) agg + card
    "x66_padding_waste" -> 3,
    // one agg to decile counts + the contracted 10-row cum window
    "x67_threshold_sweep" -> 3,
    // ONE shared union plan: 3 contracting keyed aggs + final sort —
    // not 3 × |candidate pairs| independent stages
    "q51_fd_discovery" -> 4,
    // doc-scale confusion build (join+agg+window), then ≤|langs|²-domain
    // marginal aggs and the 1×1 scalar combine
    "x68_annotator_agreement" -> 4,
    // one keyed per-lang agg + sort; subword fold is row-local
    "x69_tokenizer_fertility" -> 3,
    // per-source token agg; both windows run over the contracted
    // source domain
    "x70_quota_apportion" -> 2,
    // one checkpointed (source, h) distinct + sizes/sketch aggs, the
    // exact pair join (the thing the sketch replaces at scale), sort
    "x71_kmv_overlap" -> 6,
    // one token agg feeding the checkpointed exact relation, one
    // (row, bucket) counter agg; the probe/min/argmax stages ride the
    // broadcast 1,024-row matrix and TakeOrdered — no further exchange
    "x72_cms_frequency" -> 2,
    // checkpointed scan + class rollup hide their exchanges behind
    // the cuts; the registry distinct and final sort remain
    "x76_license_gate" -> 2,
    // three metadata scans union into one 3-row rollup, grand-total
    // scalar, final sort
    "m07_modality_mix" -> 4,
    // x05b's retriever subplan (10) — the token join rides broadcast
    // and the budget window reuses the retriever's q_id partitioning
    "x75_context_budget" -> 10,
    // customer⋈orders keyed join (2), QI-class agg, segment rollup;
    // countDistinct's expand is bounded by the 5-value domain
    "q53_l_diversity" -> 4,
    // the two retriever subplans verbatim (x05 = 4, x05b = 10) plus
    // the keyed full-outer fusion join's two exchanges; the pick
    // window reuses the fusion partitioning
    "x73_rrf_fusion" -> 16,
    // shard-digest agg is checkpointed (one corpus scan for both
    // consumers); root fold + final sort remain
    "x74_merkle_manifest" -> 2,
    // both snapshots' digest aggs are checkpointed 16-row manifests;
    // the keyed diff join + root fold + sort ride those
    "x78_manifest_diff" -> 2,
    // orders spend agg + keyed join, the two per-segment rank windows
    // share one partitioning, contracting segment agg + sort
    "q55_spearman" -> 3,
    // daily (type, day) contraction, the per-type window pass (pick
    // window reuses its partitioning), final sort
    "q52_changepoint" -> 3,
    // q52's contraction + one per-type window pass (ref/prefix/min/
    // max share the partitioning), final sort
    "st09_cusum_monitor" -> 3,
    // file-inventory agg, per-source planning window + bin agg
    // (shared partitioning), final sort
    "x77_compaction_plan" -> 4,
    // urgent-custkey distinct + keyed join, customer-grain decile
    // window/agg (per-segment), 50-row cum windows + sort
    "q54_decile_lift" -> 3,
    "x34_token_budget_mix" -> 2,
    "x35_cdc_chunks" -> 2,
    "x36_weighted_sample" -> 3,
    "x37_containment" -> 5,
    "x38_template_prefixes" -> 3,
    "x39_centroid_profile" -> 6,
    "x40_dedup_best" -> 2,
    "x41_split_leakage" -> 2,
    "x42_lang_mismatch" -> 7,
    "x43_shard_balance" -> 2,
    "x44_ngram_decontam" -> 9,
    "x48_ngram_novelty" -> 6,
    "x49_source_overlap" -> 4,
    "x50_group_split" -> 10,
    "x45_chunk_overlap" -> 1,
    "x46_label_noise" -> 4,
    "x47_kmeans_step" -> 3
  )

  test("every query plans exactly its audited shuffle-exchange count") {
    val drift = SparkEntry.defs.flatMap { q =>
      val n = ShuffleCount.shuffles(
        q.run(spark, sf).queryExecution.executedPlan.toString)
      baseline.get(q.name) match {
        case Some(b) if b == n => None
        case Some(b) => Some(s"${q.name}: audited $b, now $n")
        case None => Some(s"${q.name}: not in baseline (add it)")
      }
    }
    assert(drift.isEmpty,
      "shuffle-count drift (regenerate via runMain graft.ShuffleCount " +
        "after auditing):\n" + drift.mkString("\n"))
  }
}
