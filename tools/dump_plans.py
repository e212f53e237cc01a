"""Render the physical plans of the headline queries to PLANS.md.

Usage: python3 tools/dump_plans.py [sf_dir]

The point is reviewable evidence of plan quality at scale: pushed
filters, pruned read schemas, broadcast vs shuffle joins, partial
aggregation, codegen spans. Re-run after any operator change and diff.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from helium_etl_lite_spark import registry
from helium_etl_lite_spark.plans.explain_tools import formatted_plan
from helium_etl_lite_spark.session import get_spark

HEADLINE_NOTES = {
    "scan_predicate_pushdown": "filter must appear in PushedFilters; ReadSchema is 4 columns",
    "join_multiway_star": "nation/region broadcast; one shuffle chain on orderkey→custkey; partial agg",
    "join_sortmerge_large": "two large sides → SortMergeJoin, no broadcast of a fact",
    "join_skew_salted": "join key is (okey, __salt): the hot-key spread",
    "join_range_binned": "equi-join on __bin + residual BETWEEN filter — no BroadcastNestedLoopJoin",
    "agg_groupby_hash": "HashAggregate partial → Exchange → final",
    "agg_count_distinct": "two-phase distinct expansion",
    "win_row_number_topk_per_group": "single Exchange+Sort feeding the window",
    "join_asof_event_order": "union of both sides + one sort per key + carry-forward window — no join node at all",
    "stream_session_window": "session window aggregation",
    "text_dedup_minhash": "row-local signatures (array_min/transform, NO token shuffle) → band explode → bucket window + keeper agg: 2 exchanges total",
    "vec_ann_lsh": "multi-table bucket equi-join (broadcast query side) → dedup → score → per-query top-k window; no BNLJ",
    "vec_knn_cosine": "queries broadcast; scan side stays shuffle-free until per-query top-k",
    "vec_dedup_cosine": "block-pair grouping → ONE Exchange → FlatMapGroupsInPandas numpy kernel; no join node, no BNLJ/CartesianProduct",
    "sample_balance_buckets": "distributed ntile: no SinglePartition exchange anywhere; window partitioned by (n_chars, rb)",
    "multimodal_decode_stub": "PPM encode + decode kernels as two narrow mapInPandas stages, no KEY shuffle (plus the r11 tiny-input round-robin fan-out, absent at production split counts)",
    "pipeline_corpus_curation": "fused scan→filter→hash-window→agg in one plan",
    "pipeline_web_curation": "the C4 front-end fused: url gate + pii plant + html wrap/extract + redact + length gate as ONE row-local codegen span; the ONLY Exchange is the content-md5 hash agg",
    "text_ccnet_perplexity_buckets": "unigram scorer (two hash aggs + unhinted vocab join; token total from the persisted vocab, r13 — no eager second corpus pass) -> grouped_ntile control plane: (lang, nll-bin) windows, bounded offsets — no bare-lang partition, no SinglePartition",
    "stream_stream_interval_join": "hash join on user_id + interval residual — the stream-stream join shape, no BNLJ",
    "text_repetition_stats": "three doc_id-keyed two-phase hash aggs + per-doc window; no global exchange",
    "sample_stratified": "LCG membership filter pushed into the scan; no shuffle, no RNG",
    "text_ngram_topk": "transform-built bigrams → two-phase hash agg → TakeOrderedAndProject (no global sort)",
    "text_perplexity_unigram": "vocab hash agg broadcast back to the token stream; token total = 1-row agg over the PERSISTED vocab riding a broadcast crossJoin (r13: the eager tok.count() second corpus pass is gone; InMemoryTableScan feeds both the join and the total); per-doc agg is the only big shuffle",
    "vec_quantize_int8": "pure projection of array higher-order fns: zero Exchange, one codegen span",
    "feature_user_activity": "one hash agg on user_id; conditional counts fused; distinct-days expand",
    "text_dedup_keep_longest": "single Exchange on text_hash feeding window + filter",
    # r4 queries (r4 verdict item 3)
    "pack_sequence_bins": "two-level control-plane prefix sum: NO SinglePartition Exchange anywhere; driver holds superbucket rows only; bucket offsets join rides the bucket-id shuffle (AQE may broadcast when small)",
    "ts_gapfill_locf": "grid sequence+explode after spans agg; LOCF window reuses the user_id Exchange — 2 shuffles total, no SinglePartition",
    "ts_interpolate_linear": "backward+forward windows share the same user_id Exchange as the grid join — 2 shuffles, no SinglePartition",
    "ts_resample_ohlc": "ONE (user_id, hr) Exchange: open/close row_number window + OHLC hash agg share it",
    "scd2_intervals": "both window passes (lag run-starts, lead valid_to) ride ONE user_id Exchange",
    "anomaly_zscore": "one 5-group hash agg broadcast back to the row stream; no window, one shuffle",
    "retention_cohort": "NO forced broadcast of the per-user firsts table (r4 fix); join rides the user_id agg exchanges; AQE may still broadcast small runs",
    "funnel_conversion": "NO forced broadcast of per-user stage tables (r4 fix); SinglePartition only in the three 1-row global counts",
    "text_contamination_ngram": "distinct shingles both sides + one equi-join on the shingle — no nested loop, <=3 shuffles",
    "sink_partitioned_prune": "PartitionFilters on event_type at the read-back scan: zero non-matching directories touched",
    "sink_compact_files": "compaction read-back is a bare scan: no Exchange, no filter",
    "source_orc_roundtrip": "ORC read-back is a bare columnar scan, no Exchange",
    "agg_string_listagg": "two-phase hash agg (partial_ before the Exchange) with array_sort+concat at final — one shuffle",
    "agg_mode_deterministic": "count-per-value agg then per-group max window/agg — two shuffles, no global sort",
    # r5 queries
    "sample_token_budget": "two-level control-plane running total in (score DESC, id) order: NO SinglePartition anywhere; bounded (score, id-bucket) windows",
    "vec_dedup_semantic": "cluster-then-pair: sqrt(N) clusters, numpy assignment in a narrow mapInPandas (no shuffle), sub-blocked in-cluster pair kernel — ONE applyInPandas exchange, no BNLJ/CartesianProduct",
    "source_schema_evolution": "mergeSchema read-back is a bare union-schema scan, no Exchange",
    "sample_reservoir_per_group": "salted-sha256 rank via grouped_row_number: (lang, hash-prefix-bucket) windows + bounded offset control plane — no bare-lang partition, no RNG, no SinglePartition",
    "text_dedup_minhash_incremental": "probe = (band,bucket) equi-join vs one snapshot read of the state, semi-joined against the broadcast batch keys; no BNLJ; fold-in commits one O(batch) fragment under the batch id",
    # r6 queries
    "join_theta_range": "band rides the __bin equi-key (r5 fix): no forced part broadcast, no BNLJ",
    "text_fuzzy_levenshtein": "vocab self-join on the (first_char, length-band) equi-key (b side explodes 5 offsets), NO broadcast hint; AQE may broadcast a measured-small vocab",
    "sample_mixture_interleave": "group-count control table + grouped_row_number rank ((lang, hash-prefix) windows, bounded offsets) + O(output) explode; no bare-lang partition, no SinglePartition",
    "sample_token_budget_bpe": "BPE encode is a narrow mapInPandas (no shuffle); selection reuses the two-level control plane",
    "sample_importance_weighted": "pure filter: ZERO Exchange, one codegen span — the sampler never reshuffles the corpus",
    "text_paragraph_dedup": "row-local span construction (no token explode-shuffle); two Exchanges: first-occurrence window on xxhash64(span) (8-byte keys) + doc_id reassembly",
    "merge_upsert_scd1": "full-outer on the key with NO hint; AQE picks the strategy; one shuffle per side",
    "win_ntile": "grouped_ntile control plane: (segment, acctbal-bin) windows + bounded counts-table offsets + per-group totals — no bare-segment partition",
    "scd2_point_in_time": "both windows + PIT filter share ONE user_id Exchange",
    "sink_bucketed_colocated_join": "bucketed layout both sides: SortMergeJoin AND per-order agg with ZERO Exchange (the agg rides the bucket distribution)",
    "join_asof_tolerance": "band-bounded pairwise as-of: equi-join on user_id carries the plan (no BNLJ); per-event top-1 window",
    "dedup_containment": "lang-blocked directed pairs; array_intersect/size codegen'd; exact-by-contract quadratic per block",
    "multimodal_phash_dedup": "encode+dhash as narrow mapInPandas stages + ONE hash agg on the 64-bit key; no KEY shuffle (r11 tiny-input round-robin fan-out excepted, absent at production split counts)",
    "dedup_cluster_stats": "closure (iterative join+agg) then two bounded aggs: component sizes -> size histogram",
    "corpus_stats_report": "one GROUPING SETS pass: single Expand + one shuffle for all three granularities",
    "agg_histogram_width_bucket": "row-side bucket key -> two-phase hash agg; no sort",
    "text_gopher_quality_filter": "row-local higher-order array fns: zero Exchange, one codegen span",
    "vec_ann_pq": "encode + ADC as narrow mapInPandas (codebooks/tables in closure); only Exchange is the per-query top-k window",
    "vec_ann_ivfpq": "encoded corpus joined against BROADCAST probe table on list_id (partition pruning at scale); ADC map; top-k window",
    "vec_triplet_mining": "per-anchor hardest-negative/positive via two bucket-blocked joins + top-1 windows; no cross join",
    "report_pricing_summary": "Q1: shipdate in PushedFilters, two-phase agg, ONE Exchange moving 6 rows/partial",
    "report_shipping_priority": "Q3: segment+both date filters at the scans; filtered customer side AQE-broadcasts; TakeOrderedAndProject top-10",
    "report_local_supplier_volume": "Q5: nation/region broadcast (fixed-cardinality); supplier unhinted; local-supplier residual rides the equi-joins; no BNLJ",
    "report_large_orders": "Q18: HAVING pre-agg and semi-join probe share the l_orderkey key chain; AQE broadcasts the >350 key set",
    "report_returned_items": "Q10: returnflag+date window pushed; nation broadcast; TakeOrderedAndProject top-20",
    "report_order_priority": "Q4: EXISTS as left-semi with the lateness residual on the l_orderkey equi-key; date window pushed",
    "vec_pca_project": "one-pass covariance via mapInPandas moments; projection is a narrow broadcast-matmul map — zero data shuffles",
    "report_market_share": "Q8: share = conditional sums in ONE two-phase agg; nation/region broadcast; no second pass",
    "report_volume_shipping": "Q7: nation broadcast twice under different roles; direction disjunction as residual; date window pushed",
    "report_dormant_accounts": "Q22: scalar AVG broadcast 1-row agg; NOT EXISTS as LeftAnti hash join; date filter pushed",
    "report_customer_distribution": "Q13: LEFT join keeps zero-order customers; custkey then c_count shuffles; priority filter pushed",
    "report_promo_revenue": "Q14: promo share as conditional sums in ONE global agg; date filter pushed",
    "report_small_quantity_revenue": "Q17: correlated AVG as a per-partkey pre-agg riding the equi-key; no per-row rescan",
    "report_discounted_revenue": "Q19: OR-of-ANDs post-join; Catalyst-derived single-side bounds pushed to both scans",
    "report_top_supplier": "Q15: scalar max as broadcast 1-row agg (NO supplier-wide window); rev branch plans twice, both scans filtered",
    "pipeline_pretraining_select": "five curation stages fused: gopher+scoring in codegen, dedup window + shingle join + budget control plane are the only exchanges; no SinglePartition, no BNLJ",
    "sink_snapshot_time_travel": "both versions read straight from manifest-listed dirs; one union + two 1-row aggs",
    "source_python_datasource": "BatchScan over the registered Python data source, one InputPartition per file",
    "agg_hll_sketch_union": "two-phase sketch agg then 1-row union agg — sketches merge, facts scan once",
    "text_chunk_split": "row-local sequence/filter/slice explode: ZERO Exchange at any corpus size",
    "text_quality_classifier_hashed": "hashing-trick classifier as one codegen projection: zero Exchange, integer-exact score sum",
    "udtf_python_native": "Python UDTF BatchEvalPythonUDTF over the exploded rows; no shuffle added by the UDTF itself",
    "dedup_containment_screened": "LSH band-bucket equi-join screen bounds the exact containment verifier; no all-pairs block join",
    "sink_snapshot_changes": "manifest diff driver-side; only churned partition dirs scanned; exceptAll both ways on hash-partitioned rows",
    "report_product_profit": "Q9: part LIKE filter pushed pre-join, nation broadcast, integer-cents partial agg through the star",
    "report_priority_shipping": "Q12: date window pushed to lineitem scan; conditional integer counts in one two-phase agg",
    "report_waiting_suppliers": "Q21: correlated EXISTS/NOT EXISTS as LeftSemi/LeftAnti on the l_orderkey equi-key, suppkey inequality residual; no BNLJ",
    "report_parts_supplier_count": "Q16: NOT IN as LeftAnti (no hint), part filters pushed, two-phase COUNT DISTINCT expand",
    "multimodal_png_decode": "narrow Arrow mapInPandas PNG encode+decode (zlib inflate + scanline unfilter); no KEY Exchange (plus the r11 tiny-input round-robin fan-out, absent at production split counts)",
    "graph_pagerank_topk": "per-iteration: src equi-join + dst hash agg + 1-row dangling agg; lineage checkpointed; TakeOrdered top-k",
    "pipeline_pretraining_select_bpe": "flagship stages 1-4 shared; BPE top-V control table + narrow encode map + budget control plane",
    "sample_mixture_temperature": "corpus-derived n^0.5 quotas (bounded control table) + grouped_row_number rank; no bare-lang window",
    "join_interval_overlap": "interval-interval overlap as __bin equi-join + claiming-bin dedup; no BNLJ, no distinct shuffle",
    "agg_count_min_sketch": "sketch = (row,col,count) hash agg; probe joins cells + MIN over rows; md5 addressing engine-identical",
    "vec_ann_pq_rerank": "ADC shortlist (bounded) joins true vectors; exact zip_with re-score; per-query top-k window",
    "dq_expectations_report": "every per-row rule folds into ONE scan + one two-phase agg per table (plan-tested single scan)",
    "multimodal_jpeg_decode": "narrow Arrow mapInPandas JPEG encode+decode (Huffman entropy + IDCT); no KEY Exchange (plus the r11 tiny-input round-robin fan-out, absent at production split counts)",
    "sink_snapshot_changes_apply": "(base UNION inserts) EXCEPT ALL deletes — hash-partitioned multiset apply, no driver materialization",
    "sample_split_train_test": "md5 bucket mod 100: one codegen projection, zero Exchange, membership exact vs oracle",
    # r8 queries
    "report_forecast_revenue": "Q6: all three predicates in PushedFilters, one 1-row two-phase agg — no Exchange moves data rows",
    "report_min_cost_supplier": "Q2: region/nation broadcast; correlated MIN as a p_partkey window over the filtered candidates, no per-row rescan",
    "report_important_stock": "Q11: scalar total = 1-row agg of the part sums, broadcast back; share test all-BIGINT; nation broadcast",
    "report_excess_inventory": "Q20: nested INs as LeftSemi chain (part list AQE-broadcasts); conditional sums one hash agg; nation broadcast",
    "text_span_dedup_overlap": "row-local stride-10 span hashes (no token explode); two Exchanges: xxhash64(span) first-occurrence window + doc_id dup-start fold; token filter row-local",
    "multimodal_phash_neardup": "dhash narrow mapInPandas; band explode + per-(band,value) min agg + per-doc min agg + verify join — no within-bucket pair materialization",
    "text_fingerprint_winnow": "row-local gram keys; ONE doc_id Exchange shared by rolling-min window and final agg",
    "text_dedup_winnow": "fingerprint sets equi-join on fp_hash + pair hash agg; no cross product",
    "agg_bloom_filter_probe": "bloom build = explode(3)+bit_or two-phase agg (8 rows out); probe joins the BROADCAST 8-word sketch; counts are 1-row aggs",
    "stream_cdc_mirror": "mirror read-back after two follow_changes calls is a bare parquet scan of the manifest's fragments — the apply work happened inside the calls, idempotent by the manifest's source-version cursor",
    "text_dedup_minhash_portable": "same linear LSH dataflow as production (row-local sigs, (band,bucket) window min, per-doc min, verify-keeper-only) with portable hashes — no all-pairs join",
    "agg_hll_sketch_portable": "register build = two-phase MAX hash agg on 64 buckets (map-side combinable); split/merge and one-pass branches both end in 1-row checksum aggs",
    "text_dedup_simhash_portable": "token explode + 32 conditional sums in ONE two-phase agg; 4-row band explode + two MIN aggs + 1:1 verify join — no pair join anywhere",
    "join_asof_nearest": "user_id equi-join with the tolerance residual (stream-stream interval shape) + ONE top-1 window per probe — no BNLJ",
    "graph_triangle_count": "degree-ordered orientation: wedge self-join and closure are equi-joins with residuals, O(m^1.5) — no BNLJ/cartesian even on hub nodes",
    "join_bloom_pruned": "1-row bloom map broadcast-cross into the fact scan (row-local bit tests), fact exchange carries only sketch survivors; build agg is two-phase bit_or",
    "sink_zorder_cluster": "min-max-scaled Morton interleave → repartitionByRange + sortWithinPartitions: every file a bounded box on BOTH keys (footer-stats skipping on either predicate)",
    "er_sorted_neighborhood": "candidates from lead(k) windows after ONE sort — zero Join nodes; never the quadratic block self-join",
    "vec_ann_bitsample_portable": "row-local comparison signature → explode(4) band equi-join → hamming window; all-integer, no FP after the scan",
    "graph_kcore_peel": "DELTA peel (r9): full degrees once, then per round ONE equi-join of sym against only the newly-dead ids + a frontier-sized hash agg — each edge touched at most twice across ALL rounds; node-sized degree table checkpointed every round (collapses the dead/survivor branch duplication); no BNLJ",
    "text_bm25_topk": "one explode, three hash aggs, token vocab join, 1-row stats broadcast-cross, TakeOrderedAndProject top-k — no global sort",
    "multimodal_wav_decode": "two narrow Arrow mapInPandas kernels (RIFF encode, RIFF parse) over the documents scan — no KEY Exchange (plus the r11 tiny-input round-robin fan-out, absent at production split counts)",
    "join_lateral_topk": "LATERAL ORDER BY+LIMIT decorrelated to hash join + Window with map-side WindowGroupLimit pruning — never a per-row subquery re-scan",
    "agg_bitmap_distinct": "per-(group, id-bucket) bitmap_construct_agg with map-side partial merge-by-OR, then a bounded per-group SUM — no raw-pair distinct reshuffle",
    "agg_bitmap_setops": "two hash aggs (per-period bitmaps, OR-merge) + bucket SUM — retention by inclusion-exclusion over merged bitmaps, facts scanned once",
    "vec_kmeans_portable": "integer Lloyd rounds are driver-side over a bounded sample; the full-corpus assign is ONE broadcast-centroid row-local map + hash agg",
    "vec_ann_ivf_portable": "integer codebook broadcast; list build and probe are equi-joins on list id — inverted-list ANN with zero FP in the plan",
    "sink_file_skipping_index": "footer min/max stats read driver-side (metadata only); file pruning BEFORE the scan so the plan reads only overlapping files",
    "agg_quantile_sketch_portable": "1-row bounds glue + two map-side-combinable hash aggs; windows only over the <=32-row bin table — sketch merge is a bin-key SUM",
    "view_incremental_join_refresh": "delta-rule IVM: three O(|Δ|) equi-joins appended to the materialized store — the base join is built once and never recomputed on refresh",
    "sink_bloom_skipping_index": "one distributed bit_or pass builds per-file blooms; probe = 30-row broadcast vs the index; the data read is a pruned explicit file list",
    "pipeline_incremental_curation": "per cycle (curate_changes_batch): row-local gopher gate + broadcast-fingerprint dedup probe (state never shuffles) + ONE commit of curated rows AND state — feed-bounded work, CDC read is O(churn); the read-back is a bare parquet scan of the curated fragments",
    "text_dedup_source_priority": "keeper choice AND copy count ride ONE window exchange on the 32-byte content hash — high-cardinality partitions, no skew risk",
    "vec_knn_classify": "cosine_topk's bounded query broadcast + one tiny vote hash agg + top-1 window on q_id — classification adds no new shuffle shape",
    "table_analyze_stats": "every column's count/nulls/NDV/min/max in ONE scan (EXPAND + partial agg); 1-row result exploded to per-column rows driver-free",
    "table_diff_audit": "one full-outer join on the key + row-local bucket CASE + hash agg — never two full-width exceptAll shuffles",
    "vec_ann_pq_portable": "4 subspace codebooks broadcast; codes = N*4 narrow rows; ADC = broadcast LUT join + partial-aggregable (q,vec) SUM — no cross join",
    "graph_pagerank_portable": "per round ONE src equi-join + ONE dst hash agg on BIGINT mass — the float twin's plan economics with zero FP anywhere",
    "vec_ann_ivfpq_portable": "coarse+PQ codebooks broadcast; ADC candidates from the (list,m,code) equi-join (probed fraction only); rerank joins a 50-id bounded shortlist",
    "stream_incremental_curation": "follow_changes over read_changes; per call: row-local gate + dedup_filter_new's broadcast-fingerprint probe vs the store's state table + ONE atomic version publish carrying data, dedup state AND the source version; the read-back is a bare parquet scan",
    "agg_quantile_sketch_grouped": "two map-side-combinable hash aggs (per-group bounds, (group,bin) counts); windows partition per group over <=32-row bin tables — bounded control plane",
    "join_spatial_grid": "radius predicate rides the (cx, cy) cell equi-join (probe side explodes 3x3 neighborhood, build side home-cell only — pairs meet exactly once, no distinct); integer residual filter; no BNLJ/Cartesian",
    "ts_ewma_portable": "recurrence folds row-local inside aggregate() after ONE ObjectHashAggregate collect per user — no Python node, no extra shuffle; the window-inexpressible dependency class",
    "graph_reachability_recursive": "WITH RECURSIVE lowers to UnionLoop — the engine's own fixpoint iteration; each level one equi-join frontier expansion against the ONCE-materialized (checkpointed) edge view (r9: the inline edge subquery was re-derived per level), no BNLJ",
    "agg_grid_hotspot": "raster hash agg (output = occupied cells) then 3x3 stencil by scatter-gather: row-local 9-way explode + ONE map-side-combinable gather agg + equi-join back — no band-condition self-join, no BNLJ",
    "merge_upsert_scd2": "all four SCD2 action arms ride ONE full-outer join + row-local explode (2 dimension scans total) — never the 4-scan union the oracle states",
    "ts_event_transitions": "one user_id Exchange for the lag window, one map-side-combinable pair agg; the totals window partitions a #types^2-row control table, never the fact stream",
    "agg_chi_square_independence": "ONE fact-stream hash agg to contingency cells; margins and chi terms all ride windows over the #types*2-row control table",
    "agg_ks_drift_binned": "ONE fact-stream hash agg to 64 bins; cumulative CDFs + max-diff ride windows over the <=64-row bin table — the binned KS that avoids the pooled-sort SinglePartition",
    "dq_referential_integrity": "each child table scanned ONCE for all its FK edges (lineitem's three parent-key left joins fused into one pass, one agg, row-local unpivot); parent key sets distinct-projected and broadcast — no fact shuffle per edge",
    # r8 seventh session
    "vec_ann_lsh_portable": "row-local 16-bit sign signature (one codegen span, no FP), explode(4) band rows, band equi-join + distinct on bounded id pairs, NQ-row query broadcast for the integer rerank, one per-query window — no BNLJ",
    "vec_dedup_semantic_portable": "K-row codebook broadcast for assignment; pair work ONLY inside a centroid_id equi-join (cluster-bounded quadratic); BIGINT cross-multiplied cosine filter (no sqrt/div); one hash agg",
    "vec_pca_portable": "N*d explode + 4096-group Gram hash agg (map-side partials); 64-row matvec frames broadcast per round; scalars via 1-row broadcast crossJoins — zero collects, no SinglePartition on data",
    "text_bpe_train_portable": "corpus scanned ONCE for word counts; every training round runs on the 200-row shortlist with 1-row broadcast argmax joins — loop cost independent of N",
    "sample_token_budget_bpe_portable": "trainer rounds on the 200-row shortlist; vocabulary (distinct words) encoded once via 6 broadcast merge applications; budget walk = select_token_budget control plane, no global window",
    "dedup_containment_screened_portable": "band screen equi-join quadratic only inside <=cap buckets; over-cap buckets route 2n member<->min pairs; verify joins ride the candidate pair ids — same plan shape as the production screened form",
    "sample_quota_waterfill": "two corpus scans (bucket counts; per-bucket ranking window on natural keys); all waterfill algebra on #buckets-row frames with 1-row broadcast scalars",
    "pack_concat_chunk": "row-local token counts -> two-level prefix-sum control plane (no partition-less window) -> sequence-explode to overlapped chunks -> ONE map-side-combinable hash agg",
    "text_inverted_index": "one tokenize pass, two-phase stats agg, postings agg gated by the bounded keep set join; collect_set bounded by the df cap",
    "text_inverted_index_incremental": "two disjoint segment scans -> per-segment hash aggs -> ONE token-keyed merge agg; df band post-merge only",
    "join_spatial_knn_grid": "9-cell neighborhood explode on the bounded query side only -> cell equi-join -> integer distance filter -> per-query top-k window; no BNLJ/Cartesian",
    "vec_ann_lsh_multiprobe_portable": "query side explodes 20 probe rows (5 per band), corpus band table unchanged; same equi-join + distinct + bounded rerank as the exact-band form",
    # r9
    "text_dedup_substring_anchor": "winnow gram keys row-local (ONE doc_id exchange for the rolling-min window); anchor positions fold to one array row per doc before the text join (no text replication per anchor); span hashes row-local slice+md5; one window exchange on the span hash; token filter row-local — no BNLJ, no token explode carrying text",
    "retrieval_rrf_hybrid": "BM25 arm ends in TakeOrderedAndProject(20); dense arm = 1-row query broadcast + per-q_id window; fusion full-outer join on two <=20-row sides; rank windows partition 20-row inputs — bounded by construction",
    "text_contamination_substring": "one shared anchored-span build (one doc_id exchange + row-local spans) split into bench/corpus arms; probe = LEFT SEMI on the span hash against the DISTINCT bench set (AQE broadcasts the small eval side) + one hash agg — no BNLJ",
    "text_dedup_substring_anchor_incremental": "batch span table checkpointed once; one snapshot read of the state semi-joined against the BROADCAST batch-hash probe (state never shuffles); within-batch window on the span hash; token filter row-local",
    "agg_kmv_theta_sketch_portable": "one scan feeding both set filters, one (sid, hash) distinct, per-set k-smallest via ranked window with MAP-SIDE WindowGroupLimit pruning; union/intersection algebra on two 64-element arrays in a 1-row broadcast-scalar frame",
    "sample_weighted_reservoir": "one scan, row-local E-S key, TakeOrderedAndProject top-50 (never a global sort); rank window on the bounded result",
    "stream_substring_dedup": "follow_changes over read_changes; per call: span-table build + broadcast probe vs the published span set + ONE atomic version publish carrying data, spans AND the source version; the read-back is a bare parquet scan",
    "agg_kmv_theta_anotb_portable": "same sketch build as the union/intersection query (map-side-pruned per-set k-smallest); difference algebra = one list_filter over two 64-element arrays in a 1-row frame",
    # r10 additions
    "text_quality_classifier_train": "six gradient epochs: per-doc logit agg + per-bucket gradient agg per epoch, weight table BROADCAST both directions; feature table checkpointed once (cached design matrix) — no SinglePartition, no driver-side matrix",
    "text_tokenize_unigram_lm": "two train passes (explode+hash agg+top-V each); unigram E-step = narrow mapInPandas over the bounded word table; both encoders narrow mapInPandas; final projection shuffle-free",
    "sample_token_budget_unigram": "unigram encode = narrow mapInPandas; selection reuses the two-level control-plane running total — no global sort",
    "sink_snapshot_changes_updates": "manifest-pruned O(churn) diff; update pairing = one intersect + four semi/anti joins on the bounded diff keys",
    "dedup_cluster_components_star": "per phase: groupBy-min + join-back (large-star), reorient + groupBy-min + join-back (small-star); lineage truncated per phase; NO broadcast in the loop (the min-label twin's 10x OOM)",
    "multimodal_audio_spectrogram": "two narrow Arrow kernels (encode WAV, decode+integer DFT); only exchange is the r11 tiny-input round-robin fan-out (absent at production split counts) — no KEY shuffle",
    "stream_cdc_mirror_keyed": "follow_changes keyed apply: the feed's blocks are the snapshot commit's claim, replaced by its insert/postimage rows; the read-back is a bare parquet scan of the manifest's fragments",
    "text_tokenize_unigram_portable": "explode + distinct to the bounded word table, narrow mapInPandas integer Viterbi, broadcast join back, one hash agg",
    "text_quality_classifier_eval": "trainer plan + one pushed doc_id%10 filter on the gradient branches; held-out confusion = single agg over the scored complement",
    "multimodal_audio_fingerprint": "narrow Arrow kernel (decode + integer DFT + sign-delta bits), no KEY shuffle (plus the r11 tiny-input round-robin fan-out, absent at production split counts)",
    "multimodal_audio_neardup": "pigeonhole bands -> (band, value) equi-join candidates -> exact bit_count(xor) verify; no all-pairs, no BNLJ",
    "text_html_extract": "wrap + extract is ONE row-local projection (split + nested array lambdas): zero Exchange",
    "text_perplexity_bigram": "row-local bigram transform (no lag window); LM = two vocab-scaled hash aggs; unhinted word-key joins (AQE broadcasts while small); per-doc agg",
    "text_tokenize_wordpiece": "word-TYPE tokenization: greedy walk is a row-local higher-order aggregate over the per-word step map — no recursion node, no SinglePartition; occurrences priced by one equi-join",
    "multimodal_pair_dedup": "encode+dhash narrow kernels; EXACT phash grouping first (one hash agg), band near-dup over distinct-hash REPRESENTATIVES only (shrunken banded equi-join); then one (cluster, caption-hash) agg + a caption-diversity-bounded window; no BNLJ, no cartesian",
    "url_canonicalize": "wrap + parse + canonicalize as ONE row-local regex/string projection: ZERO Exchange, one codegen span",
    "url_host_stats": "row-local host/canonical/tracking derivation -> one two-phase hash agg on the host (count-distinct rides the same key)",
    "url_blocklist_filter": "literal blocklist compiles to a row-local boolean: no join node of any kind, ZERO Exchange",
    "url_dedup_canonical": "row-local canonicalization -> ONE hash agg on the canonical string (at 100 TB: on xxhash64(canonical))",
    "text_pii_redact": "plant + count + chained regex replacement as ONE row-local projection: ZERO Exchange, one codegen span",
    "corpus_shard_manifest": "row-local 64->31-bit avalanche key (r12: two multiply/xor-shift rounds, shard from HIGH bits — the degenerate single Knuth multiply is gone), shard = (h>>27) % 16 (hash partition, never a sort); the only window partitions BY shard; no SinglePartition",
    "vec_contamination_semantic": "DELIBERATE BroadcastNestedLoopJoin (bounded eval side broadcast, BuildRight) + map-side partial_max: the corpus is never key-shuffled",
    "text_blocklist_filter": "array_intersect vs a literal list: ONE row-local projection, zero Exchange",
    "text_repetition_scrub": "run-length token dedup + md5 of the scrubbed reassembly: ONE row-local projection, zero Exchange",
    "vec_dedup_semantic_incremental": "banded hyperplane-LSH bucket equi-joins + true-cosine verify; state probe = one snapshot read semi-joined against broadcast bucket keys, no BNLJ",
    "multimodal_video_frames": "two narrow Arrow kernels (AVI encode, chunk-walk decode + frame explode); only the tiny-input round-robin fan-out, no KEY shuffle",
    "multimodal_video_neardup": "per-frame dHash kernel -> pigeonhole band equi-join -> keeper hash aggs; no all-pairs, no BNLJ",
    "multimodal_video_keyframes": "two narrow Arrow kernels (AVI encode, intra-payload temporal delta); only the tiny-input round-robin fan-out, no KEY shuffle",
    "multimodal_pair_dedup_portable": "the pair_keeper_policy code path alone over integer ids: ONE (cluster, caption) hash agg with map-side partials + a caption-diversity-bounded window; no kernels, no joins",
    "text_dsir_importance": "one tokenize+explode pass -> ONE bucket hash agg carrying raw AND target counts together; totals = 1-row agg over the persisted bucket table via broadcast crossJoin; log-ratio table bounded at 65536 rows -> TRUE broadcast join back; corpus shuffles only on doc_id",
    "sample_dsir_token_budget": "DSIR scorer plan + select_token_budget's two-level control plane for the running total — no partition-less SUM OVER (ORDER BY score) global sort",
    "text_perplexity_kneser_ney": "row-local bigram extraction; ONE persisted bigram table feeds count join, context agg, continuation agg AND the 1-row totals broadcast crossJoin (no re-tokenize per statistic); unhinted LM joins (AQE broadcasts while small); per-doc agg is the only corpus shuffle",
    "url_dedup_canonical_incremental": "two-batch recrawl loop: row-local canonicalization, state probe = broadcast fingerprint semi-join (state parquet never shuffles), fold-in = one O(batch) fragment under the batch id; normalize=False keeps canonical paths case-sensitive",
    "stream_url_dedup_canonical": "foreachBatch twin of the URL recrawl loop: per-micro-batch row-local canonicalize -> min-id collapse -> broadcast fingerprint state probe -> ONE commit of the corpus rows AND their hashes; checkpoint-restarted second drain proves catch-up",
    # r14 additions
    "text_dsir_importance_incremental": "bucket-count deltas folded per batch (one fragment per batch id, O(batch); a replayed id is skipped); totals re-derived from state by per-bucket addition; log-ratio rebuilt bounded -> broadcast join to the NEW batch only — the landed corpus is never re-read",
    "stream_dsir_importance": "foreachBatch count-state ingest: per micro-batch ONE bucket agg -> one-fragment fold under the stream's batch_id (a replayed id is skipped); checkpoint-restarted second drain continues the id sequence",
    "text_perplexity_modified_kn": "row-local trigram extraction; ONE persisted trigram table feeds count join, context agg, the continuation table (also persisted, feeding ITS context agg + histogram + unigram-continuation base) and both counts-of-counts histograms; discount triples ride 1-row broadcast crossJoins; per-doc agg is the only corpus shuffle",
    "text_perplexity_modified_kn_incremental": "trigram-count deltas folded per batch (one fragment per batch id, written by one task); totals by per-key addition feed the IDENTICAL scorer plan as the one-shot form",
    "pipeline_cluster_balanced_select": "portable-kmeans training loop (K-row centroid broadcasts, narrow re-center aggs); assignment = K-row broadcast map pass; per-cluster top-Q on the grouped control plane ((centroid_id, token-bin) windows, bounded offsets) — never a bare K=8-partition window",
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    registry.load_all()
    spark = get_spark("dump_plans")
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}`. AQE is enabled at",
        "runtime, so Exchanges shown here may further coalesce or convert to",
        "broadcast adaptively; this is the static plan Catalyst commits to.",
        "",
    ]
    try:
        for name, note in HEADLINE_NOTES.items():
            fn = registry.QUERIES[name]
            plan = formatted_plan(fn(spark, sf_dir))
            # Trim volatile bits (paths, run ids) so diffs stay meaningful.
            plan = re.sub(r"file:[^,\]\s]+", "file:<path>", plan)
            plan = re.sub(r"#\d+L?", "#c", plan)
            out.append(f"## {name}\n\n*Expect:* {note}\n\n```\n{plan}\n```\n")
            print(f"done {name}", file=sys.stderr)
    finally:
        spark.stop()
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
