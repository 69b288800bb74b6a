"""Declared query inventory.

Each submodule exposes ``QUERIES: dict[str, tuple[fn, sql]]`` where ``fn``
is ``(spark, sf_dir) -> DataFrame`` and ``sql`` is the equivalent DuckDB
oracle (or ``None`` for non-SQL-expressible ops). ``__spark_entry__.py``
assembles the full registry from here.

Cross-engine determinism conventions used throughout (see SURVEY.md §7.4):

- every SUM/AVG over doubles goes through DECIMAL (order-independent);
- every double output column is ``round(x, n)`` in BOTH engines;
- every top-k / keep-first has a TOTAL order (explicit tiebreakers);
- hashes are MD5/SHA2 over strings built identically in both engines;
- column names are aliased identically on both sides.
"""

from __future__ import annotations

from . import curation, dims, domain, extra, lifecycle, pipeline, tpch

REGISTRY: dict[str, tuple] = {}
for mod in (tpch, lifecycle, pipeline, domain, extra, dims, curation):
    overlap = REGISTRY.keys() & mod.QUERIES.keys()
    if overlap:
        raise ValueError(f"duplicate query names: {overlap}")
    REGISTRY.update(mod.QUERIES)

# The round driver checks queries in registry order and caps at 50; the
# registry holds more, so the window ROTATES each round: queries without
# fresh driver evidence go to the front, queries that went green in the
# PREVIOUS round's CORRECTNESS file rotate to the tail (they keep pass†
# status — tests/test_queries_oracle.py re-runs the identical oracle
# check for every registry entry on every round).
#
# Evidence ledger entering r6: CORRECTNESS_r05 went 48/50 hash-green
# (+2 rows-only by then-current design); the union of r1-r5 covers
# EVERY pre-r6 registry name. Rotation: new r6 queries first (IVF x SQ
# composed ANN, TPC-H q9/q16), then the queries whose CODE changed this
# round and therefore need fresh driver evidence (pack_sequences_docs
# gained a recursive-CTE oracle — no longer rows-only; q3/q5 were
# rewritten in star-join order), then the 38 names whose latest driver
# green is r4 (r5's un-windowed middle + tail). The r5 fresh greens
# rotate tailward past the 50-query cap, still re-verified every round
# by tests/test_queries_oracle.py.
#
# r7 rotation: CORRECTNESS_r06 went 50/50 hash-green over the first 50
# registry names, so every OTHER name's latest driver evidence is r5 —
# those 43 rotate to the front, behind the r7 new/changed queries. r7
# added 23 new entries (the TPC-H completions + the text/analytics/
# timeseries/graph/PQ tier) + 3 changed, so the TAIL of the r5-stale names
# falls past the 50-query driver cap this round — those stay
# pytest-oracle-verified and rotate to the front in r8.
#
# r8 rotation: CORRECTNESS_r07 went 48/50 hash-green (+2 rows-only by
# design) over the first 50 names. Evidence ledger entering r8:
# 16 names last green in r5 (they fell past r7's cap) -> FRONT, per
# the r7 verdict; then r8's 13 new/changed entries (8 brand-new
# queries + 5 whose code changed: residual IVF-PQ, the two
# shared-pair-source graph queries, and the two scaling-dim hint
# drops); then the 50 names last green in r6 (r7's tail), of which
# the first 21 make this round's 50-query window. The r7 fresh greens
# rotate to the tail. After r8 greens, the oldest driver evidence is
# the 29 r6 names past the cap -> they head the r9 window.
_PRIORITY = [
    # --- r20 head: the queries whose plans the cache cleanup changed
    # (before/after dumps in plans/r20/), then dedup_incremental_batch
    # and hash_diff_sync, whose code changed in r19 with no driver
    # evidence since. ---
    "doc_quality_lr_train",
    "doc_quality_lr_apply",
    "lr_calibration_bins",
    "embed_ann_lsh",
    "ann_recall_eval",
    "dedup_cluster_resolve",
    "dedup_canonical_by_rank",
    "doc_pagerank",
    "dedup_incremental_batch",
    "hash_diff_sync",
    # --- r19 rotation. Evidence ledger entering r19 (CORRECTNESS_r16-
    # r18 plus the r14/r15 files): the 23 names at the head of the old
    # _TAIL were last green in r14 and the next 43 in r15; every name
    # of the old 50-window except the three vocabulary-dictionary
    # queries is r17/r18-green. Window: the 23 r14 names FIRST (no
    # name's driver evidence ages past 3 rounds again), then the three
    # names left just past the r18 cap, then the three queries whose
    # code changed in r18 (one vocabulary-dictionary plan, no driver
    # evidence since), then the 21 stalest r15 greens. The serve sites
    # moved behind sinks/artifacts.serve this round, but the in-plan
    # plans the driver runs (no env var set) are unchanged — the
    # before/after dumps in plans/r19/ are identical for
    # bm25_pruned_retrieval, hybrid_rrf_retrieval, contrastive_triplets,
    # embed_ann_ivf, dedup_incremental_batch, doc_pagerank,
    # dedup_canonical_by_rank and dedup_cluster_resolve — so those need
    # no promotion for fresh evidence (the three graph queries are here
    # for their r14 staleness alone). The 22 remaining r15 names head
    # _TAIL and rotate first in r20. ---
    "shuffled_sample_orders",
    "standardize_part_names",
    "sync_stats",
    "tiered_price_billing",
    "tumbling_daily_stats",
    "workload_breakdown",
    "workload_catalog_breakdown",
    "workload_profiles_catalog",
    "workload_scores",
    "embed_kmeans_clusters",
    "embed_ann_sq",
    "q10_returned_items",
    "dedup_span_removal",
    "media_pcm_stats",
    "media_pixel_stats",
    "media_video_frames",
    "media_resize_stats",
    "domain_balanced_sample",
    "html_extract_text",
    "dedup_containment",
    # left past the r18 cap (r17/r18-green), promised this round
    "range_join_event_window",
    "running_user_value",
    "scd2_latest_event",
    # code changed in r18: one vocabulary-dictionary plan
    "tfidf_keywords",
    "doc_lm_perplexity",
    "perplexity_bucket_filter",
    # stalest r15 greens (21 of 43)
    "embed_ann_pq",
    "approx_median_price",
    "approx_distinct_users",
    "event_anomaly_zscore",
    "twap_user_value",
    "gap_fill_daily_value",
    "funnel_conversion",
    "cohort_retention",
    "chunk_documents",
    "q6_forecast_revenue",
    "q20_dominant_suppliers",
    "q14_promo_effect",
    "q22_global_sales_opportunity",
    "doc_bpe_token_stats",
    "q11_important_stock",
    "q21_single_supplier_blame",
    "q13_customer_distribution",
    "q15_top_supplier",
    "session_counts",
    "embed_ann_ivf_sq",
    "training_set_select",
]
_TAIL = [
    # r15-fresh names past the 50-slot cap — they rotate FIRST in r20
    # (pytest re-runs their oracles every round meanwhile).
    "q7_volume_shipping",
    "doc_repetition",
    "doc_pii_scrub",
    "decontaminate_docs",
    "lang_balanced_sample",
    "training_shard_stats",
    "q2_min_price_order",
    "q4_order_priority",
    "cube_revenue",
    "rollup_revenue",
    "pivot_status_counts",
    "moving_range_avg",
    "intersect_repeat_buyers",
    "temperature_mix_sample",
    "profile_orders",
    "region_dims_rollup",
    "vendor_compliance_matrix",
    "spot_price_asof",
    "media_metadata_extract",
    "anti_join_no_orders",
    "keep_last_dedup_lineitem",
    "except_building_buyers",
    # r16-fresh (CORRECTNESS_r16 greens).
    "argmax_customer_per_nation",
    "media_jpeg_stats",
    "url_canonical_dedup",
    "doc_langid",
    "dim_join_enrichment",
    "price_quartiles",
    "min_unit_price_per_part",
    "distinct_part_counts",
    "q17_small_quantity_revenue",
    "q1_pricing_summary",
    "semi_join_big_spenders",
    "top1_order_per_customer",
    "exact_median_price",
    "mode_brand_per_type",
    "group_merge_nations",
    "minmax_bounds_part",
    "scd_as_of_event",
    "gopher_quality_rules",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "bm25_pruned_retrieval",
    "count_expansion",
    "weighted_geomean_price",
    "q18_large_orders",
    "longtail_price_assembly",
    "dedup_substring_spans",
    "decontaminate_spans",
    "embed_ann_ivf_pq",
    "gap_fill_interp_value",
    "embed_knn_classify",
    "dedup_semantic_clusters",
    "train_split_stats",
    "sku_prefix_join",
    "q8_national_market_share",
    "sig_fig_prices",
    "unit_conversions",
    "extract_brand_number",
    "q9_product_type_profit",
    "q16_parts_supplier",
    "q12_priority_shipmode",
    "q19_discounted_revenue",
    "pack_sequences_docs",
    "asof_latest_event_value",
    "benchmark_catalog_stats",
    # r17/r18-fresh (the r17 and r18 windows, unchanged code) —
    # freshest evidence, deepest tail.
    "benchmark_config_pk",
    "config_tolerance_filter",
    "dedup_boilerplate_chunks",
    "dedup_embed_cosine",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "doc_fingerprint",
    "media_jpeg_color_stats",
    "training_corpus_emit",
    "bpe_train_merges",
    "bpe_tokenize_apply",
    "doc_lm2_perplexity",
    "doc_ngram_novelty",
    "source_embed_similarity",
    "bigram_pmi_top",
    "source_token_kl",
    "doc_oov_rate",
    "retrieval_eval",
    "mmr_select",
    "corpus_diversity_stats",
    "dedup_pair_eval",
    "bm25_retrieval",
    "weighted_sample_docs",
    "hybrid_rrf_retrieval",
    "contrastive_triplets",
    "approx_heavy_hitters",
    "cluster_balanced_sample",
    "unimax_mixture_weights",
    "dedup_edit_similarity",
    "quality_quantile_normalize",
    "dsir_select",
    "doc_quality",
    "doc_token_stats",
    "ecpus_scalability",
    "embed_ann_ivf",
    "embed_cosine_topk",
    "first_version_orders",
    "heavy_hitter_users",
    "json_props_extract",
    "merge_upsert_lifecycle",
]
REGISTRY = {
    n: REGISTRY[n]
    for n in (*_PRIORITY,
              *[k for k in REGISTRY if k not in _PRIORITY and k not in _TAIL],
              *_TAIL)
}
