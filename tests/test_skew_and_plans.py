"""Skew-join equivalence + physical-plan regression guards."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sc_crawler_spark.operators.skew import salted_join
from sc_crawler_spark.queries import REGISTRY

from .conftest import SF_ORACLE


def test_salted_join_equals_plain_join(spark):
    # heavily skewed fact: 90% of rows on one key
    fact = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))
        ).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"D{i}") for i in range(50)],
        "k string, attr string",
    )
    plain = fact.join(dim, ["k"]).groupBy("k", "attr").count()
    salted = salted_join(fact, dim, ["k"], n_salts=8).groupBy("k", "attr").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    fact = spark.createDataFrame([("a", 1), ("missing", 2)], "k string, v int")
    dim = spark.createDataFrame([("a", "A")], "k string, attr string")
    rows = {r["k"]: r["attr"]
            for r in salted_join(fact, dim, ["k"], 4, "left").collect()}
    assert rows == {"a": "A", "missing": None}


PLAN_GUARDED = [
    "q1_pricing_summary", "q3_shipping_priority",
    "top1_order_per_customer", "hash_diff_sync", "workload_scores",
    "dedup_minhash_lsh", "sku_prefix_join",
    # round 2: catalog scoring (servers x entries frame must stay a
    # BroadcastNestedLoopJoin over the 35-row dim, never a cartesian)
    "workload_profiles_catalog", "workload_catalog_breakdown",
    "dedup_embed_cosine",
    # round 5: classic TPC-H shapes — dims must broadcast, the q18
    # HAVING-subquery semi join must not degrade to sort-merge
    "q7_volume_shipping", "q10_returned_items", "q18_large_orders",
    # round 6: star-join profit, NOT-IN anti join, conditional agg,
    # disjunctive pushdown
    "q9_product_type_profit", "q16_parts_supplier",
    "q12_priority_shipmode", "q19_discounted_revenue",
    # round 7: join + conditional-agg ratio (part dim must broadcast)
    "q14_promo_effect",
]


@pytest.mark.parametrize("name", PLAN_GUARDED)
def test_no_cartesian_or_smj_in_headline_plans(spark, name):
    """Plan audit as a regression test: dimension joins must broadcast;
    nothing in the headline suite may fall back to CartesianProduct, and
    at lake scale factors nothing should sort-merge on local[n]."""
    plan = REGISTRY[name][0](spark, SF_ORACLE)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "SortMergeJoin" not in plan, f"{name} fell back to sort-merge join"
    # every parquet scan carries pushdown metadata (column pruning active)
    scans = re.findall(r"ReadSchema: \S+", plan)
    assert scans, f"{name}: no parquet scans found in plan"


def test_q5_star_join_shape(spark):
    """q5 (r6 star-join order; r16 gates the fact-fact join too):
    every dim reduction must broadcast, and the reduced-orders side
    of the last join is SIZE-GATED like the dims — at small SF
    (orders' on-disk bytes under the session threshold) the whole
    plan is broadcast joins with ZERO shuffle joins; past the gate
    (see test_q5_fact_join_degrades_past_ceiling) the one remaining
    shuffle join is reduced-fact x reduced-fact on orderkey. Guard
    here: gate-open regime — no shuffle join, >= 5 broadcast hash
    joins (region->nation->supp/cust->facts->orders), no cartesian."""
    plan = _plan(spark, "q5_local_supplier_volume")
    assert "CartesianProduct" not in plan
    # count node headers "(N) <op>" — the formatted tree also repeats
    # each operator name in its details section.
    shuffle_joins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", plan))
    bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    assert shuffle_joins == 0, (
        f"gate-open q5 must be all-broadcast (got {shuffle_joins})")
    assert bhj >= 5, f"dim + orders reductions must broadcast (got {bhj})"


def test_q5_fact_join_degrades_past_ceiling(spark):
    """The 100 TB regime of the r16 orders gate: past the broadcast
    threshold the reduced-orders hint is withheld and the fact-fact
    join degrades to ONE shuffle join (SMJ, or SHJ under the bench
    profile) — never a nested-loop/cartesian, never a hard broadcast
    that would die at the ceiling."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try:
        plan = _plan(spark, "q5_local_supplier_volume")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        shuffle_joins = len(re.findall(
            r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", plan))
        assert shuffle_joins >= 1, "fact-fact join must degrade to shuffle"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _plan(spark, name):
    return REGISTRY[name][0](spark, SF_ORACLE)._jdf.queryExecution() \
        .explainString(spark._jvm.org.apache.spark.sql.execution
                       .ExplainMode.fromString("formatted"))


def test_r5_decontaminate_broadcasts_eval_grams(spark):
    """The eval-gram dim must broadcast (the side that stays dictionary-
    sized at 100 TB); the corpus side never sort-merges."""
    plan = _plan(spark, "decontaminate_docs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_r5_lang_sample_uses_window_group_limit(spark):
    """The quota rank filter must push into WindowGroupLimit (partial
    per-partition top-N before the lang shuffle) — without it, 5-language
    skew serializes the scan."""
    plan = _plan(spark, "lang_balanced_sample")
    assert "WindowGroupLimit" in plan


def test_r5_correlated_subqueries_decorrelate(spark):
    """The SQL planner must rewrite both correlated shapes to hash
    joins: scalar subquery -> aggregate + join, EXISTS -> left-semi.
    A surviving correlated subquery re-executes per outer row."""
    q2 = _plan(spark, "q2_min_price_order")
    assert "Join" in q2 and "Subquery" not in q2
    q4 = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in q4 and "Subquery" not in q4
    for p in (q2, q4):
        assert "CartesianProduct" not in p


def test_r7_q21_double_exists_decorrelates(spark):
    """q21: BOTH correlated subqueries must decorrelate — the EXISTS
    into a left-semi and the NOT EXISTS into a left-anti hash join on
    orderkey. A surviving correlated probe re-executes per outer row."""
    plan = _plan(spark, "q21_single_supplier_blame")
    assert "LeftSemi" in plan, "EXISTS did not become a semi join"
    assert "LeftAnti" in plan, "NOT EXISTS did not become an anti join"
    assert "CartesianProduct" not in plan


def test_r7_q11_global_total_computed_once(spark):
    """q11: the HAVING's global-total scalar subquery must be a
    one-row broadcast computed once (subquery subtree), never a
    per-group nested-loop re-aggregation."""
    plan = _plan(spark, "q11_important_stock")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # dims broadcast; the group aggregate is two-phase
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_r7_q22_anti_join_and_scalar_subquery_shape(spark):
    """q22: the NOT EXISTS must plan as a left-ANTI hash join (never a
    per-row correlated probe), and the two uncorrelated scalar
    subqueries (count/sum of the positive-balance population) must be
    one-row broadcast results computed once — visible as subquery
    subtrees, NOT as a cartesian or nested-loop over customer."""
    plan = _plan(spark, "q22_global_sales_opportunity")
    assert "LeftAnti" in plan, "NOT EXISTS did not become an anti join"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_r5_mix_sample_never_shuffles_the_corpus(spark):
    """temperature_mix_sample: only the tiny source-count aggregate may
    shuffle; the corpus side joins the broadcast probability dim and
    filters in place."""
    plan = _plan(spark, "temperature_mix_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # shuffles: the counts aggregate (+ AQE reads); the corpus-side scan
    # must feed the broadcast join directly, with no Exchange between
    assert plan.count("Exchange hashpartitioning") <= 2


@pytest.mark.parametrize("name", ["tiered_price_billing",
                                  "benchmark_config_pk"])
def test_new_r4_queries_plan_shape(spark, name):
    """Round-4 queries: the tiered-billing fold must stay INSIDE the row
    (no Generate/explode of the tier array -> no row blow-up), and both
    plans are scan -> project -> one hash aggregate, no join at all."""
    plan = REGISTRY[name][0](spark, SF_ORACLE)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Generate" not in plan, f"{name} explodes the tier array"
    assert "Join" not in plan, f"{name} plans a join"
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2, f"{name}: more than one shuffle"


def test_r5_shard_stats_single_agg_no_join(spark):
    """Shard assignment is pure column math: the plan must be
    scan -> project -> one hash aggregate, no join of any kind."""
    plan = _plan(spark, "training_shard_stats")
    for op in ("Join", "CartesianProduct", "Exchange RangePartitioning"):
        assert op not in plan, f"training_shard_stats plans a {op}"
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_r6_embed_ann_ivf_sq_stage1_is_cell_equijoin(spark):
    """IVF x SQ composed ANN: stage-1 candidate generation must be the
    cell_id HASH join (probes x cell-assigned int8 codes) with the
    self-pair filter as its residual — never a broadcast-nested-loop
    or cartesian over the full corpus (embed_ann_sq's all-pairs
    stage-1 shape, which this query exists to close)."""
    plan = _plan(spark, "embed_ann_ivf_sq")
    assert "CartesianProduct" not in plan
    assert re.search(
        r"BroadcastHashJoin[^\n]*\nLeft keys \[1\]: \[cell_id[^\n]*\n"
        r"Right keys \[1\]: \[cell_id[^\n]*\nJoin type: Inner[^\n]*\n"
        r"Join condition: NOT \(query_id", plan
    ), "stage-1 candidate join is not an equi-join on cell_id"
    # the all-pairs marker: a nested-loop join carrying the self-pair
    # filter would mean stage 1 degraded to query x corpus
    assert not re.search(
        r"BroadcastNestedLoopJoin[^\n]*\nJoin condition: NOT \(query_id",
        plan), "stage-1 degraded to an all-pairs nested-loop join"


def test_r7_ivf_sq_cell_equijoin_without_broadcast_hint(spark):
    """The UNHINTED regime (broadcast_queries=False, the default for a
    large query batch): stage 1 must still plan the cell_id join as a
    proper equi-join — shuffle hash/sort-merge, AQE-upgradable to
    broadcast at runtime — never a nested-loop or cartesian. This is
    the broadcast-ceiling escape: a huge probe set degrades to a
    shuffle instead of dying at the 8 GB broadcast limit."""
    from sc_crawler_spark.operators import similarity
    from sc_crawler_spark.tables import load

    emb = load(spark, SF_ORACLE, "embeddings")
    out = similarity.cosine_topk_ivf_sq(
        emb.filter("vec_id < 10"), emb, "embedding", "vec_id",
        k=5, n_cells=8, n_probe=3, refine=3)   # no broadcast hint
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "CartesianProduct" not in plan
    assert not re.search(
        r"BroadcastNestedLoopJoin[^\n]*\nJoin condition: NOT \(query_id",
        plan), "unhinted stage-1 degraded to an all-pairs nested-loop"
    # the stage-1 join keys survive as a cell_id equi-join in SOME
    # hash-based join (SHJ/SMJ statically; AQE may broadcast at runtime)
    assert re.search(
        r"Left keys \[1\]: \[cell_id", plan), (
        "unhinted stage-1 candidate join is not an equi-join on cell_id")


@pytest.mark.parametrize("name,ceiling", [
    # Both queries unroll 2 Lloyd iterations DECLARATIVELY (the oracle
    # mirrors the pure plan); plan size grows geometrically with the
    # iteration count, so _KM_ITERS is pinned at 2 and these ceilings
    # catch anyone unrolling deeper. iters > 2 training must route
    # through the checkpointed ivf_train_centroids instead (measured
    # nodes: kmeans 205, ivf_sq 412).
    ("embed_kmeans_clusters", 260),
    ("embed_ann_ivf_sq", 470),
])
def test_r6_unrolled_lloyd_plan_size_bounded(spark, name, ceiling):
    plan = _plan(spark, name)
    nodes = plan.count("\n(")
    assert nodes <= ceiling, (
        f"{name} plan grew to {nodes} nodes (ceiling {ceiling}) — "
        "did the unrolled Lloyd iteration count increase? Route deeper "
        "training through the checkpointed ivf_train_centroids.")


def test_r5_embed_ann_sq_broadcasts_queries(spark):
    """Both ANN stages keep the 10-row query side broadcast; the
    candidate re-rank must not sort-merge or go cartesian (the stage-1
    crossJoin is the labeled broadcast-nested-loop scan)."""
    plan = _plan(spark, "embed_ann_sq")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # stage 1: broadcast q x corpus


def test_r7_chunk_documents_never_shuffles(spark):
    """Chunking is per-row: Scan -> Generate(explode) -> Project with
    ZERO exchanges. An exchange here would mean the chunker re-keys the
    (huge) exploded relation for no consumer — at 100 TB that's the
    whole corpus through the shuffle for a map-side-only op."""
    plan = _plan(spark, "chunk_documents")
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_r17_pruned_inplan_no_lens_join(spark):
    """The IN-PLAN pruned-postings chain rides len_d through the tf
    explode (r17): no corpus-wide tf-to-lens SortMergeJoin — every
    join in the plan is a broadcast (stats scalar, df dictionary,
    query terms) and the per-term top-M still compiles to
    WindowGroupLimit. (The artifact build/fold paths keep split
    stored tables and the doc_id join; their bit-equality with this
    plan is pinned in test_selection_ops.)"""
    plan = _plan(spark, "bm25_pruned_retrieval")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def _final_plan(spark, name):
    """The final AQE plan of one registry query, after running it."""
    df = REGISTRY[name][0](spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0]


def test_workload_scores_one_scan_no_cache(spark):
    """The one scorer keeps workload_scores' plan: events scanned once,
    no cached relation, and at most the parent's three exchanges — the
    per-user hash shuffle (its second consumer, the medians, reads it
    as a ReusedExchange), the single-row median aggregate and its
    broadcast. The per-(user, workload) composite rides the user hash
    partitioning with no further exchange."""
    plan = _final_plan(spark, "workload_scores")
    assert len(re.findall(r"FileScan parquet", plan)) == 1
    assert "InMemoryRelation" not in plan
    # node headers only: a ReusedExchange line names the exchange it reuses
    shuffles = re.findall(r"[+:]- Exchange (\w+)", plan)
    assert sorted(shuffles) == ["SinglePartition", "hashpartitioning"]
    assert len(re.findall(r"[+:]- BroadcastExchange", plan)) == 1
    assert len(re.findall(r"[+:]- ReusedExchange", plan)) == 1


def test_tfidf_vocab_dict_broadcast_under_limit(spark):
    """Under the vocabulary limit document frequency is a BROADCAST
    (term, df) dictionary: two broadcasts (the 1-row n_docs scalar +
    the dictionary), no sort-merge / cartesian, no term window — tf
    flows to the top-k window in scan partitioning and the only
    corpus-sized exchange is the per-doc one fed by a partial
    WindowGroupLimit (3 rows/doc)."""
    plan = _plan(spark, "tfidf_keywords")
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange (") == 2
    assert "windowspecdefinition(term" not in plan


def test_lm_vocab_dict_total_reuses_exchange(spark):
    """The unigram LM's token total is a 1-row aggregate over the (term,
    c) dictionary, so the final AQE plan REUSES the dictionary's term
    exchange instead of scanning and tokenizing the corpus a third
    time: documents is read twice (tf + dictionary), one
    ReusedExchange, no sort-merge join."""
    plan = _final_plan(spark, "doc_lm_perplexity")
    assert len(re.findall(r"Scan parquet", plan)) == 2
    assert plan.count("ReusedExchange") == 1
    assert "SortMergeJoin" not in plan
    assert "windowspecdefinition(term" not in plan


@pytest.fixture
def past_vocab_limit(spark, monkeypatch):
    """Corpus past the vocabulary limit AND broadcast off for the
    session, so neither the gate nor AQE can broadcast a dictionary."""
    from sc_crawler_spark.queries import pipeline

    monkeypatch.setattr(pipeline, "_VOCAB_BROADCAST_MAX_BYTES", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _assert_shuffle_join_on_term(plan):
    assert "CartesianProduct" not in plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin)[^\n]*\n"
        r"Left keys \[1\]: \[term#", plan)


def test_r17_tfidf_window_regime_past_gate(spark, past_vocab_limit):
    """Past the gate tf-idf runs the SAME plan unhinted: the only
    broadcast is the 1-row n_docs scalar, and the df dictionary meets
    tf in a shuffle join on term — slower, never a driver OOM."""
    plan = _plan(spark, "tfidf_keywords")
    assert plan.count("BroadcastExchange (") == 1
    assert "WindowGroupLimit" in plan
    _assert_shuffle_join_on_term(plan)


def test_r17_lm_window_regime_past_gate(spark, past_vocab_limit):
    """Past the gate the unigram LM's (term, c) dictionary is never
    collected: the only broadcast is the 1-row total-tokens scalar and
    the dictionary meets tf in a shuffle join on term."""
    plan = _plan(spark, "doc_lm_perplexity")
    assert plan.count("BroadcastExchange (") == 1
    _assert_shuffle_join_on_term(plan)


def test_bm25_prune_vocab_dict_shuffle_join_past_limit(spark,
                                                       past_vocab_limit):
    """The BM25 prune's df dictionary goes through the same gate: past
    it, a shuffle join on term instead of a broadcast."""
    _assert_shuffle_join_on_term(_plan(spark, "bm25_pruned_retrieval"))


@pytest.mark.parametrize("name", [
    "tfidf_keywords", "doc_lm_perplexity", "perplexity_bucket_filter"])
def test_vocab_dict_hinted_unhinted_bit_identical(spark, request, name):
    """The vocabulary gate may only change the plan: the hinted and the
    shuffle-join plans return IDENTICAL rows (same df/c integers, same
    DECIMAL routing)."""
    hinted = _collect_sorted(spark, name)
    request.getfixturevalue("past_vocab_limit")
    assert _collect_sorted(spark, name) == hinted


def _collect_sorted(spark, name):
    df = REGISTRY[name][0](spark, SF_ORACLE)
    return sorted(map(tuple, df.collect()))


def test_r7_funnel_single_user_shuffle(spark):
    """The dependent-stage funnel must chain min-over-partition windows
    — NOT self-join per stage. Exactly two exchanges: the user_id
    shuffle feeding the windows (the per-user distinct reuses that
    subset partitioning) and the trivial single-partition final count.
    One sort serves all three window passes (same spec)."""
    plan = _plan(spark, "funnel_conversion")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1
    assert "Join" not in plan


def test_r7_cohort_single_pass_no_join(spark):
    """Cohort retention must stay the single-scan collect_set form
    (cohort_week = min(active week) by date_trunc monotonicity): ONE
    user-keyed exchange plus the final triangle rollup, no join, no
    second events scan."""
    plan = _plan(spark, "cohort_retention")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_r7_twap_single_exchange(spark):
    """TWAP: the lead window and the per-user aggregate share ONE
    user_id exchange (the agg's partial/final pair runs on the window's
    partitioning — no second shuffle, no join)."""
    plan = _plan(spark, "twap_user_value")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_r7_gap_fill_explodes_spans_not_grid_join(spark):
    """Gap-fill must be the explode-across-own-gap idiom: ONE events
    scan, no join (the naive calendar-grid + left-join + ffill form
    scans events twice), and the day-close rollup's rank filter pushes
    into WindowGroupLimit BEFORE its exchange so the first shuffle
    carries ~user-day rows, not raw events."""
    plan = _plan(spark, "gap_fill_daily_value")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    assert "WindowGroupLimit" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_r7_embed_ann_pq_stage1_is_code_table_join(spark):
    """PQ stage 1 must rank via the code-table join against broadcast
    ADC tables — never a cartesian or a full-vector nested loop. The
    ONE allowed shuffle join is the stage-2 re-rank fetch
    (shortlist x corpus, both statically unknown): forcing a broadcast
    there would pin the query side exactly the way the r6 verdict
    flagged on ivf_sq — AQE converts it at runtime instead. The
    unrolled per-subspace Lloyd chains keep the plan bounded (the
    kmeans guard convention — deeper training must checkpoint).
    Cleared cache first: an earlier test's executed run leaves the
    codebook/query frames cached, and the InMemoryRelation blocks
    inflate the node count past the unrolled-trainer ceiling."""
    spark.catalog.clearCache()
    plan = _plan(spark, "embed_ann_pq")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    shuffle_joins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", plan))
    assert shuffle_joins <= 1, (
        f"only the re-rank fetch may shuffle-join (got {shuffle_joins})")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3
    nodes = plan.count("\n(")
    assert nodes <= 220, (
        f"embed_ann_pq plan grew to {nodes} nodes — did the unrolled "
        "PQ training iteration count increase?")


def test_r7_embed_ann_ivf_pq_stage1_is_cell_equijoin(spark):
    """IVF x PQ: stage 1 must restrict candidates via the cell_id
    equi-join (probes x cell-tagged PQ codes) before the ADC table
    join — never a cartesian or a nested loop over the full corpus;
    plan bounded (r8 residual encoding references the centroid dim 5x,
    so the operator lazily localCheckpoints it — without that the
    unrolled plan measured 1954 nodes; with it, 328). Cache cleared
    first — see the embed_ann_pq guard."""
    spark.catalog.clearCache()
    plan = _plan(spark, "embed_ann_ivf_pq")
    assert "CartesianProduct" not in plan
    assert re.search(
        r"BroadcastHashJoin[^\n]*\nLeft keys \[1\]: \[cell_id", plan
    ), "stage-1 candidate join is not an equi-join on cell_id"
    assert not re.search(
        r"BroadcastNestedLoopJoin[^\n]*\nJoin condition: NOT \(query_id",
        plan), "stage-1 degraded to an all-pairs nested-loop join"
    nodes = plan.count("\n(")
    assert nodes <= 430, (
        f"embed_ann_ivf_pq plan grew to {nodes} nodes — did an unrolled "
        "Lloyd iteration count increase?")


def test_r8_unhinted_scaling_dims_broadcast_from_stats(spark):
    """r8 scale-robustness guard (r7 verdict item 2), regime 1: where a
    scaling dim (customer/supplier) meets the fact as a PLAIN
    filter/projection of its scan, it carries NO broadcast hint at all
    — stats-v1's file-size estimate is accurate there, so the static
    planner broadcasts it while it fits and degrades to shuffle when
    it doesn't. Guard: no ResolvedHint wraps a bare customer/supplier
    scan, yet the dim joins still plan as BroadcastHashJoin at bench
    scale."""
    for name, dim_keys in (
        ("q3_shipping_priority", ["c_custkey"]),
        ("q9_product_type_profit", ["s_suppkey"]),
        ("q8_national_market_share", ["c_custkey", "s_suppkey"]),
    ):
        df = REGISTRY[name][0](spark, SF_ORACLE)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        for m in re.finditer(r"ResolvedHint[^\n]*\n((?:[^\n]*\n){0,6})",
                             analyzed):
            block = m.group(1)
            assert not re.search(r"parquet .*(customer|supplier)", block), (
                f"{name}: hard broadcast hint on a scaling dim:\n{block}")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        for key in dim_keys:
            # the dim key may sit on either the left or right keys line
            assert re.search(
                rf"BroadcastHashJoin[^\n]*\n(?:[^\n]*\n)?"
                rf"[^\n]*keys \[1\]: \[{key}#", plan), (
                f"{name}: {key} dim join no longer broadcasts unhinted "
                "at bench scale")


def test_r8_gated_broadcast_hints_when_small(spark):
    """Regime 2a: q5's reduced customer/supplier dims are JOIN OUTPUTS,
    whose stats-v1 estimate is the useless product of their inputs —
    unhinted they degrade the fact joins to shuffle even at kilobyte
    sizes (measured 64x: q5 3 s -> 8 s). gated_broadcast() therefore
    hints them from the BASE table's on-disk bytes; at bench scale the
    gate is open and both dim joins must broadcast."""
    df = REGISTRY["q5_local_supplier_volume"][0](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    for key in ("c_custkey", "s_suppkey"):
        assert re.search(
            rf"BroadcastHashJoin[^\n]*\n(?:[^\n]*\n)?"
            rf"[^\n]*keys \[1\]: \[{key}#", plan), (
            f"q5: gated hint on {key} dim did not broadcast at bench scale")


def test_r8_gated_broadcast_degrades_past_ceiling(spark):
    """Regime 2b — the 100 TB failure mode the gate exists for: when
    the base table no longer fits the session broadcast threshold, the
    gate must WITHHOLD the hint so the dim joins degrade to shuffle
    equi-joins instead of dying at the broadcast ceiling (a hard hint
    broadcasts regardless of the conf). Simulated by dropping the
    threshold below the smallest dim; the query must still plan
    without nested-loop/cartesian fallbacks and return correct rows."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try:
        df = REGISTRY["q5_local_supplier_volume"][0](spark, SF_ORACLE)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        analyzed = df._jdf.queryExecution().analyzed().toString()
        for m in re.finditer(r"ResolvedHint[^\n]*\n((?:[^\n]*\n){0,8})",
                             analyzed):
            block = m.group(1)
            assert not re.search(r"parquet .*(customer|supplier)", block), (
                f"gate failed to withhold the hint past the ceiling:"
                f"\n{block}")
        # past the ceiling everything shuffles; the query still runs
        assert df.count() == 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_r8_gap_fill_interp_same_plan_shape(spark):
    """The interpolation twin must keep the forward-fill twin's plan:
    one events scan, zero joins, WindowGroupLimit before the first
    exchange — the lead window shipping next_close must not add a
    shuffle or a self-join."""
    plan = _plan(spark, "gap_fill_interp_value")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    assert "WindowGroupLimit" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_r8_semantic_dedup_pairs_are_cell_equijoin(spark):
    """SemDeDup's within-cluster pair generation must be the cell_id
    equi-join (the published |corpus|^2/n_cells bound) — never a
    cartesian or an all-pairs nested loop over the corpus."""
    spark.catalog.clearCache()
    plan = _plan(spark, "dedup_semantic_clusters")
    assert "CartesianProduct" not in plan
    assert not re.search(
        r"BroadcastNestedLoopJoin[^\n]*\nJoin condition: [^\n]*id_a",
        plan), "pair generation degraded to an all-pairs nested loop"
    assert re.search(
        r"keys \[1\]: \[cell_id", plan), (
        "pair generation is not an equi-join on cell_id")


def test_r8_knn_classify_no_cartesian(spark):
    """kNN classification composes the IVF top-k — the label join must
    stay an equi-join against the top-k output (k rows per query),
    never widen back to the corpus."""
    plan = _plan(spark, "embed_knn_classify")
    assert "CartesianProduct" not in plan


def test_r8_gated_broadcast_unit_regimes(spark, tmp_path):
    """tables.gated_broadcast unit contract: hints under the session
    threshold, withholds past it, withholds when broadcast is disabled
    (-1), parses human-readable threshold spellings, and returns the
    df unhinted for unknown (non-local) table sizes. An explicit
    ``limit`` replaces the threshold as the byte bound (still off under
    -1), and ``name=None`` sizes a file or directory path directly."""
    from sc_crawler_spark.tables import (
        disk_bytes, gated_broadcast, load, table_disk_bytes)

    sf = SF_ORACLE
    df = load(spark, sf, "supplier")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    def hinted(out):
        return "ResolvedHint" in out._jdf.queryExecution().analyzed().toString()

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        assert hinted(gated_broadcast(spark, sf, "supplier", df))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        assert hinted(gated_broadcast(spark, sf, "supplier", df))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        assert not hinted(gated_broadcast(spark, sf, "supplier", df))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert not hinted(gated_broadcast(spark, sf, "supplier", df))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        # unknown size (no such table file) -> no hint, no error
        assert not hinted(gated_broadcast(spark, "/nonexistent", "supplier", df))
        # an explicit byte limit replaces the threshold as the bound ...
        size = table_disk_bytes(sf, "supplier")
        assert not hinted(gated_broadcast(spark, sf, "supplier", df,
                                          limit=size))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        assert hinted(gated_broadcast(spark, sf, "supplier", df,
                                      limit=size + 1))
        # ... but never re-enables a session with broadcast disabled
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert not hinted(gated_broadcast(spark, sf, "supplier", df,
                                          limit=1 << 40))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        # name=None sizes the path itself (an artifact's part-file dir)
        path = str(tmp_path / "tf")
        df.write.parquet(path)
        dir_size = disk_bytes(path)
        assert dir_size > 0
        assert hinted(gated_broadcast(spark, path, None, df))
        assert not hinted(gated_broadcast(spark, path, None, df,
                                          limit=dir_size))
        assert not hinted(gated_broadcast(spark, "/nonexistent/tf", None,
                                          df, limit=1 << 40))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_r8_incremental_dedup_band_equijoin(spark):
    """Incremental batch-vs-index dedup: the candidate join must be the
    (band, sig) bucket equi-join — never a cartesian/nested loop — and
    the verify joins stay id-keyed equi-joins."""
    spark.catalog.clearCache()
    plan = _plan(spark, "dedup_incremental_batch")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"keys \[2\]: \[band", plan), (
        "candidate join is not the (band, sig) bucket equi-join")


def test_r9_table_disk_bytes_nested_layout(tmp_path):
    """r9's os.walk fix, now tested: a hive-partitioned table (part
    files nested under key=value subdirs) must sum its CONTENTS, not
    the subdirectory inodes — undercounting here opens the broadcast
    gate on tables far above the ceiling. Metadata files/dirs
    (_SUCCESS, .crc, _delta_log) stay excluded at every depth."""
    import os

    from sc_crawler_spark.tables import table_disk_bytes

    root = tmp_path / "part.parquet"
    sizes = {}
    for sub, fname, n in [
        ("p_brand=A", "part-000.parquet", 1111),
        ("p_brand=A", "part-001.parquet", 2222),
        ("p_brand=B/p_type=x", "part-000.parquet", 4444),  # two deep
    ]:
        d = root / sub
        d.mkdir(parents=True, exist_ok=True)
        (d / fname).write_bytes(b"x" * n)
        sizes[(sub, fname)] = n
    # excluded noise at several depths
    (root / "_SUCCESS").write_bytes(b"")
    (root / "p_brand=A" / ".part-000.parquet.crc").write_bytes(b"y" * 99)
    (root / "_delta_log").mkdir()
    (root / "_delta_log" / "0.json").write_bytes(b"z" * 500)

    assert table_disk_bytes(str(tmp_path), "part") == sum(sizes.values())
    # flat single file still works; missing table degrades to None
    (tmp_path / "nation.parquet").write_bytes(b"q" * 77)
    assert table_disk_bytes(str(tmp_path), "nation") == 77
    assert table_disk_bytes(str(tmp_path), "absent") is None


def test_r10_domain_sample_uses_window_group_limit(spark):
    """Same contract as the lang sampler: the per-domain quota rank
    must compile to WindowGroupLimit so 8-domain skew (wikipedia at
    5/16 of the corpus) keeps partial top-N on every input partition
    instead of serializing the scan at the domain shuffle."""
    plan = _plan(spark, "domain_balanced_sample")
    assert "WindowGroupLimit" in plan


def test_r10_span_removal_plan_shape(spark):
    """remove_duplicate_spans = duplicate_spans' two key-hashed
    exchanges plus ONE doc-keyed join back to the corpus — and no
    cartesian/nested-loop anywhere. The spans side arrives already
    hashed on the doc id (subset-key clustering), so the join adds at
    most the corpus-side exchange."""
    plan = _plan(spark, "dedup_span_removal")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert exchanges <= 4, f"expected <=4 exchanges, got {exchanges}"


def test_r10_pcm_stats_single_python_stage(spark):
    """The PCM decode must be ONE Arrow-batched python stage over the
    synthesized media (mapInPandas chained after the encode stage) —
    no shuffle between encode and decode, no per-row python UDF."""
    plan = _plan(spark, "media_pcm_stats")
    assert "Exchange" not in plan  # stateless per-row: nothing shuffles
    assert "BatchEvalPython" not in plan  # row-at-a-time UDF forbidden
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2  # encode + decode


def test_r10_html_extract_stateless_scan(spark):
    """Crawl step 0 must run at parquet-scan speed: one stateless
    whole-stage-codegen projection — zero exchanges, zero Python
    stages, no join. At 100 TB anything else in this path is a bug."""
    plan = _plan(spark, "html_extract_text")
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    # formatted mode stars codegen'd nodes: the projection must be one
    assert re.search(r"\* Project \(\d+\)", plan)


def test_r10_pixel_stats_single_python_stage(spark):
    """Same contract as the PCM twin: encode + decode are the only two
    Arrow-batched python stages, chained with no shuffle between them
    and no row-at-a-time UDF anywhere."""
    plan = _plan(spark, "media_pixel_stats")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2


def test_r10_video_frames_python_is_per_video_not_per_frame(spark):
    """The frame fan-out must be JVM-side: exactly 2 Arrow-batched
    stages (synthesize + header parse) each emitting one row per
    VIDEO, then a Generate (explode) producing the per-frame rows —
    zero exchanges, no row-at-a-time UDF."""
    plan = _plan(spark, "media_video_frames")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2
    assert re.search(r"\(\d+\) Generate", plan)  # the explode


def test_r10_resize_three_python_stages_no_shuffle(spark):
    """synthesize -> resize -> proof-decode: exactly 3 Arrow-batched
    stages chained with zero exchanges — the whole loop is stateless
    per row, nothing shuffles, no row-at-a-time UDF."""
    plan = _plan(spark, "media_resize_stats")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 3


def test_r12_training_corpus_emit_plan_shape(spark):
    """The end-to-end composition must not invent new shuffle shapes:
    no cartesian, the marker lexicon broadcast (never shuffled), the
    filtered base CACHED (four consumers — uncached, the langid+quality
    chain re-ran per consumer, 6 corpus scans), and a bounded
    shuffle-exchange count in the plan tree."""
    import re as _re

    plan = REGISTRY["training_corpus_emit"][0](
        spark, SF_ORACLE)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "InMemoryTableScan" in tree       # base persisted, not re-derived
    # shuffle exchanges in the printed tree (InMemoryRelation reprints
    # its defining subtree, so this double-counts the cached chain —
    # a stable ceiling regardless): language windows + span shuffles +
    # stitch/digest/domain windows, plus the r13 frontier stage 0 (a
    # narrow (doc_id, url) groupBy + the doc_id join back = 2 real
    # exchanges upstream of the cached base, reprinted -> +4; the
    # stage PRUNES ~60% of docs before every text-heavy stage, a net
    # win at scale). Beyond this, a stage started re-shuffling the
    # corpus.
    n_shuffles = len(_re.findall(r"[+:]- Exchange \(", tree))
    assert n_shuffles <= 18, n_shuffles


def test_r12_media_jpeg_stats_plan_is_exchange_free(spark):
    """Same plan pin as the other media queries: synthesize -> decode
    is a straight mapInPandas chain over the documents scan — zero
    exchanges, nothing to shuffle."""
    plan = REGISTRY["media_jpeg_stats"][0](
        spark, SF_ORACLE)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_r13_lr_train_plan_shape(spark):
    """Distributed GD stays in-plan: the feature frame is CACHED (one
    scan feeds 5 epochs + the scoring pass), each epoch consumes the
    previous one-row gradient frame via broadcast nested-loop join
    (the broadcast-of-scalar pattern — NOT a cartesian product), and
    nothing collects to the driver."""
    plan = REGISTRY["doc_quality_lr_train"][0](
        spark, SF_ORACLE)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "InMemoryTableScan" in tree
    assert "BroadcastNestedLoopJoin" in tree


def test_r13_bpe_train_plan_shape(spark):
    """BPE training stays vocab-bounded and in-plan: merge rounds
    chain through one-row broadcast joins (no cartesian); the merge
    APPLICATION is the zero-shuffle fold, so no window/explode of
    symbol positions appears between rounds."""
    plan = REGISTRY["bpe_train_merges"][0](
        spark, SF_ORACLE)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" in tree
    assert "Window" not in tree


def test_r13_media_jpeg_color_plan_is_exchange_free(spark):
    """The color tier keeps the media-plan pin: synthesize -> decode is
    a straight chained mapInPandas over the documents scan — zero
    exchanges, zero joins, linear scale-out."""
    plan = REGISTRY["media_jpeg_color_stats"][0](
        spark, SF_ORACLE)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_r12_doc_langid_zero_shuffle(spark):
    """langid is a codegen'd array-expression argmax (r12): the plan
    must carry NO exchange and NO join — the old explode ->
    broadcast-join -> window formulation materialized ~256M token rows
    at 512x. The DuckDB oracle still replays the relational form, so
    the hash match proves the two formulations equivalent."""
    plan = REGISTRY["doc_langid"][0](
        spark, SF_ORACLE)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Join" not in tree


def test_r15_hybrid_pruned_arm_plan_shape(spark):
    """The r15 hybrid lexical arm is the impact-pruned chain: the
    query-term batch must BROADCAST into the postings (never a
    corpus-wide sort-merge), and both the per-term top-M prune and
    the per-query rank filter must compile to WindowGroupLimit so
    each shuffle partition keeps only its top rows. No cartesian
    anywhere (the only crossJoin is the broadcast 1-row stats)."""
    plan = _plan(spark, "hybrid_rrf_retrieval")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_r15_hybrid_served_arm_serves_from_artifacts(spark, tmp_path):
    """With both artifacts landed and matched, the hybrid plan must
    scan the POSTINGS parquet instead of tokenizing documents for the
    lexical arm, and scan the inverted-list parquet for the dense arm
    — the in-plan index build disappears from the physical plan."""
    import os

    from sc_crawler_spark.queries import REGISTRY as _REG
    from sc_crawler_spark.sinks import ann_store, postings_store
    from sc_crawler_spark.tables import load

    sf = "/root/testdata/sf0.001"
    bidx = str(tmp_path / "bm25_idx")
    aidx = str(tmp_path / "ivf_idx")
    postings_store.write_bm25_index(
        load(spark, sf, "documents"), bidx, "text", "doc_id",
        max_postings=256)
    ann_store.write_ivf_index(
        load(spark, sf, "embeddings"), aidx, "embedding", "vec_id",
        n_cells=8, iters=2)
    os.environ["SC_SPARK_BM25_INDEX_DIR"] = bidx
    os.environ["SC_SPARK_ANN_INDEX_DIR"] = aidx
    try:
        plan = _REG["hybrid_rrf_retrieval"][0](spark, sf) \
            ._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
        assert "postings" in plan       # lexical arm reads the artifact
        assert "assign" in plan         # dense arm reads inverted lists
        # the per-term top-M prune window only exists in the in-plan
        # index build — served plans carry only the per-query rank
        assert plan.count("WindowGroupLimit") >= 1
    finally:
        os.environ.pop("SC_SPARK_BM25_INDEX_DIR", None)
        os.environ.pop("SC_SPARK_ANN_INDEX_DIR", None)


def test_r16_weighted_sample_is_takeordered_no_exchange(spark):
    """weighted_sample_docs must plan as TakeOrderedAndProject over the
    single scan — per-partition top-k heaps, zero exchanges; a full
    sort (or any shuffle) of the corpus would make the 'cheapest
    possible pass' claim false at 100 TB."""
    plan = _plan(spark, "weighted_sample_docs")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Sort " not in plan  # no global sort node


def test_r16_scd_as_of_filters_before_window_group_limit(spark):
    """scd_as_of_event: the as-of timestamp predicate must apply BELOW
    the ranking window, and the rank<=1 filter must push into
    WindowGroupLimit (per-partition top-1 before the pk shuffle) —
    the one-filter-one-window shape as_of_snapshot promises."""
    plan = _plan(spark, "scd_as_of_event")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan and "Join" not in plan
