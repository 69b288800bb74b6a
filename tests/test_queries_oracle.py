"""Every declared query vs its DuckDB oracle — the same comparison the
driver's t2 correctness gate performs (row count + schema + values)."""

from __future__ import annotations

import pytest

from sc_crawler_spark.queries import REGISTRY

from .conftest import SF_ORACLE, assert_oracle_match

CASES = [(name, fn, sql) for name, (fn, sql) in sorted(REGISTRY.items()) if sql]

# The queries that leave a CacheManager entry behind, which a later
# call with an equal plan would read. Each cache stays because its
# cache-free form measured slower (sf0.1, 4 cores, interleaved rounds,
# cache cleared before every call; CHANGES.md has the table). The test
# asserts these names DO hold a cache, so a site that loses its cache
# must leave this set.
_HOLDS_CACHE = {
    # minhash_lsh_pairs' shingle and signature caches
    "dedup_minhash_lsh", "dedup_pair_eval", "dedup_edit_similarity",
    "dedup_cluster_resolve",
    # the same, plus pagerank's edge cache: over a cached pair source
    # no exchange is reused under AQE
    "doc_pagerank", "dedup_canonical_by_rank",
    # _verified_shingle_pairs' shingle cache
    "dedup_containment", "dedup_ngram_jaccard",
    # simhash_pairs' signature cache
    "dedup_simhash",
    # the PQ codebook and query caches (plan size: uncached, the
    # unrolled trainer is inlined per reference)
    "embed_ann_pq", "embed_ann_ivf_pq", "ann_recall_eval",
    # the DSIR bucket-array features
    "dsir_select",
    # the langid+quality-filtered base (Spark drops an explicit doc_id
    # exchange there as redundant)
    "training_corpus_emit",
}


@pytest.mark.parametrize("name,fn,sql", CASES, ids=[c[0] for c in CASES])
def test_query_matches_oracle(spark, name, fn, sql):
    spark.catalog.clearCache()
    assert_oracle_match(spark, name, fn, sql, SF_ORACLE)
    empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert empty != (name in _HOLDS_CACHE), (
        f"{name}: CacheManager {'empty' if empty else 'holds a cache'}")


def test_registry_complete():
    from __spark_entry__ import oracle_sql, queries

    q = queries()
    o = oracle_sql()
    assert len(q) >= 30
    assert set(o) <= set(q)


def test_entry_smoke(spark):
    from __spark_entry__ import entry

    df = entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "score" in df.columns
