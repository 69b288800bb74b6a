"""connected_components / duplicate_clusters (operators/graph.py)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sc_crawler_spark.operators.graph import (
    connected_components, duplicate_clusters,
)


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = connected_components(df, **kw).collect()
    return {r["node"]: r["component"] for r in got}


def test_two_components_and_transitivity(spark):
    # A~B, B~C must collapse into one cluster even though (A,C) was
    # never compared; (10,11) is a separate component.
    got = _components(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_converges_with_pointer_jumping(spark):
    # A 64-node chain has diameter 63: plain propagation needs 63
    # rounds, pointer jumping must land well inside 12.
    edges = [(i, i + 1) for i in range(63)]
    got = _components(spark, edges, max_iter=12)
    assert set(got.values()) == {0}
    assert len(got) == 64


def test_self_loops_and_reversed_edges(spark):
    # a node appearing ONLY in self-loop pairs must still show up, as a
    # singleton component — the docstring promises every node in edges
    got = _components(spark, [(5, 5), (7, 6), (6, 7), (8, 7)])
    assert got == {5: 5, 6: 6, 7: 6, 8: 6}


def test_string_nodes(spark):
    df = spark.createDataFrame(
        [("srv-b", "srv-a"), ("srv-b", "srv-c")], "id_a string, id_b string"
    )
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == {"srv-a": "srv-a", "srv-b": "srv-a", "srv-c": "srv-a"}


def _python_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    comp = {}
    for x in range(n_nodes):
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for members in comp.values() for x in members}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graph_matches_union_find(spark, seed):
    rng = random.Random(seed)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _python_components(n, edges)
    got = _components(spark, edges)
    touched = {x for e in edges for x in e}
    assert got == {x: want[x] for x in touched}


def test_duplicate_clusters_canonical_and_size(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: (r["canonical_id"], r["cluster_size"])
            for r in duplicate_clusters(pairs).collect()}
    assert rows == {1: (1, 3), 2: (1, 3), 3: (1, 3),
                    10: (10, 2), 11: (10, 2)}


def test_empty_edge_set(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_pagerank_mass_conserved_and_star_hub_ranks_highest(spark):
    """Symmetric pair graphs have no dangling mass, so total PageRank
    stays 1.0 after any number of iterations; on a star the hub must
    outrank every leaf, and leaves tie exactly."""
    from sc_crawler_spark.operators.graph import pagerank

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a long, id_b long")
    pr = {r.node: r.pr for r in pagerank(star, iters=3).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    hub, leaves = pr[0], [pr[i] for i in range(1, 6)]
    assert all(hub > lv for lv in leaves)
    assert len({round(lv, 12) for lv in leaves}) == 1


def test_pagerank_two_node_symmetric_is_uniform(spark):
    """An edge {a,b} is a 2-cycle after symmetrization: PageRank is
    exactly uniform at every iteration."""
    from sc_crawler_spark.operators.graph import pagerank

    pr = {r.node: r.pr for r in pagerank(
        spark.createDataFrame([(7, 9)], "id_a long, id_b long"),
        iters=4).collect()}
    assert pr[7] == pytest.approx(0.5, abs=1e-12)
    assert pr[9] == pytest.approx(0.5, abs=1e-12)


def test_canonical_by_rank_picks_hub_not_min_id(spark):
    """r8: rank-based survivor selection must pick the star HUB (the
    page the copies syndicated from) even when a leaf has the smaller
    id — exactly the case where duplicate_clusters' min-id heuristic
    picks an arbitrary copy. Cluster membership and sizes must agree
    with duplicate_clusters (same components, different survivor)."""
    from sc_crawler_spark.operators.graph import (
        canonical_by_rank, duplicate_clusters)

    # hub 5 with leaves 1-4 (min id = 1, highest rank = 5), plus an
    # unrelated 2-node cluster {8, 9}
    pairs = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 5), (4, 5), (8, 9)], "id_a long, id_b long")
    by_rank = {r.doc_id: r for r in canonical_by_rank(pairs).collect()}
    by_min = {r.doc_id: r for r in duplicate_clusters(pairs).collect()}
    assert set(by_rank) == set(by_min) == {1, 2, 3, 4, 5, 8, 9}
    for d in (1, 2, 3, 4, 5):
        assert by_rank[d].canonical_id == 5      # the hub
        assert by_min[d].canonical_id == 1       # the accident
        assert by_rank[d].cluster_size == 5
    # symmetric 2-cycle: ranks tie exactly -> min-id tiebreak
    for d in (8, 9):
        assert by_rank[d].canonical_id == 8
        assert by_rank[d].cluster_size == 2
    # every member reports the canonical's own rank
    assert len({by_rank[d].canonical_pr for d in (1, 2, 3, 4, 5)}) == 1


def test_connected_components_releases_its_cache_when_a_round_raises(spark):
    """connected_components caches its input edges for the duration of
    the call and releases them however it ends: edges whose evaluation
    raises leave the CacheManager as it was."""
    edges = spark.range(6).select(
        F.col("id").alias("id_a"),
        F.when(F.col("id") >= 0, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).alias("id_b"))
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="boom"):
        connected_components(edges)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
