"""Distributed connected components — the cluster-resolution step that
turns near-duplicate PAIRS (minhash/simhash/ngram candidates, see
operators/dedup.py) into duplicate CLUSTERS with one canonical survivor.

The reference has no graph operator (its dedup is PK keep-last); this is
part of the training-data-pipeline extension: every real dedup pipeline
must resolve the pair graph into components before it can drop rows,
otherwise A~B and B~C can both survive via different comparisons.

Algorithm: min-label propagation with POINTER JUMPING. Each round every
node takes the min label over {itself} ∪ neighbors (one join + one
partial-agg groupBy), then jumps through its own label's label
(a self-join), which doubles the effective propagation distance per
round — O(log d) rounds for diameter d instead of O(d) for plain
propagation. Labels are monotonically non-increasing, so the fixpoint is
exact: at convergence adjacent nodes share a label and the shared label
is the component minimum.

Scale notes (the 100 TB story):
- state per round is one (node, label) row per node — narrow, hashed on
  node; the input edge list is cached for the duration of the call and
  released when it returns or raises.
- each round is a fixed number of shuffles (neighbor join, min groupBy,
  jump self-join); `localCheckpoint` truncates the lineage so the plan
  does not grow with the iteration count (the classic iterative-Spark
  trap).
- duplicate graphs are overwhelmingly tiny stars/chains, so rounds ≈ 2-3
  in practice; pointer jumping bounds the adversarial chain at log2(n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 50) -> DataFrame:
    """(node, component) for every node in `edges`; component = min node
    id reachable through the undirected pair graph.

    Works for any orderable node type (long doc ids, string PKs).
    Raises if `max_iter` rounds do not converge — with pointer jumping
    that needs a component of diameter > 2^max_iter.
    """
    # one cache of the input edges: the node set and every round's
    # symmetrized edges derive from it, so the (typically expensive)
    # pair source is computed once; released however the loop ends
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).cache()
    try:
        e = e0.filter(F.col("u") != F.col("v"))
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

        # node set from ALL endpoints (self-loops included) so a node
        # that appears only as (x, x) still lands as the singleton
        # (x, x) — dropping self-loops before collecting nodes would
        # silently erase such a doc from the cluster listing
        labels = (
            e0.select("u").union(e0.select(F.col("v").alias("u")))
            .distinct()
            .select(F.col("u").alias("node"), F.col("u").alias("label"))
            .localCheckpoint(eager=True)
        )

        for _ in range(max_iter):
            # Neighbor round: min label over the closed neighborhood.
            # The union feeds ONE partial-aggregated groupBy — map-side
            # combine collapses the per-neighbor rows before the shuffle.
            nbr = sym.join(labels, sym["v"] == labels["node"]).select(
                F.col("u").alias("node"), "label"
            )
            merged = labels.union(nbr).groupBy("node").agg(
                F.min("label").alias("label")
            )
            # Pointer jump: node -> label -> label(label). Doubles the
            # hop distance covered per round (union-find path halving,
            # but as a pure self-join so it stays a declarative plan).
            lab2 = merged.select(
                F.col("node").alias("jnode"), F.col("label").alias("jlabel")
            )
            jumped = (
                merged.join(lab2, merged["label"] == lab2["jnode"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("jlabel"), F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            # Labels only ever decrease, so "no row changed" is the
            # exact fixpoint test; both sides are already hashed on node.
            changed = (
                jumped.alias("n")
                .join(labels.alias("p"), "node")
                .filter(F.col("n.label") != F.col("p.label"))
                .count()
            )
            labels = jumped
            if changed == 0:
                return labels.select("node", F.col("label").alias("component"))
    finally:
        e0.unpersist()
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def duplicate_clusters(pairs: DataFrame, src: str = "id_a",
                       dst: str = "id_b") -> DataFrame:
    """Resolve near-dup pairs into clusters: (doc_id, canonical_id,
    cluster_size). canonical_id = min doc id in the component (the
    survivor everything else deduplicates onto)."""
    cc = connected_components(pairs, src, dst)
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        "cluster_size",
    )


def canonical_by_rank(pairs: DataFrame, src: str = "id_a",
                      dst: str = "id_b", iters: int = 2,
                      damping: float = 0.85) -> DataFrame:
    """Cluster resolution with RANK-based survivor selection (r8,
    composing :func:`connected_components` x :func:`pagerank`):
    (doc_id, canonical_id, cluster_size, canonical_rank), where
    canonical_id is the component member with the HIGHEST PageRank
    (min doc id as the deterministic tiebreak).

    Why not min-id (:func:`duplicate_clusters`): the smallest id is an
    ingestion accident. In a near-dup cluster the highest-centrality
    member is the hub the copies syndicated FROM — keeping it preserves
    the version the most other documents agree with. Both selectors
    share the same component computation; only the argmax changes.

    Ranks and components come from the SAME pair DataFrame: it is
    localCheckpointed once, so the expensive candidate generation
    (queries/pipeline._lsh_pair_graph) runs once for both passes.
    That runs at build time, as connected components' rounds do
    anyway, and holds no CacheManager entry a later call could read.
    """
    from pyspark.sql import Window

    pairs = pairs.localCheckpoint(eager=True)
    cc = connected_components(pairs, src, dst)
    pr = pagerank(pairs, src, dst, iters=iters, damping=damping)
    joined = cc.join(pr, "node")
    w = Window.partitionBy("component").orderBy(
        F.col("pr").desc(), F.col("node"))
    canon = (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("component", F.col("node").alias("canonical_id"),
                F.col("pr").alias("canonical_pr"))
    )
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    # no broadcast hints: canon/sizes scale with the cluster count
    # (millions of components at 100 TB) — all three sides hash on
    # `component`, so the joins co-partition, and AQE upgrades small
    # sides at bench scale (the r8 scaling-dim discipline)
    return (
        cc.join(canon, "component")
        .join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "canonical_id",
                "cluster_size", F.col("canonical_pr"))
    )


def pagerank(pairs: DataFrame, src: str = "id_a", dst: str = "id_b",
             iters: int = 2, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair graph —
    centrality WITHIN duplicate clusters (the highest-rank member of a
    near-dup cluster is the best canonical survivor when "smallest id"
    is too arbitrary: hub pages outrank their syndicated copies).

    The pair list is symmetrized, so every node has degree >= 1 and
    appears on both sides — no dangling-mass correction is needed.
    Uniform init 1/N; each unrolled iteration is one contribution join
    (pr/deg shipped along edges, both sides keyed on the source node)
    + one destination-keyed partial aggregate; mass sums are
    DECIMAL(28,15)-routed so the result is order-independent and
    engine-exact, making the unrolled form oracle-mirrorable in plain
    SQL. Iterations are UNROLLED declaratively — plan size is linear
    in ``iters``; deep training-style iteration should checkpoint per
    round like ``connected_components`` instead.
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        # cache: the edge list is consumed 2x per iteration plus the
        # degree/init aggregates, and `pairs` is typically an EXPENSIVE
        # upstream. The consumers could share the `distinct` exchange,
        # but under AQE no exchange above a cached relation is reused,
        # and the in-plan pair source sits on minhash_lsh_pairs'
        # caches: uncached, doc_pagerank ran 2.3x slower (CHANGES.md).
        .cache()
    )
    deg = edges.groupBy("u").agg(F.count("*").alias("deg"))
    n = deg.agg(F.count("*").alias("n_nodes"))
    pr = deg.join(F.broadcast(n)).select(
        F.col("u").alias("node"), "deg", "n_nodes",
        (F.lit(1.0) / F.col("n_nodes")).alias("pr"))
    for _ in range(iters):
        contrib = (
            edges.join(pr, edges["u"] == pr["node"])
            .select("v", (F.col("pr") / F.col("deg"))
                    .cast("decimal(28,15)").alias("mass"))
            .groupBy("v").agg(F.sum("mass").alias("mass"))
        )
        pr = (
            contrib.join(pr.select("node", "deg", "n_nodes"),
                         contrib["v"] == F.col("node"))
            .select(
                "node", "deg", "n_nodes",
                ((1.0 - damping) / F.col("n_nodes")
                 + damping * F.col("mass").cast("double")).alias("pr"))
        )
    return pr.select("node", "pr")
