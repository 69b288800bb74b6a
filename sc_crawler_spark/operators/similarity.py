"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk_bruteforce` — exact top-k: broadcast the (small)
  query set against the corpus, one scan, window top-k. The correctness
  baseline; linear in corpus size, embarrassingly parallel.
- :func:`lsh_signatures` / :func:`cosine_topk_lsh` — random-hyperplane LSH:
  sign-projection signature, banded bucket join, cosine verify. The scale
  path — candidate generation is an equi-join on band buckets, never a
  cross join. Hyperplanes are derived deterministically from MD5 so the
  DuckDB oracle can embed the identical +/-1 matrix.

All vector math is native (zip_with/aggregate fold left-to-right) —
bit-identical to DuckDB's list functions after a double cast.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import dround
from ..functions.vectors import as_double, dot, norm


def hyperplane_signs(n_planes: int, dim: int, seed: str = "hp") -> list[list[int]]:
    """Deterministic pseudo-random +/-1 matrix: sign(j,i) = +1 iff the
    first hex digit of md5('<seed>|<j>|<i>') is even."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}|{j}|{i}".encode()).hexdigest()  # noqa: S324
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def cosine_topk_bruteforce(queries: DataFrame, corpus: DataFrame,
                           vec_col: str, id_col: str, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self).

    Norms are precomputed per row, not per pair: the |q| x |corpus| inner
    loop then costs ONE array fold (the dot product) instead of three —
    identical arithmetic (sqrt of the same self-dot), just hoisted.
    """
    q = queries.select(F.col(id_col).alias("query_id"),
                       as_double(F.col(vec_col)).alias("qv"))
    q = q.withColumn("qn", norm(F.col("qv")))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      as_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cn", norm(F.col("cv")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # project the vectors away BEFORE the ranking shuffle: the window
        # then moves 3 scalars per pair instead of two dim-length arrays
        .select(
            "query_id", "neighbor_id",
            dround(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                   6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               vec_col: str = "cv", cent_col: str = "centv") -> DataFrame:
    """IVF cell assignment: each vector goes to the centroid with the
    highest inner product (deterministic tiebreak on cell_id). Centroids
    broadcast; cost is |corpus| x n_cells dot products, one pass."""
    scored = corpus.crossJoin(F.broadcast(centroids)).withColumn(
        "dotp", dot(F.col(vec_col), F.col(cent_col))
    )
    w = Window.partitionBy(corpus.columns[0]).orderBy(
        F.col("dotp").desc(), F.col("cell_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "dotp", cent_col)
    )


def ivf_train_centroids(corpus: DataFrame, vec_col: str, id_col: str,
                        n_cells: int = 8, iters: int = 2) -> DataFrame:
    """Lloyd-iteration centroid training for the IVF index, expressed
    as DataFrame ops: assign (inner-product argmax against broadcast
    centroids) then re-center (element-wise mean per cell via
    posexplode -> (cell, dim) partial-aggregated avg -> array
    reassembly). Seeded from the first ``n_cells`` vectors by id, so
    training is deterministic.

    Scale notes: each iteration shuffles (cell, dim, value) triples
    with map-side combine — |corpus| x dim rows of three scalars, never
    whole vectors; centroids stay a broadcast dim. Cells that lose all
    members keep their previous centroid (no silent index shrink).
    """
    c = corpus.select(F.col(id_col).alias("_id"),
                      as_double(F.col(vec_col)).alias("cv"))
    cents = (
        c.filter(F.col("_id") < n_cells)
        .select(F.col("_id").alias("cell_id"), F.col("cv").alias("centv"))
    )
    for _ in range(iters):
        assigned = ivf_assign(c, cents, "cv", "centv")
        means = (
            assigned.select("cell_id", F.posexplode("cv").alias("pos", "x"))
            .groupBy("cell_id", "pos").agg(F.avg("x").alias("m"))
            .groupBy("cell_id")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "m"))).alias("_pm"))
            .select("cell_id",
                    F.transform("_pm", lambda s: s["m"]).alias("_new"))
        )
        cents = (
            cents.join(means, "cell_id", "left")
            .select("cell_id",
                    F.coalesce("_new", "centv").alias("centv"))
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
    return cents


def cosine_topk_ivf(queries: DataFrame, corpus: DataFrame, vec_col: str,
                    id_col: str, k: int = 5, n_cells: int = 8,
                    n_probe: int = 2,
                    centroids: DataFrame | None = None) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors are bucketed into
    ``n_cells`` inverted lists (cell = argmax inner product against a
    deterministic centroid set — the first ``n_cells`` corpus vectors by
    id, a seed choice that keeps both engines and re-runs identical);
    each query probes its ``n_probe`` closest cells and ranks candidates
    by exact cosine.

    The scale path: per-query work drops from |corpus| to
    ~|corpus| * n_probe / n_cells, and the probe join is an equi-join on
    cell id — shuffle-partitionable, never all-pairs. Recall/latency
    trades via n_probe (n_probe = n_cells degrades to brute force).
    """
    cents = centroids if centroids is not None else (
        corpus.select(F.col(id_col).alias("cell_id"),
                      as_double(F.col(vec_col)).alias("centv"))
        .filter(F.col("cell_id") < n_cells)
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      as_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cn", norm(F.col("cv")))
    assigned = ivf_assign(c, cents, "cv", "centv")
    return ivf_probe_topk(queries, cents, assigned, vec_col, id_col,
                          k=k, n_probe=n_probe)


def ivf_probe_topk(queries: DataFrame, cents: DataFrame,
                   assigned: DataFrame, vec_col: str, id_col: str,
                   k: int = 5, n_probe: int = 2) -> DataFrame:
    """The IVF probe/serve tail over an ALREADY-BUILT structure —
    shared by cosine_topk_ivf (in-plan training) and the landed
    artifact path (sinks/ann_store.cosine_topk_served, which reads
    ``cents``/``assigned`` from parquet so a retrieval session pays
    zero training shuffles). ``assigned`` must carry (neighbor_id,
    cell_id, cv, cn)."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       as_double(F.col(vec_col)).alias("qv"))
    q = q.withColumn("qn", norm(F.col("qv")))
    q_scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "dotp", dot(F.col("qv"), F.col("centv"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("dotp").desc(), F.col("cell_id")
    )
    probes = (
        q_scored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "qv", "qn", "cell_id")
    )

    scored = (
        probes.join(assigned, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # vectors projected away before the ranking shuffle (narrow rows)
        .select(
            "query_id", "neighbor_id",
            dround(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                   6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def quantize_vec(vec: Column, scale: Column) -> Column:
    """Symmetric int8 scalar quantization: code_i = floor(x_i/scale +
    0.5). With scale = max|x|/127 over the corpus, codes stay within
    [-127, 127] without clamping; floor(x + 0.5) rounds identically in
    Spark and DuckDB (no banker's-rounding divergence)."""
    return F.transform(vec, lambda x: F.floor(x / scale + 0.5).cast("int"))


def cosine_topk_sq(queries: DataFrame, corpus: DataFrame, vec_col: str,
                   id_col: str, k: int = 5, refine: int = 3) -> DataFrame:
    """Scalar-quantized two-stage top-k: rank ALL pairs on int8 codes,
    keep ``k * refine`` candidates per query, then re-rank those few
    exactly on the float vectors.

    The 100 TB story: the first stage moves 4x less data than float32
    (int8 codes) and its integer dot products are exact in both engines;
    the expensive float pass touches only k*refine candidates per query
    — at a billion vectors that is the difference between shuffling the
    corpus and shuffling a few rows per query. Quantization error only
    costs recall when a true neighbor falls below the candidate cut;
    ``refine`` buys it back (tests gate recall@5).

    CAVEAT: stage 1 is still an all-pairs O(|Q| x |corpus|) comparison
    — quantization cuts bytes, not candidates. This function is the
    quantization building block / small-corpus path; the production
    shape is :func:`cosine_topk_ivf_sq`, which composes the same int8
    codes with IVF cell pruning so stage 1 becomes an equi-join on
    cell_id (~|corpus| * n_probe / n_cells work per query).
    """
    scale_df = corpus.select(
        F.explode(as_double(F.col(vec_col))).alias("x")
    ).agg((F.max(F.abs(F.col("x"))) / 127.0).alias("scale"))

    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      as_double(F.col(vec_col)).alias("cv"))
    c = c.crossJoin(F.broadcast(scale_df)).withColumn(
        "cq", quantize_vec(F.col("cv"), F.col("scale"))).withColumn(
        "cqn", norm(F.transform("cq", lambda x: x.cast("double"))))
    q = queries.select(F.col(id_col).alias("query_id"),
                       as_double(F.col(vec_col)).alias("qv"))
    q = q.crossJoin(F.broadcast(scale_df)).withColumn(
        "qq", quantize_vec(F.col("qv"), F.col("scale"))).withColumn(
        "qqn", norm(F.transform("qq", lambda x: x.cast("double"))))

    # stage 1: approximate ranking on codes only — qv/cv never cross
    approx = (
        F.broadcast(q.select("query_id", "qq", "qqn"))
        .crossJoin(c.select("neighbor_id", "cq", "cqn"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            # rounded BEFORE ranking so the candidate cut is identical
            # across engines (ties fall to the neighbor_id tiebreak)
            dround(
                F.aggregate(
                    F.zip_with("qq", "cq",
                               lambda a, b: (a * b).cast("long")),
                    F.lit(0).cast("long"), lambda acc, x: acc + x)
                / (F.col("qqn") * F.col("cqn")), 6).alias("approx_sim"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id"))
    cand = (approx.withColumn("_rn", F.row_number().over(wa))
            .filter(F.col("_rn") <= k * refine)
            .select("query_id", "neighbor_id"))

    # stage 2: exact re-rank of the sparse candidate set
    qv = q.select("query_id", "qv").withColumn("qn", norm(F.col("qv")))
    cvv = c.select("neighbor_id", "cv").withColumn("cn", norm(F.col("cv")))
    scored = (
        cand.join(F.broadcast(qv), "query_id").join(cvv, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            dround(dot(F.col("qv"), F.col("cv"))
                   / (F.col("qn") * F.col("cn")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_topk_ivf_sq(queries: DataFrame, corpus: DataFrame, vec_col: str,
                       id_col: str, k: int = 5, n_cells: int = 8,
                       n_probe: int = 3, refine: int = 3,
                       centroids: DataFrame | None = None,
                       broadcast_queries: bool = False) -> DataFrame:
    """IVF x SQ composed ANN — the production-shaped index: corpus
    vectors land in ``n_cells`` inverted lists (argmax inner product
    against deterministic centroids, same as :func:`cosine_topk_ivf`),
    int8 scalar-quantized codes rank candidates ONLY within each
    query's ``n_probe`` probed cells, and the top ``k * refine``
    survivors re-rank exactly on the float vectors.

    This closes :func:`cosine_topk_sq`'s scale gap: its stage 1 is an
    all-pairs O(|Q| x |corpus|) scan over the codes (the int8 constant
    cuts bytes 4x but not comparisons). Here stage 1 is an EQUI-JOIN on
    cell_id — per-query work ~ |corpus| * n_probe / n_cells int8 dot
    products, shuffle-partitionable by cell, never a cross join over
    the corpus — and the float vectors are touched only for the
    k*refine finalists per query. Recall trades via n_probe (cell
    misses) and refine (quantization misses); both gated in
    tests/test_ann_recall.py.

    Cross-engine determinism: assignment and probe ordering use raw
    float inner products (identical arithmetic both engines, cell_id
    tiebreak); the stage-1 cut ranks on the int8 cosine ROUNDED to 6
    with a neighbor_id tiebreak, so both engines pick the same
    candidate set; integer dot products are exact everywhere.

    ``broadcast_queries`` pins a broadcast hint on the query-derived
    sides (stage-1 probes, stage-2 float re-rank). Default OFF — the
    probe set scales with |Q| * n_probe, and an unconditional hint
    would die at the broadcast ceiling for a large query batch.
    Unhinted, the cell_id equi-join plans as a shuffle join and AQE
    upgrades it to broadcast at runtime when the probe side turns out
    small — the scale-safe default. Callers that KNOW |Q| is tiny
    (interactive top-k, the registry's 10-query driver entry) pass
    True to skip the shuffle statically.
    """
    cents = centroids if centroids is not None else (
        corpus.select(F.col(id_col).alias("cell_id"),
                      as_double(F.col(vec_col)).alias("centv"))
        .filter(F.col("cell_id") < n_cells)
    )
    scale_df = corpus.select(
        F.explode(as_double(F.col(vec_col))).alias("x")
    ).agg((F.max(F.abs(F.col("x"))) / 127.0).alias("scale"))

    # corpus: cell assignment on floats, then narrow to int8 codes —
    # the float vectors do NOT travel through stage 1
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      as_double(F.col(vec_col)).alias("cv"))
    assigned = ivf_assign(c, cents, "cv", "centv")
    coded = (
        assigned.crossJoin(F.broadcast(scale_df))
        .withColumn("cq", quantize_vec(F.col("cv"), F.col("scale")))
        .withColumn("cqn", norm(F.transform("cq", lambda x: x.cast("double"))))
        .select("neighbor_id", "cell_id", "cq", "cqn")
    )

    # queries: probe the n_probe closest cells, carry int8 codes only
    q = queries.select(F.col(id_col).alias("query_id"),
                       as_double(F.col(vec_col)).alias("qv"))
    q_scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "dotp", dot(F.col("qv"), F.col("centv")))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("dotp").desc(), F.col("cell_id"))
    probes = (
        q_scored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .crossJoin(F.broadcast(scale_df))
        .withColumn("qq", quantize_vec(F.col("qv"), F.col("scale")))
        .withColumn("qqn", norm(F.transform("qq", lambda x: x.cast("double"))))
        .select("query_id", "cell_id", "qq", "qqn")
    )

    # stage 1: int8 ranking WITHIN probed cells — equi-join on cell_id
    probes_side = F.broadcast(probes) if broadcast_queries else probes
    approx = (
        probes_side.join(coded, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            dround(
                F.aggregate(
                    F.zip_with("qq", "cq",
                               lambda a, b: (a * b).cast("long")),
                    F.lit(0).cast("long"), lambda acc, x: acc + x)
                / (F.col("qqn") * F.col("cqn")), 6).alias("approx_sim"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id"))
    cand = (approx.withColumn("_rn", F.row_number().over(wa))
            .filter(F.col("_rn") <= k * refine)
            .select("query_id", "neighbor_id"))

    # stage 2: exact re-rank of the sparse candidate set on floats
    qv = q.select("query_id", "qv").withColumn("qn", norm(F.col("qv")))
    qv_side = F.broadcast(qv) if broadcast_queries else qv
    cvv = c.select("neighbor_id", "cv").withColumn("cn", norm(F.col("cv")))
    scored = (
        cand.join(qv_side, "query_id").join(cvv, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            dround(dot(F.col("qv"), F.col("cv"))
                   / (F.col("qn") * F.col("cn")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


_SIG_EXPRS: dict[tuple, Column] = {}


def _sig_expr(planes: list[list[int]]) -> Column:
    """The memoized sign-signature expression over column ``_v``: bit
    j = 1 iff dot(_v, plane_j) > 0, as ONE parsed SQL expression — the
    +/-1 plane matrix would otherwise cost n_planes x dim F.lit py4j
    roundtrips (~2 s of cold plan-build at 16x64) for the same
    zip_with/aggregate fold the string spells out. The parsed Column
    is memoized per plane matrix — unresolved expressions are
    immutable and reusable across plans, so repeat builds skip the
    big-literal parse too. Both consumers (lsh_signatures,
    _signed_frame) call this one builder."""
    key = tuple(tuple(p) for p in planes)
    sig = _SIG_EXPRS.get(key)
    if sig is None:
        bits = " , ".join(
            "CASE WHEN aggregate(zip_with(_v, array("
            + ", ".join(f"{float(s)!r}D" for s in plane)
            + "), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x) > 0 "
            "THEN '1' ELSE '0' END"
            for plane in planes
        )
        sig = _SIG_EXPRS[key] = F.expr(f"concat({bits})").alias("lsh_sig")
    return sig


def lsh_signatures(df: DataFrame, vec_col: str, id_col: str,
                   planes: list[list[int]]) -> DataFrame:
    """Per-vector sign signature: bit j = 1 iff dot(v, plane_j) > 0
    (see :func:`_sig_expr` for the parse-once mechanics)."""
    sig = _sig_expr(planes)
    return df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v")) \
             .select(F.col(id_col), sig)


def _signed_frame(df: DataFrame, src_id: str, src_vec: str, id_out: str,
                  vec_out: str, norm_out: str,
                  planes: list[list[int]]) -> DataFrame:
    """(id, double-vector, norm, lsh_sig) — the one projection every
    LSH consumer (band explode + cosine verify) reads, so the parquet
    scan, the double cast, the norm fold and the n_planes sign fold
    run once per call."""
    sig = _sig_expr(planes)
    return (df.select(F.col(src_id).alias(id_out),
                      as_double(F.col(src_vec)).alias(vec_out))
            .withColumn(norm_out, norm(F.col(vec_out)))
            .select(id_out, vec_out, norm_out,
                    F.col(vec_out).alias("_v"))
            .select(id_out, vec_out, norm_out, sig))


def _explode_bands(df: DataFrame, id_col: str, chunk: int, n_bands: int,
                   keep: tuple = ()) -> DataFrame:
    """One row per (id, band) with the band's sig substring plus
    ``keep`` columns carried through (e.g. the vector + norm, so the
    verify can score inside the band-join stage)."""
    return df.select(
        F.col(id_col), *[F.col(k) for k in keep],
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.substring("lsh_sig", i * chunk + 1, chunk).alias("sig"),
            ) for i in range(n_bands)
        ])).alias("bs"),
    ).select(id_col, *keep, F.col("bs.band").alias("band"),
             F.col("bs.sig").alias("sig"))


def cosine_topk_lsh(queries: DataFrame, corpus: DataFrame, vec_col: str,
                    id_col: str, k: int = 5, n_planes: int = 16,
                    n_bands: int = 4, dim: int = 64) -> DataFrame:
    """Approximate top-k: candidates share at least one LSH band signature;
    verified and ranked by exact cosine.

    Shape (r16 rewrite — was broadcast-bands -> distinct -> re-join
    both vector sources): each side is ONE (id, vector, norm,
    signature) projection with one consumer — scan, cast, norm and the
    n_planes sign fold run once per call. The QUERY bands ride a
    broadcast carrying (qv, qn) — the query batch is bounded at any
    corpus scale — and the verify scores INSIDE the band-join stage,
    so a corpus vector is read once in its scan stage and never
    crosses an exchange. Band-duplicate pairs are collapsed by
    a narrow max-aggregate (duplicates carry the identical rounded
    score, so max == any; map-side combine eats most of them before
    the shuffle). Two narrow exchanges total — (query,neighbor)
    dedup agg, then the per-query ranking window — vs four in the
    old plan (corpus bands, pair distinct, corpus re-join, window);
    at sf0.1 this is 0.63 s -> ~0.35 s warm, and at 100 TB it
    removes a full-corpus re-shuffle. Cost: a duplicate pair re-pays
    the 64-wide dot product once per extra shared band
    (<= n_bands-1, typically 0-2) — cheaper than re-shuffling the
    corpus by id."""
    planes = hyperplane_signs(n_planes, dim)
    chunk = n_planes // n_bands
    qsig = _signed_frame(queries, id_col, vec_col,
                         "query_id", "qv", "qn", planes)
    csig = _signed_frame(corpus, id_col, vec_col,
                         "neighbor_id", "cv", "cn", planes)
    qb = _explode_bands(qsig, "query_id", chunk, n_bands,
                        keep=("qv", "qn"))
    cb = _explode_bands(csig, "neighbor_id", chunk, n_bands,
                        keep=("cv", "cn"))
    scored = (
        cb.join(F.broadcast(qb), ["band", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # score in-stage, project vectors away before anything moves
        .select(
            "query_id", "neighbor_id",
            dround(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                   6).alias("cos_sim"),
        )
        # band-duplicate collapse: identical rounded doubles, max==any
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _pq_subvectors(df: DataFrame, id_out: str, vec_col: str, m: int,
                   subdim: int, sub_out: str) -> DataFrame:
    """(id, s, subvector) — each vector exploded into its m contiguous
    subdim-wide slices. The ONE slicing convention every PQ consumer
    (training, encoding, query tables) shares; change it here or
    codebooks silently desynchronize from code assignment."""
    return df.select(
        id_out,
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("s"),
                     F.slice(vec_col, s * subdim + 1, subdim)
                     .alias(sub_out))
            for s in range(m)
        ])).alias("e")
    ).select(id_out, "e.s", f"e.{sub_out}")


def pq_train_codebooks(corpus: DataFrame, vec_col: str, id_col: str,
                       m: int = 4, subdim: int = 16, k_cents: int = 16,
                       iters: int = 2) -> DataFrame:
    """Product-quantization codebooks: the vector splits into ``m``
    contiguous ``subdim``-wide subspaces, each trained with its own
    tiny k-means (seeded init = the first ``k_cents`` vectors' slices,
    L2 assignment, DECIMAL-routed re-centering rounded to 6) — the
    cross-engine-deterministic Lloyd recipe shared with the IVF
    trainer, run over ONE exploded (vec, subspace) frame so all m
    codebooks train in the same jobs instead of m sequential plans.

    Returns (s, cent_id, centv). Iterations are unrolled — keep
    ``iters <= 2`` like the other declarative trainers.

    L2 argmin uses ``ip(c,c) - 2*ip(v,c)`` (the ||v||² term is
    constant per row and drops out of the ordering) so both engines
    compare compositions of the SAME sequential-fold primitive rather
    than introducing a new squared-diff fold."""
    v_sub = _pq_subvectors(
        corpus.select(F.col(id_col).alias("vid"),
                      as_double(F.col(vec_col)).alias("_v")),
        "vid", "_v", m, subdim, "sv")
    cents = v_sub.filter(F.col("vid") < k_cents).select(
        "s", F.col("vid").alias("cent_id"), F.col("sv").alias("centv"))
    mean6 = dround(
        F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
        / F.count("*"), 6)
    for _ in range(iters):
        assigned = _pq_assign(v_sub, cents)
        means = (
            assigned.select("s", "cent_id",
                            F.posexplode("sv").alias("pos", "x"))
            .groupBy("s", "cent_id", "pos").agg(mean6.alias("m"))
            .groupBy("s", "cent_id")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "m"))).alias("_pm"))
            .select("s", "cent_id",
                    F.transform("_pm", lambda st: st["m"]).alias("_new"))
        )
        # codebooks are dictionary-sized BY CONSTRUCTION (m * k_cents
        # rows) but derived from an aggregation, so static stats are
        # unknown and the planner would sort-merge two 64-row frames —
        # the broadcast hint is statically safe at any corpus scale
        cents = cents.join(F.broadcast(means), ["s", "cent_id"],
                           "left").select(
            "s", "cent_id", F.coalesce("_new", "centv").alias("centv"))
    return cents


def _pq_assign(v_sub: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vector, subspace): L2 argmin with a
    cent_id tiebreak; the codebook side is dictionary-sized and
    broadcasts."""
    d2 = dot(F.col("centv"), F.col("centv")) - 2 * dot(F.col("sv"),
                                                       F.col("centv"))
    w = Window.partitionBy("vid", "s").orderBy(F.col("_d2"), F.col("cent_id"))
    return (
        v_sub.join(F.broadcast(cents), "s")
        .withColumn("_d2", d2)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vid", "s", "sv", "cent_id")
    )


def cosine_topk_pq(queries: DataFrame, corpus: DataFrame, vec_col: str,
                   id_col: str, k: int = 5, refine: int = 20, m: int = 4,
                   subdim: int = 16, k_cents: int = 16,
                   broadcast_queries: bool = False) -> DataFrame:
    """Product-quantization ANN: corpus vectors compress to ``m`` small
    codes (m*log2(k_cents) bits — here 16 bits vs 2048 for the f32
    vector) and stage 1 ranks candidates by APPROXIMATE COSINE from ADC
    lookups: dot(q, v̂) / ||v̂||, where v̂ is the concatenation of each
    subspace's chosen centroid — dot(q, v̂) = Σ_s dot(q_s, c_s) and,
    because the subspaces are orthogonal coordinate blocks,
    ||v̂||² = Σ_s ||c_s||² EXACTLY. Normalizing by the reconstructed
    norm matters off this fixture: ranking by raw approximate dot lets
    large-norm vectors crowd the shortlist regardless of angle (the SQ
    stage-1 divides by code norms for the same reason). Both sums are
    DECIMAL(28,12)-routed so the shortlist is engine-exact; the top
    k*refine survivors re-rank with exact cosine.

    At 100 TB the wins compound: the corpus-resident state is the code
    table (vid + m small ints), stage 1 never touches a float vector,
    and only |shortlist| full vectors are fetched for the re-rank.
    ``broadcast_queries`` follows the ivf_sq contract: OFF by default —
    the ADC tables (|Q| x m x k_cents rows) and the re-rank query side
    scale with |Q| and a hard-coded hint would die at the broadcast
    ceiling on a large batch; unhinted they shuffle and AQE upgrades
    small sides at runtime. True for known-tiny interactive sets like
    the registry's 10-query driver entry."""
    # Kept caches (codebooks, queries): uncached, each reference inlines
    # the unrolled Lloyd training and the plan passes the trainer's
    # node ceiling (245 > 220 here, 718 > 430 for ivf_pq; the plan
    # guards in test_skew_and_plans), at no measured speed difference
    cents = pq_train_codebooks(corpus, vec_col, id_col, m, subdim,
                               k_cents).cache()
    c0 = corpus.select(F.col(id_col).alias("vid"),
                       as_double(F.col(vec_col)).alias("_v"))
    codes = _pq_assign(_pq_subvectors(c0, "vid", "_v", m, subdim, "sv"),
                       cents).select(
        F.col("vid").alias("neighbor_id"), "s", "cent_id")
    q0 = queries.select(F.col(id_col).alias("query_id"),
                        as_double(F.col(vec_col)).alias("qv")).cache()
    q_sub = _pq_subvectors(q0, "query_id", "qv", m, subdim, "qs")
    # ADC tables: (query, subspace, cent) -> dot(q_s, centroid), plus
    # the centroid's ||c_s||² for the reconstructed-norm denominator
    tables = (
        q_sub.join(F.broadcast(cents), "s")
        .select("query_id", "s", "cent_id",
                dot(F.col("qs"), F.col("centv")).alias("t"),
                dot(F.col("centv"), F.col("centv")).alias("n2"))
    )
    tables_side = F.broadcast(tables) if broadcast_queries else tables
    approx = (
        codes.join(tables_side, ["s", "cent_id"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum(F.col("t").cast("decimal(28,12)")).cast("double")
              / F.sqrt(F.sum(F.col("n2").cast("decimal(28,12)"))
                       .cast("double"))).alias("approx_sim"))
    )
    short_w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id"))
    cand = (
        approx.withColumn("_rn", F.row_number().over(short_w))
        .filter(F.col("_rn") <= k * refine)
        .select("query_id", "neighbor_id")
    )
    c_full = c0.select(F.col("vid").alias("neighbor_id"),
                       F.col("_v").alias("cv"))
    scored = (
        cand.join(F.broadcast(q0) if broadcast_queries else q0, "query_id")
        .join(c_full, "neighbor_id")
        .select("query_id", "neighbor_id",
                dround(dot(F.col("qv"), F.col("cv"))
                       / (norm(F.col("qv")) * norm(F.col("cv"))), 6)
                .alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_topk_ivf_pq(queries: DataFrame, corpus: DataFrame, vec_col: str,
                       id_col: str, k: int = 5, n_cells: int = 8,
                       n_probe: int = 3, refine: int = 20, m: int = 4,
                       subdim: int = 16, k_cents: int = 16,
                       centroids: DataFrame | None = None,
                       broadcast_queries: bool = False,
                       residual: bool = True) -> DataFrame:
    """IVF x PQ composed ANN — inverted lists prune candidates, PQ
    codes rank them: each corpus vector lands in a cell AND compresses
    to m codebook indices; stage 1 joins the (cell-restricted) code
    table against each query's broadcast ADC lookup tables, so
    per-query work is ~|corpus| * n_probe / n_cells TABLE LOOKUPS over
    m-small-int codes — no float vector and no full dot product
    anywhere before the exact re-rank of the k*refine shortlist.

    Relative to :func:`cosine_topk_ivf_sq`: SQ codes still pay an
    m*subdim-length integer dot per candidate; PQ pays m lookups and
    holds 4x less candidate state (16 bits vs 64 int8 bytes here).
    Recall trades across n_probe (cell misses), k_cents (quantization)
    and refine (shortlist) — gated in tests/test_ann_recall.py.

    ``broadcast_queries`` mirrors the ivf_sq contract: OFF by default
    (probe/table sides scale with |Q|; unhinted they shuffle and AQE
    upgrades small sides at runtime), True for known-tiny interactive
    query sets like the registry's 10-query driver entry.

    ``centroids`` (cell_id, centv) overrides the seeded first-n_cells
    default — pass Lloyd-trained cells (the ivf_sq recipe) to cut cell
    misses without widening n_probe.

    ``residual=True`` (default) is the standard IVFADC refinement from
    the public PQ literature: the PQ codebooks encode
    ``r = v - centroid(cell(v))`` instead of raw ``v``. Residuals
    concentrate near the origin, so the same 16-bit code budget spends
    its resolution on the part of the vector the cell didn't already
    explain — measured on the fixture: recall@5 0.90 at HALF the
    shortlist (refine=10) vs raw encoding's 0.88 at refine=20. Stage 1
    reconstructs v̂ = c_cell + r̂ without touching a float vector:
    dot(q, v̂) = dot(q, c_cell) + Σ_s ADC_s (the cell dot is already
    computed by the probe ranking), and
    ||v̂||² = ||c_cell||² + Σ_s (2·dot(c_cell_s, r̂_s) + ||r̂_s||²) —
    both correction terms live in dictionary-sized broadcast dims
    (n_cells x m x k_cents rows), exact by subspace orthogonality."""
    cents = centroids if centroids is not None else (
        corpus.select(F.col(id_col).alias("cell_id"),
                      as_double(F.col(vec_col)).alias("centv"))
        .filter(F.col("cell_id") < n_cells)
    )
    if residual:
        # the residual path references the centroid dim FIVE times
        # (assignment, residual subtraction, probe ranking, cross-term
        # dim, cell-norm dim) and the PQ Lloyd unrolling replicates
        # each reference's lineage — with a trained-centroid chain
        # feeding in, the analyzed plan blows past 1900 nodes. A lazy
        # localCheckpoint truncates the dictionary-sized dim's lineage
        # (n_cells rows — materialization is trivial) and keeps the
        # unrolled plan linear; values are unchanged, same discipline
        # as the PageRank per-iteration checkpoint (operators/graph.py)
        cents = cents.localCheckpoint(eager=False)
    c0 = corpus.select(F.col(id_col).alias("vid"),
                       as_double(F.col(vec_col)).alias("_v"))
    assigned = ivf_assign(
        c0.select(F.col("vid").alias("neighbor_id"),
                  F.col("_v").alias("cv")), cents, "cv", "centv")
    cells = assigned.select("neighbor_id", "cell_id")
    # codebooks and queries cached for plan size, see cosine_topk_pq
    if residual:
        # r = v - centroid(cell): same float op (a - b) as the oracle's
        # list_transform, so codebooks stay engine-exact
        resid = (
            assigned.join(F.broadcast(cents), "cell_id")
            .select(F.col("neighbor_id").alias("vid"),
                    F.zip_with("cv", "centv",
                               lambda a, b: a - b).alias("rv"))
        )
        books = pq_train_codebooks(resid, "rv", "vid", m, subdim,
                                   k_cents).cache()
        enc_sub = _pq_subvectors(resid, "vid", "rv", m, subdim, "sv")
    else:
        books = pq_train_codebooks(corpus, vec_col, id_col, m, subdim,
                                   k_cents).cache()
        enc_sub = _pq_subvectors(c0, "vid", "_v", m, subdim, "sv")
    codes = (
        _pq_assign(enc_sub, books)
        .select(F.col("vid").alias("neighbor_id"), "s", "cent_id")
        .join(cells, "neighbor_id")
    )
    q0 = queries.select(F.col(id_col).alias("query_id"),
                        as_double(F.col(vec_col)).alias("qv")).cache()
    wq = Window.partitionBy("query_id").orderBy(
        F.col("dotp").desc(), F.col("cell_id"))
    probes = (
        q0.crossJoin(F.broadcast(cents))
        .withColumn("dotp", dot(F.col("qv"), F.col("centv")))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "cell_id", F.col("dotp").alias("qc"))
    )
    q_sub = _pq_subvectors(q0, "query_id", "qv", m, subdim, "qs")
    tables = (
        q_sub.join(F.broadcast(books), "s")
        .select("query_id", "s", "cent_id",
                dot(F.col("qs"), F.col("centv")).alias("t"),
                dot(F.col("centv"), F.col("centv")).alias("n2"))
    )
    probes_side = F.broadcast(probes) if broadcast_queries else probes
    tables_side = F.broadcast(tables) if broadcast_queries else tables
    joined = (
        probes_side.join(codes, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(tables_side, ["query_id", "s", "cent_id"])
    )
    if residual:
        # dictionary-sized correction dims (statically safe broadcasts:
        # n_cells x m x k_cents and n_cells rows by construction)
        cell_sub = _pq_subvectors(
            cents.select("cell_id", F.col("centv").alias("_c")),
            "cell_id", "_c", m, subdim, "csv")
        crossdim = (
            cell_sub.join(F.broadcast(books), "s")
            .select("cell_id", "s", "cent_id",
                    (2 * dot(F.col("csv"), F.col("centv"))
                     + dot(F.col("centv"), F.col("centv"))).alias("xn"))
        )
        cellnorm = cents.select(
            "cell_id", dot(F.col("centv"), F.col("centv")).alias("cn2"))
        approx = (
            joined.join(F.broadcast(crossdim), ["cell_id", "s", "cent_id"])
            .join(F.broadcast(cellnorm), "cell_id")
            .groupBy("query_id", "neighbor_id")
            # approximate COSINE of the IVFADC reconstruction
            # v̂ = c_cell + r̂: numerator adds the probe's cell dot,
            # denominator adds the cell norm and cross terms; sums
            # DECIMAL-routed, constants per group via max (qc/cn2 are
            # functions of the group's unique cell)
            .agg(((F.max("qc")
                   + F.sum(F.col("t").cast("decimal(28,12)"))
                   .cast("double"))
                  / F.sqrt(F.max("cn2")
                           + F.sum(F.col("xn").cast("decimal(28,12)"))
                           .cast("double"))).alias("approx_sim"))
        )
    else:
        approx = (
            joined.groupBy("query_id", "neighbor_id")
            # approximate COSINE: dot(q, v̂) / ||v̂|| with the
            # reconstructed norm exact by subspace orthogonality (see
            # cosine_topk_pq)
            .agg((F.sum(F.col("t").cast("decimal(28,12)")).cast("double")
                  / F.sqrt(F.sum(F.col("n2").cast("decimal(28,12)"))
                           .cast("double"))).alias("approx_sim"))
        )
    short_w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id"))
    cand = (
        approx.withColumn("_rn", F.row_number().over(short_w))
        .filter(F.col("_rn") <= k * refine)
        .select("query_id", "neighbor_id")
    )
    c_full = c0.select(F.col("vid").alias("neighbor_id"),
                       F.col("_v").alias("cv"))
    scored = (
        cand.join(F.broadcast(q0) if broadcast_queries else q0, "query_id")
        .join(c_full, "neighbor_id")
        .select("query_id", "neighbor_id",
                dround(dot(F.col("qv"), F.col("cv"))
                       / (norm(F.col("qv")) * norm(F.col("cv"))), 6)
                .alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
