"""Workload-profile composite scoring — the reference's flagship analytic
(SURVEY.md §2.5 A1-A3; workload_profile_scores.py:156-442). The one
implementation: every composite query and ``cmd_score`` is a final
projection over :func:`entry_scores` + :func:`composite` /
:func:`breakdown`.

Input: matched fact rows ``(subject_keys..., entry_idx, score)`` and an
entry catalog in the ``workloads.ENTRIES`` shape — dicts with
``entry_idx, workload_key, weight, label, on_missing, penalty, hib``.

1. A1 — best score per (subject, entry), max or (lower-is-better) min:
   ONE pivoted conditional aggregate per subject, the only shuffle.
2. A2 — EXACT fleet median per entry (``percentile``, not
   ``approx_percentile`` — medians feed every score): one single-row
   aggregate over the wide frame, broadcast back.
3. Unpivot to one row per (subject, catalog entry) — missing entries
   carry a NULL best — and normalize: ``ratio`` = raw/median (flipped
   for lower-is-better), valid only when raw > 0 AND median > 0
   (reference ``_normalise``, :226-232).
4. A3 per (subject, workload): REQUIRE suppresses, PENALIZE substitutes
   ``log2(penalty)``, IGNORE renormalizes; composite =
   ``2^(Σ w·log2 ratio / Σ w)``. :func:`composite` groups and
   :func:`breakdown` windows on (subject, workload), which the subject
   hash partitioning of step 1 already satisfies — no further exchange.

Determinism: each ``w·log2`` term is cast to DECIMAL(28,12) before the
sum, so partial-aggregation order can't perturb it (oracle parity). No
step caches: the wide frame's two consumers share one exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import round_sig_figs, round_sig_figs_pure


def _sq(s: str) -> str:
    """Single-quote a string literal for F.expr strings."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _entry_struct(e: dict) -> str:
    i, pen = e["entry_idx"], e["penalty"]
    return (
        f"named_struct('entry_idx', {i}, "
        f"'workload_key', {_sq(e['workload_key'])}, "
        f"'weight', CAST({e['weight']} AS DECIMAL(10,4)), "
        f"'label', {_sq(e['label'])}, "
        f"'on_missing', {_sq(e['on_missing'])}, "
        f"'penalty', {'CAST(NULL AS DOUBLE)' if pen is None else f'{pen!r}D'}, "
        f"'hib', {'true' if e['hib'] else 'false'}, "
        f"'best_score', _b.b{i}, 'median_score', _m.m{i})"
    )


def entry_scores(matched: DataFrame, subject_keys: list[str],
                 entries: list[dict]) -> DataFrame:
    """A1 + A2 + normalization: one row per (subject, catalog entry) for
    every subject with at least one matched row — the catalog fields
    plus ``best_score``, ``median_score``, ``ratio`` (NULL unless
    valid), ``norm`` = log2(ratio), and the A3 terms ``counted``
    (scored or penalized), ``w`` (counted weight), ``wlog`` and
    ``req_miss`` (a missing REQUIRE component)."""
    # The per-entry aggregates ride in ONE struct expression each: a
    # single JVM-side parse instead of one py4j roundtrip per entry —
    # plan construction is on every cold query's critical path.
    best = ", ".join(
        f"'b{e['entry_idx']}', {'max' if e['hib'] else 'min'}"
        f"(CASE WHEN entry_idx = {e['entry_idx']} THEN score END)"
        for e in entries)
    wide = matched.groupBy(*subject_keys).agg(
        F.expr(f"named_struct({best}) AS _b"))
    meds = wide.agg(F.expr("named_struct(" + ", ".join(
        f"'m{e['entry_idx']}', percentile(_b.b{e['entry_idx']}, 0.5)"
        for e in entries) + ") AS _m"))
    rows = ", ".join(_entry_struct(e) for e in entries)
    return wide.crossJoin(F.broadcast(meds)).selectExpr(
        *subject_keys, f"inline(array({rows}))"
    ).selectExpr(
        "*",
        "CASE WHEN best_score > 0 AND median_score > 0 THEN"
        " CASE WHEN hib THEN best_score / median_score"
        " ELSE median_score / best_score END END AS ratio",
        "log2(ratio) AS norm",
        "norm IS NOT NULL OR on_missing = 'penalize' AS counted",
        "CASE WHEN counted THEN weight"
        " ELSE CAST(0 AS DECIMAL(10,4)) END AS w",
        "CAST(CASE WHEN norm IS NOT NULL THEN norm * CAST(weight AS DOUBLE)"
        " WHEN on_missing = 'penalize'"
        " THEN log2(penalty) * CAST(weight AS DOUBLE)"
        " ELSE 0.0D END AS DECIMAL(28,12)) AS wlog",
        "on_missing = 'require' AND norm IS NULL AS req_miss",
    )


def composite(scored: DataFrame, subject_keys: list[str],
              *aggs: Column) -> DataFrame:
    """A3: one row per published (subject, workload) — not suppressed,
    some counted weight — with ``sum_wlog``, ``total_w`` (scored +
    penalized weight), ``n_scored``, the unrounded ``geomean`` and the
    3-sig-fig ``score``. ``aggs`` ride along in the same aggregate."""
    return scored.groupBy(*subject_keys, "workload_key").agg(
        F.expr("sum(wlog) AS sum_wlog"),
        F.expr("sum(w) AS total_w"),
        F.expr("max(req_miss) AS suppressed"),
        F.expr("sum(CAST(norm IS NOT NULL AS BIGINT)) AS n_scored"),
        *aggs,
    ).where("NOT suppressed AND total_w > 0").select(
        "*",
        F.expr("power(2.0D, CAST(sum_wlog AS DOUBLE)"
               " / CAST(total_w AS DOUBLE)) AS geomean"),
        round_sig_figs_pure(F.col("geomean"), 3).alias("score"),
    )


def impact_pct(normalized: Column, share: Column) -> Column:
    """``(normalized^weight_share - 1)·100`` at 3 sig figs
    (``_component_impact_pct``, workload_profile_scores.py:60-76)."""
    return round_sig_figs_pure((F.pow(normalized, share) - 1) * 100, 3)


def breakdown(scored: DataFrame, subject_keys: list[str]) -> DataFrame:
    """A3 per component (``score_breakdown``, workload_profile_scores.py:
    283-366): every entry row of each published (subject, workload),
    adding ``total_w``, ``weight_share`` (3 sig figs; 0.0 for ignored
    components), ``normalized`` (2^norm or the penalty, 3 sig figs),
    ``impact`` over those two (NULL for ignored components), and
    ``raw``/``reference`` at measurement rounding (4 sig figs, integers
    kept whole above 1000 — ``_round_measurement``, :37-51)."""
    grp = Window.partitionBy(*subject_keys, "workload_key")
    normalized = round_sig_figs_pure(
        F.when(F.col("norm").isNotNull(), F.pow(F.lit(2.0), F.col("norm")))
        .when(F.col("on_missing") == "penalize", F.col("penalty")), 3)
    share = F.when(
        F.col("counted"),
        round_sig_figs_pure(F.col("weight").cast("double")
                            / F.col("total_w").cast("double"), 3),
    ).otherwise(F.lit(0.0))
    return scored.select(
        "*",
        F.sum("w").over(grp).alias("total_w"),
        F.max("req_miss").over(grp).alias("suppressed"),
    ).where("NOT suppressed AND total_w > 0").select(
        "*",
        share.alias("weight_share"),
        normalized.alias("normalized"),
        F.when(F.col("counted"),
               impact_pct(F.col("normalized"), F.col("weight_share")))
        .alias("impact"),
        round_sig_figs(F.col("best_score"), 4).alias("raw"),
        round_sig_figs(F.col("median_score"), 4).alias("reference"),
    )
