"""Flagship domain analytic: the reference's workload-profile composite
score (SURVEY.md §2.5 A1-A3, workload_profile_scores.py:156-442) running
on the lake's ``events`` table.

Mapping onto the generic operator: subject = user_id (plays the server),
entry = event_type (plays the benchmark), score = value. One entry
('error') is lower-is-better to exercise the orientation flip; weights are
a static recipe like WORKLOADS (workload_profiles.py:125-470).

Pipeline: the one scorer (operators/scores.py) — best-per-entry (A1)
-> exact fleet median (A2) -> weighted geometric mean of
median-normalized scores (A3), decimal-accumulated; the two queries
here are projections over it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import dround, sql_round
from ..operators.scores import breakdown, composite, entry_scores, impact_pct
from ..tables import load

# Static workload recipe in the workloads.ENTRIES shape: one workload,
# every entry IGNORE with no config filter; (event_type, weight, hib).
WORKLOAD_WEIGHTS = [
    {"entry_idx": i, "workload_key": "events", "benchmark_id": e,
     "weight": w, "label": e, "flt": None, "on_missing": "ignore",
     "penalty": None, "hib": hib}
    for i, (e, w, hib) in enumerate([
        ("view", "1.0", True),
        ("click", "2.0", True),
        ("purchase", "4.0", True),
        ("signup", "2.0", True),
        ("error", "1.0", False),  # latency-style: lower is better
    ])
]


def _entry_scores(spark: SparkSession, sf: str) -> DataFrame:
    """The one scorer over ``events``: the recipe's event types map to
    their entry index in a projection — a pushed-down IN filter, no
    join."""
    types = ", ".join(f"'{e['benchmark_id']}'" for e in WORKLOAD_WEIGHTS)
    idx = " ".join(f"WHEN '{e['benchmark_id']}' THEN {e['entry_idx']}"
                   for e in WORKLOAD_WEIGHTS)
    matched = load(spark, sf, "events").where(
        f"event_type IN ({types})"
    ).selectExpr("user_id", f"CASE event_type {idx} END AS entry_idx",
                 "value AS score")
    return entry_scores(matched, ["user_id"], WORKLOAD_WEIGHTS)


def workload_scores(spark: SparkSession, sf: str) -> DataFrame:
    """One composite row per user: the scorer's unrounded geomean at 4
    decimals, coverage fixed at 1.0 (IGNORE renormalizes over the
    present components), and the number of scored components."""
    comp = composite(_entry_scores(spark, sf), ["user_id"])
    return comp.select(
        "user_id",
        dround(F.col("geomean"), 4).alias("score"),
        F.lit(1.0).alias("coverage"),
        F.col("n_scored").cast("long").alias("n_components"),
    )


def workload_breakdown(spark: SparkSession, sf: str) -> DataFrame:
    """A3 breakdown published per scored component (workload_profile_
    scores.py:340-400), one row each so the oracle can hash it:
    weight_share (3 sig figs), the unrounded normalized ratio at 6
    decimals, impact = (ratio^share - 1)*100."""
    bd = breakdown(_entry_scores(spark, sf), ["user_id"]) \
        .filter(F.col("counted"))
    return bd.select(
        "user_id", "label", "weight_share",
        dround(F.col("ratio"), 6).alias("normalized"),
        impact_pct(F.col("ratio"), F.col("weight_share")).alias("impact"),
    )


def _sql_sigfigs_pure(expr: str, figs: int = 3) -> str:
    """DuckDB mirror of round_sig_figs_pure (pow-shift, scale may go
    negative for |x| >= 10^figs)."""
    d = f"({figs - 1} - floor(log10(abs({expr}))))"
    return (
        f"CASE WHEN {expr} = 0 OR {expr} IS NULL THEN {expr} "
        f"ELSE round({expr} * pow(10.0, {d}), 0) / pow(10.0, {d}) END"
    )


_BREAKDOWN_NORM = (
    "CASE WHEN hib THEN best_score / median_score"
    " ELSE median_score / best_score END"
)

BREAKDOWN_SQL_TEMPLATE = """
WITH w(event_type, weight, hib) AS (VALUES {weights}),
best AS (
  SELECT user_id, e.event_type, hib, weight,
    CASE WHEN hib THEN MAX(value) ELSE MIN(value) END AS best_score
  FROM events e JOIN w USING (event_type)
  GROUP BY user_id, e.event_type, hib, weight
),
med AS (
  SELECT event_type, quantile_cont(best_score, 0.5) AS median_score
  FROM best GROUP BY event_type
),
j AS (
  SELECT user_id, event_type, weight, hib, best_score, median_score,
    {norm} AS normalized,
    weight / SUM(weight) OVER (PARTITION BY user_id) AS ws_raw
  FROM best JOIN med USING (event_type)
  WHERE median_score != 0
)
SELECT user_id, event_type AS label,
  {ws} AS weight_share,
  {normr} AS normalized,
  {impact} AS impact
FROM j
"""


def _breakdown_sql() -> str:
    ws = _sql_sigfigs_pure("ws_raw", 3)
    impact_raw = f"(pow(normalized, {ws}) - 1) * 100"
    return BREAKDOWN_SQL_TEMPLATE.format(
        weights=_WEIGHT_VALUES,
        norm=_BREAKDOWN_NORM,
        ws=ws,
        normr=sql_round("normalized", 6),
        impact=_sql_sigfigs_pure(f"({impact_raw})", 3),
    )


_WEIGHT_VALUES = ", ".join(
    f"('{e['benchmark_id']}', {e['weight']}, {str(e['hib']).lower()})"
    for e in WORKLOAD_WEIGHTS
)

WORKLOAD_SQL = f"""
WITH w(event_type, weight, hib) AS (VALUES {_WEIGHT_VALUES}),
best AS (
  SELECT user_id, e.event_type,
    CASE WHEN hib THEN MAX(value) ELSE MIN(value) END AS best_score
  FROM events e JOIN w USING (event_type)
  GROUP BY user_id, e.event_type, hib
),
med AS (
  SELECT event_type, quantile_cont(best_score, 0.5) AS median_score
  FROM best GROUP BY event_type
),
j AS (
  SELECT user_id, weight,
    CASE WHEN hib THEN best_score / median_score
         ELSE median_score / best_score END AS ratio
  FROM best JOIN med USING (event_type) JOIN w USING (event_type)
  WHERE median_score != 0
)
SELECT user_id,
  {sql_round("pow(2.0, CAST(SUM(CAST(weight * log2(ratio) AS DECIMAL(28,12))) AS DOUBLE) / CAST(SUM(CAST(weight AS DECIMAL(28,12))) AS DOUBLE))")} AS score,
  CAST(1.0 AS DOUBLE) AS coverage,
  COUNT(*) AS n_components
FROM j GROUP BY user_id
"""


def _catalog(spark, sf):
    from ..workloads import workload_profiles_catalog
    return workload_profiles_catalog(spark, sf)


def _catalog_breakdown(spark, sf):
    from ..workloads import workload_catalog_breakdown
    return workload_catalog_breakdown(spark, sf)


def _catalog_sqls():
    from ..workloads import breakdown_oracle_sql, catalog_oracle_sql
    return catalog_oracle_sql(), breakdown_oracle_sql()


_CAT_SQL, _CAT_BD_SQL = _catalog_sqls()

QUERIES = {
    "workload_scores": (workload_scores, WORKLOAD_SQL),
    "workload_breakdown": (workload_breakdown, _breakdown_sql()),
    "workload_profiles_catalog": (_catalog, _CAT_SQL),
    "workload_catalog_breakdown": (_catalog_breakdown, _CAT_BD_SQL),
}
