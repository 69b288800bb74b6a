"""Scalar expression helpers (SURVEY.md §2.9, F1-F18).

All are native Column expressions (JVM-side, codegen-friendly) — no Python
UDFs in the hot path. Reference citations point into /root/reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference constants (utils.py:13-26; tables.py:263-283;
# workload_profile_scores.py:372).
PRICE_DECIMALS = 4
SCORE_SIG_FIGS = 3


def snake_case(name: str) -> str:
    """F1 — CamelCase -> snake_case (str_utils.py:22-35); driver-side
    (used for table naming, not row data).

    >>> snake_case("BenchmarkScore")
    'benchmark_score'
    >>> snake_case("DescriptionToComment")
    'description_to_comment'
    >>> snake_case("Ipv4Price")
    'ipv4_price'
    """
    import re

    return "_".join(re.sub(r"([A-Z][a-z]+)", r" \1", name).split()).lower()


def extract_last_number(col: Column) -> Column:
    """Last number in a string, as double; NULL if none.

    Reference: str_utils.py:64-80 (`extract_last_number("gp3 ... 16000")
    -> 16000.0`), used for IOPS/throughput parsing (_aws.py:1192-1200).
    """
    s = F.regexp_extract(col, r"([0-9]+\.?[0-9]*)[^0-9]*$", 1)
    return F.when(s != "", s.cast("double"))


def round_price(price: Column) -> Column:
    """4-decimal price rounding applied by every price inventory
    (tables.py:263-283)."""
    return F.round(price, PRICE_DECIMALS)


def round_sig_figs(col: Column, figs: int = SCORE_SIG_FIGS) -> Column:
    """Round to `figs` significant figures; integers >= 1000 stay integral.

    Reference: workload_profile_scores.py:37-57 (3-4 sig figs; values
    >= 10^(figs) are rounded to integer precision, never to fewer digits).
    Pure expression math so DuckDB can mirror it exactly:
    round(x, figs - 1 - floor(log10(abs(x)))).

    Documented deviation: values EXACTLY halfway at the boundary round
    HALF-UP here (matching DuckDB, the correctness oracle) where
    CPython's round()/%g round half-even. Cross-engine parity is the
    contract; exact halves are measure-zero for measured doubles.
    """
    magnitude = F.floor(F.log10(F.abs(col)))
    # integers >= 10^figs keep integer precision (decimals floored at 0)
    decimals = F.greatest(F.lit(figs - 1) - magnitude, F.lit(0)).cast("int")
    # Spark's round() needs a foldable scale, so scale dynamically via
    # pow-shift; DuckDB mirrors with the identical formula.
    shift = F.pow(F.lit(10.0), decimals.cast("double"))
    return F.when(col.isNull() | (col == 0), col).otherwise(
        F.round(col * shift, 0) / shift
    )


def round_sig_figs_pure(col: Column, figs: int = 3) -> Column:
    """Pure significant-figure rounding, no integer floor — mirrors the
    reference's ``_round_sigfigs`` (`float(f"{v:.3g}")`,
    workload_profile_scores.py:53-57) used for unitless ratios
    (weight_share, impact, composite score). Differs from
    :func:`round_sig_figs`, which keeps integer precision above 10^figs
    for measurements."""
    magnitude = F.floor(F.log10(F.abs(col)))
    decimals = (F.lit(figs - 1) - magnitude).cast("double")
    shift = F.pow(F.lit(10.0), decimals)
    return F.when(col.isNull() | (col == 0), col).otherwise(
        F.round(col * shift, 0) / shift
    )


def decimal_sum(col: Column, scale: int = 6) -> Column:
    """Deterministic SUM of a double column.

    Double addition is not associative, so a partial-aggregated Spark sum
    and a DuckDB sum can differ in the last ulp. Casting to DECIMAL first
    makes the sum exact and order-independent — identical in any engine.
    Used by every money/score aggregate that feeds the correctness oracle.

    The per-row cast targets DECIMAL(18,scale): precision <= 18 stays on
    Spark's long-backed fast path (no BigDecimal allocation per value —
    measured ~25% off the q1 aggregate at 38M rows), while the SUM
    accumulator auto-widens to DECIMAL(28,scale), so the result type and
    every digit match the oracle's SUM(CAST(x AS DECIMAL(28,scale))) —
    double->decimal rounding at a fixed scale is independent of
    precision, and per-row magnitudes here are < 1e12 by construction
    (prices/quantities/scores), so the narrower cast cannot overflow.
    """
    return F.sum(col.cast(f"decimal(18,{scale})"))


def dround(col: Column, decimals: int = 4) -> Column:
    """Round-and-cast-to-double for oracle-stable output columns.

    Routed through DECIMAL: double->decimal cast is correctly rounded and
    identical across engines, and decimal rounding is exact HALF_UP in
    both Spark and DuckDB — double-rounding boundary bugs (x.xxxx5 stored
    as a nearby binary double) can't diverge.
    """
    return F.round(col.cast(f"decimal(28,{decimals + 4})"), decimals).cast("double")


def sql_round(expr: str, decimals: int = 4) -> str:
    """DuckDB mirror of :func:`dround` for oracle SQL strings."""
    return (
        f"CAST(round(CAST({expr} AS DECIMAL(28,{decimals + 4})), {decimals}) AS DOUBLE)"
    )
