"""Upsert / lifecycle engine (SURVEY.md §2.2 K1-K2, §2.10 T1-T2).

The reference's write cycle per (vendor, table): mark existing rows
INACTIVE, then bulk-upsert the fresh fetch as ACTIVE — rows absent from
the new fetch stay INACTIVE (tables.py:224-283, insert.py:115-173).

Without a transactional table format in this container, MERGE is expressed
as a full-outer-join rewrite over the stored snapshot — the exact
``whenMatched / whenNotMatched / whenNotMatchedBySource`` semantics. On a
cluster with Delta/Iceberg the same plan maps 1:1 onto ``MERGE INTO``
(and only rewrites matched files); the operator is the semantic contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(current: DataFrame, updates: DataFrame, pks: list[str],
                 inactivate_missing: bool = False,
                 scope: Column | DataFrame | None = None,
                 updates_position: str | None = None) -> DataFrame:
    """Upsert ``updates`` into ``current`` by PK.

    - matched PK       -> take the update row (ON CONFLICT DO UPDATE,
      insert.py:151-161)
    - unmatched update -> insert
    - unmatched current-> keep; if ``inactivate_missing`` and the row is in
      ``scope``, flip status to 'inactive' (T1)

    PRECONDITION: ``updates`` must be UNIQUE per PK — a duplicated PK
    fans out through the full-outer join and lands as duplicate rows in
    the snapshot (the reference's ON CONFLICT collapses them in list
    order instead). Sources that can emit duplicates (retried pages,
    overlapping API scans) must dedupe first: stamp an arrival-position
    column at ingest and either call ``keep_last_dedup`` (the inventory
    paths do) or pass it as ``updates_position`` and this operator
    keeps the last arrival per PK — the reference's list-order
    semantics (insert.py:24-72).

    ``scope`` bounds the inactivation sweep the way the reference bounds
    its per-vendor UPDATE (tables.py:224-283): a boolean ``Column`` over
    ``current``'s columns (e.g. ``F.col("vendor_id") == "aws"``), or a
    DataFrame whose distinct PK rows define the sweep set (broadcast
    marker join). With ``scope=None`` every unmatched current row is
    swept — correct only for whole-table refreshes.

    Single shuffle on the PK; both inputs should share partitioning on the
    PK at scale (bucketed silver tables) so the join is co-located.
    """
    if updates_position is not None:
        from .windows import keep_last_dedup

        updates = keep_last_dedup(updates, pks, updates_position)
    cols = current.columns
    in_scope: Column | None = None
    if inactivate_missing and scope is not None:
        if isinstance(scope, DataFrame):
            marker = (scope.select(*pks).distinct()
                      .withColumn("__in_scope", F.lit(True)))
            current = current.join(F.broadcast(marker), on=pks, how="left")
            in_scope = F.coalesce(F.col("__in_scope"), F.lit(False))
        else:
            in_scope = scope
    # Rename the update side before joining: updates often derive from the
    # same plan as current (re-fetch + mutate), and alias-based column
    # references can't disambiguate shared lineage in a full-outer self-join.
    upd = updates.select(*[F.col(c).alias(f"__u_{c}") for c in cols])
    cond = None
    for pk in pks:
        eq = current[pk] == upd[f"__u_{pk}"]
        cond = eq if cond is None else cond & eq
    joined = current.join(upd, cond, "full_outer")

    take_update = F.col(f"__u_{pks[0]}").isNotNull()
    out_cols = []
    for c in cols:
        if c in pks:
            out_cols.append(F.coalesce(F.col(f"__u_{c}"), F.col(c)).alias(c))
        elif c == "status" and inactivate_missing:
            keep = (F.lit("inactive") if in_scope is None else
                    F.when(in_scope, F.lit("inactive")).otherwise(F.col(c)))
            out_cols.append(
                F.when(take_update, F.col("__u_status"))
                .otherwise(keep)
                .alias(c)
            )
        else:
            out_cols.append(
                F.when(take_update, F.col(f"__u_{c}")).otherwise(F.col(c)).alias(c)
            )
    return joined.select(*out_cols)


def scd2_append(history: DataFrame, changed: DataFrame) -> DataFrame:
    """SCD Type 2: append changed version rows; (pks + observed_at) is the
    history PK so this is a pure union (tables_scd.py:45-53)."""
    return history.unionByName(changed.select(*history.columns))
