"""Hash-diff sync (SURVEY.md §2.4 J6, §2.10 T3; reference cli.py:373-597).

Classify rows between a source and target snapshot of the same table:

- ``new``     — PK in source, not in target (left anti)
- ``update``  — PK in both, content hash differs (inner + !=)
- ``deleted`` — PK in target, not in source (left anti, status flipped
  to ``inactive`` with a fresh ``observed_at`` — cli.py:529-536)

Scale notes: both sides hash map-side (no shuffle for the hash), then a
single hash-partition join on the PK; at 100 TB the PK join benefits from
both tables being bucketed on the PK — the hash column keeps the shuffled
payload to (pks, hash) until the final re-fetch of changed rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import row_hash


def with_row_hash(df: DataFrame, pks: list[str],
                  ignored: tuple[str, ...] = ("observed_at",)) -> DataFrame:
    """Add the canonical content hash over non-PK, non-ignored columns
    (table_bases.py:169-216 semantics)."""
    non_pk = [c for c in df.columns if c not in pks]
    return df.withColumn("row_sha", row_hash(non_pk, ignored=ignored))


def hash_diff(source: DataFrame, target: DataFrame, pks: list[str],
              ignored: tuple[str, ...] = ("observed_at",)) -> DataFrame:
    """Return source/target rows classified with an ``action`` column
    (new | update | deleted). Projection keeps (pks, action).

    ONE full-outer join on the PK classifies all three actions: a side
    missing its hash is new/deleted, differing hashes are an update,
    equal hashes drop out. Each side is scanned and hashed exactly once
    and shuffled exactly once — vs the naive anti+inner+anti formulation
    that reads both sides three times. At 100 TB with both tables
    bucketed on the PK the single join is shuffle-free.

    The returned plan is lazy and holds no session cache. A caller
    that consumes the diff more than once persists the returned frame
    itself and unpersists exactly it when done, as ``cmd_sync`` does.
    """
    if not pks:
        # a key-less full-outer join degenerates to a cartesian product
        # that "classifies" every source x target pair — always a caller
        # bug (e.g. a table missing from schemas.PRIMARY_KEYS)
        raise ValueError("hash_diff: pks must be non-empty — a key-less "
                         "diff would cartesian-join the two snapshots")
    # Narrow (pks, hash) projections: ~50 B/row regardless of table
    # width, spills cleanly at scale.
    s = with_row_hash(source, pks, ignored).select(
        *pks, F.col("row_sha").alias("_s_sha"))
    t = with_row_hash(target, pks, ignored).select(
        *pks, F.col("row_sha").alias("_t_sha"))
    # full-outer can't broadcast; hint the hash variant so neither side
    # pays a sort — per-partition hash build on the (pks, sha) projection
    # is small and spill-safe at any shuffle-partition count
    j = s.hint("SHUFFLE_HASH").join(t, pks, "full_outer")
    action = (
        F.when(F.col("_t_sha").isNull(), F.lit("new"))
        .when(F.col("_s_sha").isNull(), F.lit("deleted"))
        .when(F.col("_s_sha") != F.col("_t_sha"), F.lit("update"))
    )
    return (
        j.withColumn("action", action)
        .filter(F.col("action").isNotNull())
        .select(*pks, "action")
    )


def sync_stats(diff: DataFrame) -> DataFrame:
    """Counts per action (reference's sync report, cli.py:540-552)."""
    return diff.groupBy("action").count()
