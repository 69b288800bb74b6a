"""Loaders for the synthetic lake tables (TESTDATA.md).

Every query receives ``sf_dir`` (e.g. ``/root/testdata/sf0.01``) and reads
only the tables it needs — parquet scans get Catalyst column pruning and
predicate pushdown for free, so loading is cheap and declarative.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Catalog-style schema memo: `spark.read.parquet` re-reads footers and
# re-infers the schema on EVERY call (~100 ms of py4j + file IO), which
# lands in every cold query's build time. A metastore would hold the
# table schema once; this dict is that metastore for the lake dirs. The
# lake tables are immutable inputs (TESTDATA.md), so the cached file
# index can never go stale; anything mutable must go through
# `spark.read` directly, not `load()`. WeakKey on the session: a
# stopped/collected SparkSession's frames evict with it instead of
# pinning py4j references forever.
_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()


def clear_load_memo() -> None:
    """Drop memoized table frames — call after overwriting a lake dir
    that was previously read through load() (the memo assumes lake dirs
    are immutable)."""
    _MEMO.clear()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one lake table. Plain parquet scan — pushdown-friendly.

    ``events.ts`` is TIMESTAMP(NANOS) in the files; Spark reads it as a
    nanosecond long (``nanosAsLong``) and we convert to a microsecond
    timestamp — the same truncation DuckDB's TIMESTAMP_NS -> pandas path
    applies, so oracle values align.
    """
    per_session = _MEMO.setdefault(spark, {})
    cached = per_session.get((sf_dir, name))
    if cached is not None:
        return cached
    # events.parquet carries INT64 TIMESTAMP(NANOS); a vanilla SparkSession
    # (e.g. the correctness harness) throws PARQUET_TYPE_ILLEGAL unless the
    # nanosAsLong legacy conf is on.  It is runtime-settable, so load() is
    # self-sufficient and never depends on how the session was built.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # oracle parity convention: timestamps are UTC-naive in the lake
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # read-only conf store (shouldn't happen) — fall through to read
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: `/` would promote the ~1.7e18 nanos long to
        # DOUBLE (53-bit mantissa, +-256 ns error) and can flip the
        # truncated microsecond vs DuckDB's exact TIMESTAMP_NS cast
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    per_session[(sf_dir, name)] = df
    return df


def disk_bytes(path: str) -> int | None:
    """On-disk bytes of one parquet file or part-file directory.

    Driver-side metadata only — the same listing Spark's file index
    performs — so it stays cheap at the 100 TB target. Returns ``None``
    when the path isn't a local filesystem (object stores), so callers
    degrade to no-hint rather than guessing."""
    try:
        if os.path.isdir(path):
            # os.walk so NESTED layouts (hive-partitioned subdirs) are
            # summed correctly — summing direct children only would add
            # a subdirectory's inode size instead of its contents,
            # UNDERCOUNT the table, and open the broadcast gate on a
            # table far above the threshold (r8 advice)
            total = 0
            for root, dirs, files in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files if not f.startswith(("_", "."))
                )
            return total
        return os.path.getsize(path)
    except OSError:
        return None


def table_disk_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk bytes of one lake table (see :func:`disk_bytes`)."""
    return disk_bytes(os.path.join(sf_dir, f"{name}.parquet"))


def gated_broadcast(spark: SparkSession, sf_dir: str, name: str | None,
                    df: DataFrame, limit: int | None = None) -> DataFrame:
    """Size-GATED broadcast hint: ``df`` is hinted only when the table
    that bounds its size is KNOWN to be under ``limit`` bytes on disk.

    Why it exists (r7 verdict item 2): a hard ``F.broadcast()`` on a
    scaling table (customer/supplier) dies at the broadcast ceiling at
    the 100 TB target instead of degrading to shuffle. But simply
    dropping the hint regresses dims that are JOIN OUTPUTS: stats-v1
    estimates a join's size as the product of its inputs, so a
    kilobyte-sized ``customer x asia_nations`` reduction estimates as
    huge, the static planner picks a shuffle join on the fact, and
    AQE's runtime conversion still pays the fact's map-side shuffle
    write (measured at 64x: q5 3 s -> 8 s).

    The gate uses the BASE table's on-disk bytes — ground truth the
    planner's estimate chain loses: lake table ``name`` under
    ``sf_dir``, or, with ``name=None``, the file or part-file directory
    ``sf_dir`` itself (e.g. an artifact's stored tf table). ``limit``
    defaults to the session broadcast threshold (the hinted df is a
    pruned subset, so this is conservative); a caller whose df is far
    smaller than the table that sizes it (a vocabulary dictionary
    sized by its corpus) passes its own bound. Past the limit, when
    the size is unknowable (object store), or when the session
    disables broadcast (-1), the df returns unhinted and the plan
    degrades to shuffle + AQE instead of dying. Plan-guarded:
    tests/test_skew_and_plans.py test_r8_gated_broadcast_*."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                             "10485760"))
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "b": 1}
    try:
        threshold = int(raw)
    except ValueError:  # "10MB"-style spelling
        num = raw.rstrip("bBkKmMgG")
        mult = units.get(raw[len(num):len(num) + 1].lower(), 1)
        threshold = int(float(num) * mult) if num else 10 * 1024 * 1024
    if threshold <= 0:  # broadcast disabled for the session (-1)
        return df
    size = (disk_bytes(sf_dir) if name is None
            else table_disk_bytes(sf_dir, name))
    if size is not None and size < (threshold if limit is None else limit):
        return F.broadcast(df)
    return df
