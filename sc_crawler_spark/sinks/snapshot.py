"""Crash-safe versioned parquet snapshots (a minimal transaction log).

Layout under one table root::

    <root>/v-00000001/   part-*.parquet + _SUCCESS + _schema.json
                         (+ any sidecars; an immutable version)
    <root>/v-00000002/   ...
    <root>/_CURRENT      pointer file naming the committed version

A write lands a brand-new version directory, validates Spark's
``_SUCCESS`` marker, then commits by ``os.replace`` of the pointer —
rename is atomic on POSIX, so a crash at any point leaves the previous
pointer (and its data) fully intact. This mirrors the reference's
transactional insert cycle (insert.py:115-173) without requiring
Delta/Iceberg in this container; on a real cluster these call sites map
1:1 onto ``MERGE INTO`` over a transactional table format.

``write_snapshot`` (Spark writes the parts) and ``copy_snapshot`` (the
committed files of another root are copied as files, no Spark job)
share that one commit: marker check, pointer swap, retention.
``append_snapshot`` is the one append (the key-less audit tables): it
writes a version only when there are rows to add or no snapshot yet.

``_schema.json`` is the schema the version was written with, so
``read_snapshot`` hands it to the reader instead of running Spark's
one-task footer-inference job on every read. A version without it
(legacy, or committed before the sidecar existed) is inferred.

Also fixes the rewrite-self double-write: because the new version is a
sibling directory, a plan that *reads the current snapshot* can write
the next one directly — one write instead of stage-then-copy.

Back-compat: a root with no ``_CURRENT`` pointer is read as a plain
parquet directory, so pre-existing lakes keep working.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

POINTER = "_CURRENT"
SCHEMA = "_schema.json"


def current_path(root: str) -> str:
    """Resolve the committed data directory for a table root."""
    p = os.path.join(root, POINTER)
    if os.path.exists(p):
        with open(p) as f:
            return os.path.join(root, f.read().strip())
    return root  # plain parquet dir (legacy layout)


def snapshot_exists(root: str) -> bool:
    """True iff ``root`` holds readable snapshot data: a committed
    version (pointer file present) or a legacy parquet directory —
    flat part files OR a partitioned layout (``key=.../part-*``), so
    the walk checks nested directories too, matching what
    ``spark.read.parquet`` would accept. Callers that want "merge into
    the existing state, else start fresh" should branch on THIS rather
    than catching the read exception — a blanket except would also
    swallow genuine IO/schema failures and silently reset the state
    table."""
    if os.path.exists(os.path.join(root, POINTER)):
        return True
    if not os.path.isdir(root):
        return False
    for _dir, subdirs, files in os.walk(root):
        # No pointer ⇒ any v-* directory is an uncommitted write (crash
        # before the pointer landed). read_snapshot treats those as
        # garbage and reads only root-level files, so existence must
        # apply the same rule: prune v-* from the walk, otherwise a root
        # holding ONLY an uncommitted version reports True and the
        # caller's read_snapshot finds nothing (permanent stall) or
        # ingests the uncommitted data.
        subdirs[:] = [d for d in subdirs if not d.startswith("v-")]
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def list_versions(root: str) -> list[tuple[str, bool]]:
    """Retained COMPLETE versions of a table root, oldest first, with
    the committed one flagged — the time-travel surface (write_snapshot
    keeps the last ``keep`` versions precisely so a bad merge can be
    diffed against its predecessor). A version directory without
    Spark's ``_SUCCESS`` marker is a crashed half-write: it is not
    listed (and ``read_snapshot(version=...)`` refuses it) — partial
    data must never be advertised as a rollback target."""
    if not os.path.isdir(root):
        return []
    cur = os.path.basename(current_path(root))
    return [(v, v == cur)
            for v in sorted(d for d in os.listdir(root)
                            if d.startswith("v-")
                            and os.path.isdir(os.path.join(root, d))
                            and os.path.exists(
                                os.path.join(root, d, "_SUCCESS")))]


def read_snapshot(spark: SparkSession, root: str,
                  version: str | None = None) -> DataFrame:
    """Read the committed snapshot, or a specific retained ``version``
    (e.g. ``"v-00000003"``) for time travel."""
    if version is not None:
        vdir = os.path.join(root, version)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(
                f"snapshot version {version} not retained under {root}; "
                f"have {[v for v, _ in list_versions(root)]}")
        if not os.path.exists(os.path.join(vdir, "_SUCCESS")):
            # no _SUCCESS = crashed half-write: a partial row set would
            # read back silently as if it were the full version
            raise IOError(
                f"snapshot version {version} under {root} is incomplete "
                f"(no _SUCCESS marker — crashed write); complete versions: "
                f"{[v for v, _ in list_versions(root)]}")
        return _read_version(spark, vdir)
    path = current_path(root)
    if path == root and os.path.isdir(root):
        # Legacy layout (no pointer). A crash during the FIRST versioned
        # commit can leave an uncommitted v-* directory (data written,
        # pointer never landed) next to the legacy content; reading the
        # root recursively would then mix both (or fail on conflicting
        # directory structures). The pointer is the commit point, so an
        # unpointed v-* dir is garbage: read only the non-v-* content —
        # root-level part files (flat layout) or key=... partition dirs
        # (partitioned layout, with basePath so partition columns still
        # parse).
        entries = os.listdir(root)
        if any(e.startswith("v-") for e in entries):
            files = [os.path.join(root, e) for e in entries
                     if e.endswith(".parquet") and
                     os.path.isfile(os.path.join(root, e))]
            if files:
                return spark.read.parquet(*files)
            part_dirs = [os.path.join(root, e) for e in entries
                         if not e.startswith("v-")
                         and os.path.isdir(os.path.join(root, e))]
            if part_dirs:
                return (spark.read.option("basePath", root)
                        .parquet(*part_dirs))
            raise FileNotFoundError(
                f"{root} holds only uncommitted v-* data (crashed first "
                f"versioned commit) and no legacy content — nothing "
                f"committed to read")
    return _read_version(spark, path)


def _read_version(spark: SparkSession, path: str) -> DataFrame:
    """Read one data directory with the schema its commit recorded, so
    no inference job runs; without the sidecar, infer."""
    sidecar = os.path.join(path, SCHEMA)
    if not os.path.isfile(sidecar):
        return spark.read.parquet(path)
    with open(sidecar) as f:
        schema = StructType.fromJson(json.loads(f.read()))
    return spark.read.schema(schema).parquet(path)


def version_rows(vdir: str) -> int:
    """Rows in a version directory, summed from its parquet footers —
    a count of what was just committed without a Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for d, _subdirs, files in os.walk(vdir)
               for f in files
               if f.endswith(".parquet") and not f.startswith((".", "_")))


def _next_version(root: str) -> str:
    vs = [d for d in os.listdir(root) if d.startswith("v-")] \
        if os.path.isdir(root) else []
    n = max((int(v[2:]) for v in vs), default=0) + 1
    return f"v-{n:08d}"


def read_extra(root: str, name: str) -> str | None:
    """Read a sidecar file committed alongside the current snapshot
    version (``write_snapshot(extras=...)``), or ``None`` if the
    committed version has no such sidecar (legacy snapshot). Sidecars
    live INSIDE the version directory, so they commit/roll back with
    the data in the same atomic pointer swap — a guard stored here can
    never be newer or older than the cells it guards."""
    path = os.path.join(current_path(root), name)
    if os.path.isfile(path):
        with open(path) as f:
            return f.read()
    return None


def write_snapshot(spark: SparkSession, df: DataFrame, root: str,
                   keep: int = 2,
                   extras: dict[str, str] | None = None) -> str:
    """Write ``df`` as the next version of ``root`` and commit atomically.

    ``df``'s plan may read from the current snapshot of ``root`` itself
    (merge-rewrite): the old version stays in place until the write has
    fully succeeded. Keeps the last ``keep`` versions for debugging, prunes
    older ones, and clears legacy root-level part files after the first
    versioned commit.

    ``extras``: small sidecar files (name -> content) written into the
    new version directory BEFORE the pointer swap, so they are covered
    by the same commit point as the parquet data (see ``read_extra``).
    Names must not collide with part files; convention is a leading
    underscore (e.g. ``_manifest.json``). ``_schema.json`` is always
    written, from ``df.schema``.
    """
    os.makedirs(root, exist_ok=True)
    version = _next_version(root)
    vdir = os.path.join(root, version)
    df.write.mode("overwrite").parquet(vdir)
    for name, content in {**(extras or {}), SCHEMA: df.schema.json()}.items():
        with open(os.path.join(vdir, name), "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
    return _commit(root, version, keep)


def append_snapshot(spark: SparkSession, df: DataFrame, root: str) -> str:
    """Append ``df``'s rows to the table at ``root`` and return its
    committed version directory. The key-less audit tables (the rows
    every run quarantined, across vendors) land only through here.

    A new version is written only when ``df`` has a row or ``root`` has
    no snapshot yet: appending nothing leaves the committed version and
    the retained history as they are. An append writes the current
    rows plus ``df`` (columns unioned by name) as the next version."""
    if snapshot_exists(root):
        if df.isEmpty():
            return current_path(root)
        df = read_snapshot(spark, root).unionByName(
            df, allowMissingColumns=True)
    return write_snapshot(spark, df, root)


def copy_snapshot(src_root: str, dst_root: str, keep: int = 2) -> str:
    """Copy the committed snapshot of ``src_root`` into the next version
    of ``dst_root`` as files, and commit it like ``write_snapshot``.

    The copied files are the ones ``read_snapshot`` would read: the
    committed version directory with its ``_SUCCESS`` marker and every
    sidecar (``_schema.json`` included), or for a legacy root (no
    pointer) its non-``v-*`` content. An immutable version moves as a
    set of files, not re-encoded through Spark, so no job runs. The
    marker is copied (or, for a legacy root without one, created)
    last: a crash mid-copy leaves a version without ``_SUCCESS``,
    which the commit refuses and retention deletes."""
    src = current_path(src_root)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no committed snapshot under {src_root}")
    legacy = src == src_root
    names = sorted(
        (n for n in os.listdir(src)
         if not (legacy and n.startswith(("v-", POINTER)))),
        key=lambda n: (n == "_SUCCESS", n))
    os.makedirs(dst_root, exist_ok=True)
    version = _next_version(dst_root)
    vdir = os.path.join(dst_root, version)
    os.makedirs(vdir)
    for name in names:
        s, d = os.path.join(src, name), os.path.join(vdir, name)
        if os.path.isdir(s):
            shutil.copytree(s, d)
        else:
            shutil.copyfile(s, d)
    open(os.path.join(vdir, "_SUCCESS"), "a").close()
    return _commit(dst_root, version, keep)


def _commit(root: str, version: str, keep: int) -> str:
    """The one commit of a version directory already complete under
    ``root``: refuse it without Spark's ``_SUCCESS`` marker, swap the
    pointer (tmp file, fsync, atomic rename), then apply retention."""
    vdir = os.path.join(root, version)
    if not os.path.exists(os.path.join(vdir, "_SUCCESS")):
        raise IOError(f"snapshot write incomplete (no _SUCCESS): {vdir}")
    tmp = os.path.join(root, POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(version)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, POINTER))  # atomic commit
    # Retention counts COMMITTED versions only (those with _SUCCESS):
    # an uncommitted dir from a crashed write is garbage — deleted
    # outright, never allowed to push a good rollback target out of
    # the keep window. The listing is computed once (deterministic
    # single pass, not re-listed per entry).
    entries = sorted(os.listdir(root))
    committed = [d for d in entries if d.startswith("v-")
                 and os.path.isdir(os.path.join(root, d))
                 and os.path.exists(os.path.join(root, d, "_SUCCESS"))]
    retain = set(committed[-keep:])
    for entry in entries:
        full = os.path.join(root, entry)
        if entry.startswith("v-") and os.path.isdir(full):
            if entry not in retain and entry <= version:
                shutil.rmtree(full, ignore_errors=True)
        elif os.path.isfile(full) and entry not in (POINTER,):
            os.remove(full)  # legacy plain-layout part/_SUCCESS files
    return vdir
