"""The lifecycle of the three digest-keyed index artifacts (MinHash
dedup, pruned BM25 postings, IVF ANN): one corpus digest, one meta
commit, one gate, one serve/ensure decision, one retention pass.

The digest keys an artifact to the exact corpus it was built from:
:func:`corpus_digest` is ``bit_xor(xxhash64(id, col)) _ count`` over
the (id, text) or (id, vector) corpus — order-independent, one
column-pruned scan, O(1) aggregation state. An empty corpus digests to
``"0_0"`` (the xor identity), and :func:`merge_digests` combines the
digests of disjoint corpora into their union's, which is what lets the
streaming partials and every fold prove the union without re-reading
text.

An artifact is a directory of parquet tables plus ``_META.json``, and
the meta is the commit record. Every builder and fold runs the same
three steps:

- :func:`begin` — delete any stale meta BEFORE the first data write,
  so a rebuild that crashes part-way reads as absent, never as the
  old meta over new data. A fold names its inputs: the target may not
  be one of them (the fold reads them while it writes), and the base
  (first input) must pass the kind/format gate.
- write the data tables;
- :func:`commit_meta` — write a tmp file, fsync, ``os.replace`` it to
  ``_META.json`` (atomic on POSIX), stamping the module's ``FORMAT``.

Readers go through :func:`gate`, which returns ``(hit, reason)``;
the reason for a miss is ``absent`` (no readable meta — a crashed
build), ``kind`` (another store's artifact), ``format`` (written under
another ``FORMAT``), ``digest`` (built from another corpus) or
``param:<name>`` (a requested build parameter is missing or differs).
Artifacts are derived data, so any miss means rebuild, never a
compatibility shim. The two callers of the gate are :func:`serve`
(a query: the artifact dir comes from the kind's env var in ``ENV``,
and an unset var is the reason ``unset``, decided without a scan) and
:func:`ensure` (a builder: reuse on a hit, else build).

Retention: :func:`list_artifacts` walks a root for complete artifacts,
:func:`prune` keeps the newest ``keep`` per kind and deletes the rest
— dry-run by default; the newest artifact of each kind is NEVER
deleted (live readers gate against it), nor is any digest listed in
``active_digests``. Deletion removes the meta FIRST, then the data: a
reader that races a prune sees "absent", the safe answer.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

META_NAME = "_META.json"
# bump when any store's on-disk tables change shape: every older
# artifact then misses the gate with reason "format" and rebuilds
FORMAT = 1
# the env var each kind's query-side consumers read the artifact dir from
ENV = {"minhash": "SC_SPARK_INDEX_DIR", "bm25": "SC_SPARK_BM25_INDEX_DIR",
       "ivf": "SC_SPARK_ANN_INDEX_DIR"}
KINDS = tuple(ENV)


def digest_cols(col: str, id_col: str) -> list[Column]:
    """The two aggregates of a corpus digest: ``d`` (the xor of every
    row's ``xxhash64(id, col)``, 0 over no rows) and ``n`` (the row
    count — xor alone would miss duplicated rows canceling out).
    xxhash64 of an array column folds over its elements."""
    return [F.coalesce(F.expr(f"bit_xor(xxhash64({id_col}, {col}))"),
                       F.lit(0).cast("long")).alias("d"),
            F.count("*").alias("n")]


def corpus_digest(df: DataFrame, col: str, id_col: str) -> str:
    """Order-independent content digest ``<d>_<n>`` of an (id, col)
    corpus: the same rows in any partitioning or arrival order digest
    identically."""
    row = df.agg(*digest_cols(col, id_col)).first()
    return f"{row['d']}_{row['n']}"


def merge_digests(digests: list[str]) -> str:
    """The digest of the union of DISJOINT corpora from theirs — exact,
    no text needed: xor and count both merge."""
    xor, n = 0, 0
    for d in digests:
        x, _, c = d.rpartition("_")
        xor ^= int(x)
        n += int(c)
    # wrap to Spark's signed 64-bit bit_xor convention
    xor &= (1 << 64) - 1
    if xor >= 1 << 63:
        xor -= 1 << 64
    return f"{xor}_{n}"


def read_meta(path: str) -> dict | None:
    """The artifact's meta, or None when ``path`` holds no complete
    artifact (a build that died before its commit reads as absent)."""
    try:
        with open(os.path.join(path, META_NAME)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def commit_meta(path: str, meta: dict) -> dict:
    """Commit ``meta`` (stamped with ``FORMAT``) as the artifact's
    LAST write: tmp file, fsync, atomic rename."""
    meta = dict(meta, format=FORMAT)
    tmp = os.path.join(path, META_NAME + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, META_NAME))
    return meta


def gate(path: str, kind: str, digest: str | None = None,
         **params) -> tuple[bool, str]:
    """``(True, "hit")`` iff ``path`` holds a complete ``kind``
    artifact of the current ``FORMAT``, built from the corpus with
    ``digest`` (None: any corpus) under every requested parameter —
    each key must be present in the meta and equal; else ``(False,
    reason)`` with the first failing check."""
    meta = read_meta(path)
    if meta is None:
        return False, "absent"
    if meta.get("kind") != kind:
        return False, "kind"
    if meta.get("format") != FORMAT:
        return False, "format"
    if digest is not None and meta.get("digest") != digest:
        return False, "digest"
    for k, v in params.items():
        if k not in meta or meta[k] != v:
            return False, f"param:{k}"
    return True, "hit"


def serve(kind: str, df: DataFrame, col: str, id_col: str, /,
          **params) -> tuple[str | None, str]:
    """Which ``kind`` artifact serves the corpus ``df``: ``(path,
    "hit")`` when the dir named by the kind's env var passes the gate
    for ``df``'s digest and ``params``, else ``(None, reason)`` — with
    reason ``unset`` (and no scan of ``df``) when the var is unset, or
    the gate's miss reason. On None the caller computes in-plan."""
    path = os.environ.get(ENV[kind])
    if not path:
        return None, "unset"
    hit, why = gate(path, kind, corpus_digest(df, col, id_col), **params)
    return (path if hit else None), why


def ensure(out: str, kind: str, df: DataFrame, col: str, id_col: str,
           build: Callable[[], object], /, force: bool = False,
           **params) -> str:
    """Make ``out`` hold the ``kind`` artifact of ``df`` under
    ``params``: reuse it on a gate hit (returns ``"hit"``), else run
    ``build()`` and return why — ``"force"`` (no digest computed) or
    the gate's miss reason. The leading arguments are positional-only,
    so ``params`` may gate on meta keys named ``id_col`` and the like."""
    why = "force" if force else gate(
        out, kind, corpus_digest(df, col, id_col), **params)[1]
    if why != "hit":
        build()
    return why


def begin(out: str, kind: str, *inputs: str) -> dict | None:
    """Start a build (no ``inputs``) or a fold of ``kind`` at ``out``.
    A fold refuses an ``out`` equal to any input dir and returns the
    base artifact's meta (first input), raising ValueError naming the
    gate reason when the base is unusable. Then any stale meta at
    ``out`` is deleted, before the first data write."""
    base = None
    if inputs:
        if os.path.abspath(out) in {os.path.abspath(d) for d in inputs}:
            raise ValueError("fold target must be a NEW directory, not "
                             "one of the fold's input dirs")
        hit, why = gate(inputs[0], kind)
        if not hit:
            raise ValueError(
                f"no usable {kind} base artifact at {inputs[0]} ({why})")
        base = read_meta(inputs[0])
    try:
        os.remove(os.path.join(out, META_NAME))
    except FileNotFoundError:
        pass
    return base


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def list_artifacts(root: str) -> list[dict]:
    """Complete artifacts directly under ``root`` (plus ``root``
    itself if it is one), newest meta first. Each entry: path, kind,
    digest, n (docs/vecs if recorded), mtime of the meta (commit time
    — the meta is written LAST by every builder), and on-disk bytes."""
    if not os.path.isdir(root):
        return []  # nothing landed yet — an empty lake, not an error
    cands = [root] + sorted(
        os.path.join(root, d) for d in os.listdir(root)
        if os.path.isdir(os.path.join(root, d)))
    out = []
    for path in cands:
        meta = read_meta(path)
        if meta is None or meta.get("kind") not in KINDS \
                or "digest" not in meta:
            continue
        out.append({
            "path": os.path.abspath(path), "kind": meta["kind"],
            "digest": meta["digest"],
            "n": meta.get("n_docs", meta.get("n_vecs")),
            "mtime": os.path.getmtime(os.path.join(path, META_NAME)),
            "bytes": _dir_bytes(path),
        })
    out.sort(key=lambda e: e["mtime"], reverse=True)
    return out


def prune(root: str, keep: int = 1,
          active_digests: set[str] | frozenset[str] = frozenset(),
          apply: bool = False) -> dict:
    """Retention pass: per kind, keep the ``keep`` newest artifacts
    (ALWAYS at least the newest — the digest-current copy live
    readers gate against) and delete the rest, except any whose
    digest is in ``active_digests`` (refused, reported). Dry-run
    unless ``apply``. Returns {kept, refused, deleted}, each a list
    of entries as from :func:`list_artifacts`."""
    keep = max(0, keep)
    arts = list_artifacts(root)
    kept: list[dict] = []
    refused: list[dict] = []
    deleted: list[dict] = []
    by_kind: dict[str, list[dict]] = {}
    for e in arts:
        by_kind.setdefault(e["kind"], []).append(e)
    root_abs = os.path.abspath(root)
    for kind_arts in by_kind.values():  # newest-first within kind
        for i, e in enumerate(kind_arts):
            if i < max(keep, 1):  # newest always survives
                kept.append(e)
            elif e["digest"] in active_digests:
                refused.append(e)
            elif e["path"] == root_abs:
                # the root dir CONTAINS the other artifacts — rmtree
                # here would take the survivors with it; refuse and
                # let the operator relocate it
                refused.append(e)
            else:
                deleted.append(e)
    if apply:
        for e in deleted:
            delete_artifact(e["path"])
    return {"kept": kept, "refused": refused, "deleted": deleted}


def delete_artifact(path: str) -> None:
    """Remove one artifact dir, meta FIRST, so a reader that races the
    deletion sees "absent", never a meta pointing at half-deleted
    parquet. Used by :func:`prune` and by `annindex
    --rebuild-if-drifted` (the superseded base after a rebuild)."""
    try:
        os.remove(os.path.join(path, META_NAME))
    except OSError:
        pass
    shutil.rmtree(path, ignore_errors=True)
