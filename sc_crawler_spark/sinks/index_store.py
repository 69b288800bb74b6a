"""Digest-keyed dedup index as a LAKE ARTIFACT (r8/r9 verdict task:
``cmd_index``) — the one form of pair-graph reuse across calls and sessions.

A 100 TB corpus is shingled and signed ONCE; every later session —
incremental daily batches, cluster resolution, PageRank canonicalization
— reads the landed index instead of re-hashing the corpus. The artifact
is keyed by the order-independent content digest of the exact (id, text)
corpus it was built from (artifacts.corpus_digest), so a reader can
prove the index still describes the corpus in front of it before
trusting a single pair. The digest, the meta commit, the gate and the
serve/ensure decision are sinks/artifacts.py's, shared by all three
stores: the gate reports why it missed (absent / kind / format /
digest / param:<name>), and any miss means rebuild, never silent reuse.

Layout under ``<out>/``::

    _META.json    {kind: "minhash", format, digest, text_col, id_col,
                   k, n_hashes, band_rows, threshold}
    shingles/     (id, shingles array<string>)  — Jaccard verify side,
                  range-partitioned and sorted by id so a streaming
                  probe prunes row groups by parquet min-max stats
    signatures/   (id, mh_0..mh_{n-1})          — incremental band probe
    bands/        (id, band, sig)               — LSH buckets, laid out
                  by (band, sig) so bucket joins co-locate
    pairs/        (id_a, id_b, jaccard)         — the verified pair
                  graph every graph consumer (connected components,
                  PageRank, canonical_by_rank) walks

Reference parity: the reference engine memoizes fetches on disk
(SURVEY.md §2.13 X3); this is that idea applied to the dedup family's
expensive intermediate, Spark-first (plain parquet, readable by any
engine).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import artifacts
# re-exported: callers (and the perfbench trace) reach the digest and
# the meta through this module
from .artifacts import corpus_digest, merge_digests
from .artifacts import read_meta as read_index_meta  # noqa: F401


def write_minhash_index(df: DataFrame, out: str, text_col: str,
                        id_col: str, k: int = 3, n_hashes: int = 8,
                        band_rows: int = 2,
                        threshold: float = 0.5) -> dict:
    """Build and land the full dedup index for ``df`` at ``out``.

    One shingle pass feeds signatures, bands and the verified pair
    graph; the meta commits LAST (artifacts.begin/commit_meta), so a
    crashed build never presents as a valid artifact."""
    from ..operators.dedup import (
        _band_table, _signatures_from_shingles, doc_shingles,
        verified_pairs_from_index)

    artifacts.begin(out, "minhash")
    digest = corpus_digest(df, text_col, id_col)
    meta = {
        "digest": digest, "kind": "minhash",
        "text_col": text_col, "id_col": id_col,
        "k": k, "n_hashes": n_hashes, "band_rows": band_rows,
        "threshold": threshold,
    }
    sh = doc_shingles(df, text_col, id_col, k)
    # id-range-clustered layout (r18, r17 verdict task 2): the heavy
    # shingle-array table is written range-partitioned + sorted by id,
    # so a streaming probe that pushes its (bounded) candidate-id set
    # into the scan prunes row groups / pages via parquet min-max
    # stats instead of decoding the whole corpus's arrays.
    (sh.repartitionByRange(F.col(id_col))
     .sortWithinPartitions(id_col)
     .write.mode("overwrite").parquet(os.path.join(out, "shingles")))

    spark = df.sparkSession
    sh_stored = spark.read.parquet(os.path.join(out, "shingles"))
    sig = _signatures_from_shingles(sh_stored, id_col, n_hashes)
    sig.write.mode("overwrite").parquet(os.path.join(out, "signatures"))

    sig_stored = spark.read.parquet(os.path.join(out, "signatures"))
    bands = _band_table(sig_stored, id_col, n_hashes, band_rows)
    # (band, sig)-clustered layout: incremental probes join co-located
    # buckets instead of shuffling the whole band table per batch
    bands.repartition("band", "sig").write.mode("overwrite").parquet(
        os.path.join(out, "bands"))

    # pair graph from the STORED tables — the corpus is scanned once
    # (the shingle pass); everything downstream reads bronze
    bands_stored = spark.read.parquet(os.path.join(out, "bands"))
    pairs = verified_pairs_from_index(sh_stored, bands_stored, id_col,
                                      threshold)
    pairs.write.mode("overwrite").parquet(os.path.join(out, "pairs"))
    return artifacts.commit_meta(out, meta)


def fold_minhash_index(spark: SparkSession, base_dir: str,
                       stream_index_dir: str, stream_pairs_dir: str,
                       out: str) -> dict:
    """Fold a stream's accumulated batches back into a NEW digest-keyed
    lake artifact (r10 verdict task 6): the compaction step that closes
    the streaming loop. The base artifact (``cmd_index``) stays
    read-only and true to ITS digest; the folded artifact at ``out``
    covers base ∪ batches and is keyed by the merged digest, so every
    existing consumer (incremental dedup, the graph queries) picks it
    up through the same digest gate with zero new code paths.

    No corpus re-reads and no pair recomputation — all three fold
    inputs are mergeable by construction:

    - digest: xor/count partials landed per batch (``merge_digests``);
    - shingles/signatures/bands: per-doc derivations, so base ∪ batch
      tables ARE the union corpus's tables (bands rebuilt from the
      batch signatures only — base bands are reused as landed);
    - pairs: base pairs ∪ streamed pairs equals the full-corpus pair
      graph by the batch-equality property stream_near_dedup pins
      (every pair has its base x base / cross / intra arbiter exactly
      once).

    Same commit discipline as the builder (artifacts.begin refuses an
    ``out`` equal to any input and gates the base)."""
    from ..operators.dedup import _band_table

    meta = artifacts.begin(out, "minhash", base_dir, stream_index_dir,
                           stream_pairs_dir)
    digest_dir = os.path.join(stream_index_dir, "digest")
    try:
        parts = spark.read.parquet(digest_dir).collect()
    except Exception as exc:
        raise ValueError(
            f"stream index at {stream_index_dir} has no digest partials "
            f"(pre-fold stream layout?): {exc}") from None
    folded_digest = merge_digests(
        [meta["digest"]] + [f"{r['d']}_{r['n']}" for r in parts])
    id_col = meta["id_col"]

    def _cat(sub: str, stream_sub: str) -> DataFrame:
        base = spark.read.parquet(os.path.join(base_dir, sub))
        new = spark.read.parquet(
            os.path.join(stream_index_dir, stream_sub)).drop("batch")
        return base.unionByName(new)

    # same id-range-clustered layout as the builder (r18): the folded
    # artifact's shingle table stays probe-prunable
    (_cat("shingles", "shingles")
     .repartitionByRange(F.col(id_col))
     .sortWithinPartitions(id_col)
     .write.mode("overwrite").parquet(os.path.join(out, "shingles")))
    _cat("signatures", "signatures").write.mode("overwrite").parquet(
        os.path.join(out, "signatures"))

    new_sig = spark.read.parquet(
        os.path.join(stream_index_dir, "signatures")).drop("batch")
    new_bands = _band_table(new_sig, id_col, meta["n_hashes"],
                            meta["band_rows"])
    (spark.read.parquet(os.path.join(base_dir, "bands"))
     .unionByName(new_bands)
     .repartition("band", "sig")
     .write.mode("overwrite").parquet(os.path.join(out, "bands")))

    stream_pairs = (spark.read.parquet(stream_pairs_dir)
                    .select("id_a", "id_b", "jaccard"))
    (spark.read.parquet(os.path.join(base_dir, "pairs"))
     .unionByName(stream_pairs)
     .write.mode("overwrite").parquet(os.path.join(out, "pairs")))

    return artifacts.commit_meta(out, dict(meta, digest=folded_digest))


def load_minhash_index(spark: SparkSession,
                       out: str) -> tuple[DataFrame, DataFrame]:
    """(shingles, signatures) in the shape
    operators/dedup.minhash_index returns — a drop-in base_index for
    incremental_minhash_pairs, read from disk instead of recomputed."""
    return (spark.read.parquet(os.path.join(out, "shingles")),
            spark.read.parquet(os.path.join(out, "signatures")))


def load_pair_graph(spark: SparkSession, out: str) -> DataFrame:
    """The landed verified pair graph (id_a, id_b, jaccard)."""
    return spark.read.parquet(os.path.join(out, "pairs"))
