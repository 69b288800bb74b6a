"""Crash-point sweep over the seven artifact writers (MinHash build and
fold, BM25 build and fold, IVF build, fold and rebuild).

Each writer runs once uninterrupted to count its write points (every
parquet write, then the meta commit) and record the digest and row
set it lands. Then, for every write point k, the writer starts over an
``out`` that already holds an older complete artifact and dies at
point k — before the k-th parquet write, or inside the meta commit
between the fsynced tmp file and the rename. The gate must then read
``absent`` (never the old meta over new data), and a re-run must land
the same digest and row set as the uninterrupted run.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from sc_crawler_spark.sinks import (
    ann_store, artifacts, index_store, postings_store)

SF = "/root/testdata/sf0.001"
_OFF = 10**6  # batch ids, disjoint from the base corpus


class _Crash(RuntimeError):
    pass


def _run_with_crash(mp, run, k: int | None) -> int:
    """Run ``run()``, dying at write point ``k`` (None: never); returns
    the number of write points reached."""
    seen = [0]
    real_parquet = DataFrameWriter.parquet
    real_commit = artifacts.commit_meta

    def parquet(self, path, *a, **kw):
        seen[0] += 1
        if seen[0] == k:
            raise _Crash(f"write point {k}: parquet {path}")
        return real_parquet(self, path, *a, **kw)

    def commit(path, meta):
        seen[0] += 1
        if seen[0] == k:
            def replace(*a, **kw):
                raise _Crash(f"write point {k}: meta rename")
            mp.setattr(os, "replace", replace)
        return real_commit(path, meta)

    mp.setattr(DataFrameWriter, "parquet", parquet)
    mp.setattr(artifacts, "commit_meta", commit)
    run()
    return seen[0]


def _rows(spark, out: str) -> dict:
    return {sub: sorted(repr(tuple(r))
                        for r in spark.read.parquet(
                            os.path.join(out, sub)).collect())
            for sub in sorted(os.listdir(out))
            if os.path.isdir(os.path.join(out, sub))}


def _docs(spark):
    return (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 120)
            .coalesce(1))


def _emb(spark):
    return (spark.read.parquet(f"{SF}/embeddings.parquet")
            .select("vec_id", "embedding").filter(F.col("vec_id") < 200)
            .coalesce(1))


def _minhash_stream(spark, d: str, batch) -> tuple[str, str]:
    """A one-batch stream layout (shingles/signatures/digest partials
    plus a pairs batch), as the streaming ingest lands it."""
    from sc_crawler_spark.operators.dedup import (
        _signatures_from_shingles, doc_shingles)

    own, pairs = os.path.join(d, "own"), os.path.join(d, "pairs")
    sh = doc_shingles(batch, "text", "doc_id", 3)
    sh.write.parquet(os.path.join(own, "shingles", "batch=0"))
    _signatures_from_shingles(sh, "doc_id", 8).write.parquet(
        os.path.join(own, "signatures", "batch=0"))
    batch.agg(F.expr("bit_xor(xxhash64(doc_id, text))").alias("d"),
              F.count("*").alias("n")).write.parquet(
        os.path.join(own, "digest", "batch=0"))
    spark.createDataFrame([(1, _OFF + 1, 1.0)],
                          "id_a long, id_b long, jaccard double") \
        .write.parquet(os.path.join(pairs, "batch=0"))
    return own, pairs


def _case(name: str, spark, d: str):
    """(kind, run(out), old(out)) for one writer: ``old`` lands the
    complete artifact a crashed run starts over."""
    docs = _docs(spark)
    batch = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + _OFF).alias("doc_id"), "text")
    emb = _emb(spark)
    vbatch = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + _OFF).alias("vec_id"), "embedding")
    base = os.path.join(d, "base")
    if name == "minhash_build":
        return ("minhash",
                lambda out: index_store.write_minhash_index(
                    docs, out, "text", "doc_id"),
                lambda out: index_store.write_minhash_index(
                    docs, out, "text", "doc_id", k=5))
    if name == "minhash_fold":
        index_store.write_minhash_index(docs, base, "text", "doc_id")
        own, pairs = _minhash_stream(spark, d, batch)
        return ("minhash",
                lambda out: index_store.fold_minhash_index(
                    spark, base, own, pairs, out),
                lambda out: index_store.write_minhash_index(
                    batch, out, "text", "doc_id"))
    if name == "bm25_build":
        return ("bm25",
                lambda out: postings_store.write_bm25_index(
                    docs, out, "text", "doc_id", max_postings=32),
                lambda out: postings_store.write_bm25_index(
                    docs, out, "text", "doc_id", max_postings=16))
    if name == "bm25_fold":
        postings_store.write_bm25_index(docs, base, "text", "doc_id",
                                        max_postings=64)
        return ("bm25",
                lambda out: postings_store.fold_bm25_index(
                    spark, base, batch, out),
                lambda out: postings_store.write_bm25_index(
                    batch, out, "text", "doc_id", max_postings=64))
    if name == "ivf_build":
        return ("ivf",
                lambda out: ann_store.write_ivf_index(
                    emb, out, "embedding", "vec_id", n_cells=8, iters=2),
                lambda out: ann_store.write_ivf_index(
                    emb, out, "embedding", "vec_id", n_cells=4, iters=1))
    ann_store.write_ivf_index(emb, base, "embedding", "vec_id",
                              n_cells=4, iters=1)
    if name == "ivf_fold":
        return ("ivf",
                lambda out: ann_store.fold_ivf_index(
                    spark, base, vbatch, out),
                lambda out: ann_store.write_ivf_index(
                    vbatch, out, "embedding", "vec_id", n_cells=4,
                    iters=1))
    assert name == "ivf_rebuild"
    union = artifacts.corpus_digest(emb.unionByName(vbatch),
                                       "embedding", "vec_id")
    return ("ivf",
            lambda out: ann_store.rebuild_ivf_index(
                spark, base, vbatch, out, union),
            # the drifted fold the rebuild replaces in place
            lambda out: ann_store.fold_ivf_index(spark, base, vbatch, out))


@pytest.mark.parametrize("name", [
    "minhash_build", "minhash_fold", "bm25_build", "bm25_fold",
    "ivf_build", "ivf_fold", "ivf_rebuild"])
def test_crash_point_sweep(spark, tmp_path, name):
    kind, run, old = _case(name, spark, str(tmp_path))
    clean = str(tmp_path / "clean")
    with pytest.MonkeyPatch.context() as mp:
        n_points = _run_with_crash(mp, lambda: run(clean), None)
    want = artifacts.read_meta(clean)
    want_rows = _rows(spark, clean)
    assert n_points >= 3 and want_rows
    assert artifacts.gate(clean, kind, want["digest"]) == (True, "hit")

    for k in range(1, n_points + 1):
        out = str(tmp_path / f"crash{k}")
        old(out)
        assert artifacts.read_meta(out) is not None
        with pytest.MonkeyPatch.context() as mp:
            with pytest.raises(_Crash):
                _run_with_crash(mp, lambda: run(out), k)
        assert artifacts.gate(out, kind, want["digest"]) == (
            False, "absent"), f"write point {k}"
        run(out)
        assert artifacts.read_meta(out) == want, f"write point {k}"
        assert _rows(spark, out) == want_rows, f"write point {k}"
