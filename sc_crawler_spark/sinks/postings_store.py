"""Digest-keyed impact-pruned BM25 postings artifact (r14).

`bm25_pruned_retrieval` bounds batch retrieval at O(queries x 8M) join
rows, but its in-plan form re-pays the index build — tokenize, tf,
df, per-term top-M impact pruning — every session (measured 57-62 s of
the ~70 s total at the 512x Zipfian corpus; PLANS.md r14). This store
lands the pruned postings bronze with the index_store/ann_store
doctrine: keyed by the order-independent content digest of the exact
(id, text) corpus plus build parameters; the digest, meta commit and
gate are sinks/artifacts.py's (artifacts.corpus_digest; one ``FORMAT``
integer; a miss names its reason — absent / kind / format / digest /
param:<name> — and means in-plan rebuild, never silent reuse).

Layout::

    <root>/postings/   parquet (term, doc_id, c), repartitioned BY
                       term — a query batch equi-joins co-located
                       posting buckets
    <root>/tf/         parquet (doc_id, term, tf, len_d), term-
                       clustered — the RAW postings the fold path
                       re-prunes from; len_d rides each row so
                       prune/fold skip a corpus-wide doc_id join
    <root>/lens/       parquet (doc_id, len_d) — 1-row stats source
                       and the n_docs count
    <root>/_META.json  {kind: "bm25", format, digest, n_docs,
                        text_col, id_col, max_postings, k1, b,
                        query_stride, idf: "lucene"}

``query_stride``: the retrieval convention holds out query docs —
rows with doc_id % query_stride == 0 are NOT indexed (default 13, the
convention every registry retrieval query uses); ``None`` indexes the
full lake. It is a recorded, gated parameter so an arbitrary-lake
user is never surprised by silently-missing docs, and ``n_docs`` is
the count idf/avgdl actually saw.

Unlike the IVF artifact there is NO float-determinism caveat: every
contribution c is a deterministic scalar function of integers (tf, df,
len_d, n_docs, total_len) rounded to 12 decimals before landing — no
aggregation-order-dependent float ever reaches the artifact — so the
served result is BIT-EQUAL to the in-plan form (pinned in
tests/test_selection_ops.py).

Incremental maintenance (r15, r14 verdict task 8 — the index_store
``--fold`` pattern applied to postings): ``fold_bm25_index`` merges a
new batch's raw (tf, lens) — computed from the BATCH text only — into
the stored raw tables and re-derives the pruned postings from the
merged statistics. Re-deriving (not appending) is what keeps the fold
EXACT: idf and avgdl are global, so adding documents changes every
existing posting's contribution and can reorder any term's top-M; the
folded artifact is therefore bit-equal to a one-shot build over
base ∪ batch (pinned in tests), and its digest is the partial-merged
union digest (artifacts.merge_digests), provable without re-reading
base text.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import dround
from . import artifacts


def write_bm25_index(df: DataFrame, out: str, text_col: str,
                     id_col: str, max_postings: int = 256,
                     query_stride: int | None = 13) -> dict:
    """Build and land the impact-pruned postings for ``df`` at
    ``out``. One text pass; the pruning chain is exactly
    queries/pipeline._bm25_pruned_postings (Lucene idf, 12-decimal
    contribution, doc_id tiebreak). The raw (tf, lens) tables land
    beside the pruned postings so later batches can FOLD in without a
    base text pass; the prune tail reads the STORED raw tables, so
    the landed postings are exactly consistent with the landed raw."""
    from ..queries.pipeline import (
        _BM25_B, _BM25_K1, _bm25_corpus_stats, _bm25_prune_from_tf,
        tokens)

    # stride 0 would modulo-by-zero every row to NULL (empty index,
    # landed as "valid"); stride 1 holds out EVERY doc. Both are
    # always caller errors — fail loud, never land a 0-doc artifact.
    # (The CLI maps --query-stride 0 to None before reaching here.)
    if query_stride is not None and query_stride < 2:
        raise ValueError(
            f"query_stride must be >= 2 or None (got {query_stride}); "
            "None indexes every document")
    artifacts.begin(out, "bm25")
    digest = artifacts.corpus_digest(df, text_col, id_col)
    toked = df.select(F.col(id_col).alias("doc_id"),
                      tokens(F.col(text_col)).alias("toks"))
    tf, lens = _bm25_corpus_stats(toked, query_stride=query_stride)
    meta = {
        "digest": digest, "kind": "bm25",
        "text_col": text_col, "id_col": id_col,
        "max_postings": max_postings, "idf": "lucene",
        # scoring constants recorded so a constant bump can never
        # silently serve stale scores — callers gate on k1/b
        "k1": _BM25_K1, "b": _BM25_B,
        "query_stride": query_stride,
        "n_docs": lens.count(),
    }
    spark = df.sparkSession
    tf_dir = os.path.join(out, "tf")
    tf.repartition("term").write.mode("overwrite").parquet(tf_dir)
    lens.write.mode("overwrite").parquet(os.path.join(out, "lens"))
    tf_stored = spark.read.parquet(tf_dir)
    lens_stored = spark.read.parquet(os.path.join(out, "lens"))
    post = _bm25_prune_from_tf(tf_stored, lens_stored, max_postings,
                               tf_dir, None)
    post.repartition("term").write.mode("overwrite").parquet(
        os.path.join(out, "postings"))
    return artifacts.commit_meta(out, meta)


def load_raw(spark: SparkSession, out: str) -> tuple:
    """The landed raw tables: (tf, lens)."""
    return (spark.read.parquet(os.path.join(out, "tf")),
            spark.read.parquet(os.path.join(out, "lens")))


def fold_bm25_index(spark: SparkSession, base_dir: str,
                    batch: DataFrame, out: str) -> dict:
    """Fold a new document batch into a landed postings artifact,
    producing a NEW digest-keyed artifact at ``out`` that is
    BIT-EQUAL to a one-shot build over base ∪ batch — without
    re-reading any base text (the index_store fold discipline).

    The batch's (tf, lens) come from ITS text only (the same
    zero-shuffle run-length chain as the builder); the merged raw
    tables re-derive df/avgdl/idf and the per-term top-M — global
    statistics change under growth, so re-pruning from raw is the
    only exact incremental form (appending to a pruned set is not:
    a term's old postings can be displaced by new higher-impact
    docs, and every contribution shifts with idf/avgdl). The folded
    digest is merge_digests(base, batch) — provable against an
    independently computed union digest. Batch ids must be disjoint
    from the base corpus (the crawl convention every fold here
    assumes; a colliding id would double-count its doc in n_docs).

    ``out`` must be a new directory (the fold reads base while
    writing); the base must pass the kind/format gate."""
    from ..queries.pipeline import (
        _bm25_corpus_stats, _bm25_prune_from_tf, tokens)

    meta = artifacts.begin(out, "bm25", base_dir)
    text_col, id_col = meta["text_col"], meta["id_col"]
    batch_digest = artifacts.corpus_digest(batch, text_col, id_col)
    toked = batch.select(F.col(id_col).alias("doc_id"),
                         tokens(F.col(text_col)).alias("toks"))
    # the batch inherits the artifact's recorded query-doc stride — a
    # fold can never change indexing convention
    b_tf, b_lens = _bm25_corpus_stats(
        toked, query_stride=meta["query_stride"])
    base_tf, base_lens = load_raw(spark, base_dir)
    tf = base_tf.unionByName(b_tf)
    lens = base_lens.unionByName(b_lens)
    tf_dir = os.path.join(out, "tf")
    tf.repartition("term").write.mode("overwrite").parquet(tf_dir)
    lens.write.mode("overwrite").parquet(os.path.join(out, "lens"))
    tf_stored = spark.read.parquet(tf_dir)
    lens_stored = spark.read.parquet(os.path.join(out, "lens"))
    post = _bm25_prune_from_tf(tf_stored, lens_stored,
                               meta["max_postings"], tf_dir, None)
    post.repartition("term").write.mode("overwrite").parquet(
        os.path.join(out, "postings"))
    return artifacts.commit_meta(out, dict(
        meta, digest=artifacts.merge_digests(
            [meta["digest"], batch_digest]),
        n_docs=lens_stored.count()))


def load_postings(spark: SparkSession, out: str) -> DataFrame:
    """The landed pruned postings (term, doc_id, c)."""
    return spark.read.parquet(os.path.join(out, "postings"))


def bm25_topk_served(q_terms: DataFrame, spark: SparkSession, out: str,
                     top_k: int = 5) -> DataFrame:
    """BM25 top-k served FROM the landed postings: broadcast the
    (query_id, term) batch into the term-clustered posting buckets,
    DECIMAL-sum per (query, doc), rank with the total order — zero
    index-build shuffles. Bit-equal to the in-plan pruned form."""
    post = load_postings(spark, out)
    scored = (post.join(F.broadcast(q_terms), "term")
              .groupBy("query_id", "doc_id")
              .agg(F.sum(F.col("c").cast("decimal(28,12)")).alias("s")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select("query_id", "doc_id",
                    dround(F.col("s").cast("double"), 6)
                    .alias("bm25_score"),
                    F.col("rank").cast("long").alias("rank")))
