#!/usr/bin/env python
"""r17 optimization: sub-stage breakdown of the fold_cycle ingest-gate
leg (guide 1.1/1.4 — find where the 13-16 s per 5k-doc micro-batch
goes before changing anything). Reuses the bench's exact setup: the
standing 512x dedup_index artifact as the seed, a freshly ciphered
1x-documents batch with offset ids as "the next day's crawl".

Each sub-stage is timed to the noop sink with setJobDescription
labels, best-of-2. Writes plans/r17/gate_profile.json.

Usage: python scripts/profile_gate_r17.py
Requires /tmp/sc_bench_scale64 (run bench.py first).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SCALE_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/sc_bench_scale64")
SEED = os.path.join(SCALE_DIR, "dedup_index")
ROOT = "/tmp/sc_gate_profile_r17"


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, thunk, reps=2):
    best = float("inf")
    for _ in range(reps):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        thunk()
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({label: round(best, 3)}), flush=True)
    return round(best, 3)


def main() -> None:
    import bench
    from sc_crawler_spark.queries.curation import dsir_log_ratios
    from sc_crawler_spark.queries.pipeline import _lr_trained
    from sc_crawler_spark.session import get_spark
    from sc_crawler_spark.sinks import artifacts, index_store
    from sc_crawler_spark.streaming import (read_document_stream,
                                            stream_ingest_gate)
    from sc_crawler_spark.streaming.pipeline import (stream_dsir_gate,
                                                     stream_lr_quality_gate)
    from sc_crawler_spark.operators.dedup import (
        _band_table, _signatures_from_shingles, doc_shingles,
        incremental_minhash_pairs)
    from sc_crawler_spark.tables import load

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("sc-gate-profile")
    out: dict[str, float] = {}

    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(ROOT, exist_ok=True)

    # ---- the bench's exact batch2 (2000-doc ciphered, offset ids)
    batch2 = bench._copy_cipher(
        load(spark, sf_dir, "documents")
        .select((F.col("doc_id") + 2 * 10**13).alias("doc_id"), "text"),
        2000)
    src2 = os.path.join(ROOT, "in2")
    batch2.coalesce(1).write.parquet(src2)
    batch = spark.read.parquet(src2)
    out["batch_docs"] = batch.count()

    # ---- offline models (NOT part of the timed leg in bench)
    feat, it = _lr_trained(spark, sf_dir)
    row = it.first()
    weights = {k: row[k] for k in ("w_b", "w_l", "w_t", "w_p")}
    feat.unpersist()
    lr_buckets = [float(r.lr) for r in dsir_log_ratios(
        load(spark, sf_dir, "documents")).orderBy("bucket").collect()]

    # ---- row-local gates
    quality = stream_lr_quality_gate(batch, weights).select("doc_id", "prob")
    importance = stream_dsir_gate(batch, lr_buckets, 0.0) \
        .select("doc_id", "log_weight")
    surv = (batch.select("doc_id", "text")
            .join(quality, "doc_id").join(importance, "doc_id"))
    out["gate.row_local_gates"] = timed(
        spark, "gate.row_local_gates", lambda: noop(surv))

    meta = artifacts.read_meta(SEED)
    k, n_hashes, band_rows = meta["k"], meta["n_hashes"], meta["band_rows"]
    threshold = meta["threshold"]

    # ---- batch-side shingles + signatures
    surv_docs = surv.select("doc_id", "text")
    new_sh = doc_shingles(surv_docs, "text", "doc_id", k)
    out["gate.batch_shingles"] = timed(
        spark, "gate.batch_shingles", lambda: noop(new_sh))
    new_sig = _signatures_from_shingles(new_sh, "doc_id", n_hashes)
    out["gate.batch_signatures"] = timed(
        spark, "gate.batch_signatures", lambda: noop(new_sig))

    # ---- seed-side tables, as the current probe reads them
    seed_sh, seed_sig = index_store.load_minhash_index(spark, SEED)
    out["gate.seed_sig_scan"] = timed(
        spark, "gate.seed_sig_scan", lambda: noop(seed_sig))
    base_bands = _band_table(seed_sig, "doc_id", n_hashes, band_rows)
    out["gate.seed_bands_from_sig"] = timed(
        spark, "gate.seed_bands_from_sig", lambda: noop(base_bands))
    stored_bands = spark.read.parquet(os.path.join(SEED, "bands"))
    out["gate.seed_bands_stored_scan"] = timed(
        spark, "gate.seed_bands_stored_scan", lambda: noop(stored_bands))
    out["gate.seed_shingles_scan"] = timed(
        spark, "gate.seed_shingles_scan", lambda: noop(seed_sh))

    # ---- the full incremental probe (cand + verify), as shipped
    pairs = incremental_minhash_pairs(
        surv_docs, (seed_sh, seed_sig), "text", "doc_id", k=k,
        n_hashes=n_hashes, band_rows=band_rows, threshold=threshold)
    out["gate.incremental_pairs_full"] = timed(
        spark, "gate.incremental_pairs_full", lambda: noop(pairs))
    out["gate.pairs_count"] = pairs.count()
    spark.catalog.clearCache()

    # ---- end-to-end leg exactly as bench times it (includes stream
    # machinery + all per-batch writes)
    def _gate_leg(rep: int) -> None:
        sub = f"_p{rep}"
        q2 = stream_ingest_gate(
            read_document_stream(spark, src2),
            os.path.join(ROOT, "gate_out" + sub),
            os.path.join(ROOT, "gate_pairs" + sub),
            os.path.join(ROOT, "gate_idx" + sub),
            os.path.join(ROOT, "gate_ckpt" + sub),
            weights, lr_buckets, seed_index_dir=SEED)
        q2.awaitTermination(600)

    best = float("inf")
    for rep in range(2):
        spark.sparkContext.setJobDescription("gate.e2e_leg")
        t0 = time.perf_counter()
        _gate_leg(rep)
        best = min(best, time.perf_counter() - t0)
    out["gate.e2e_leg"] = round(best, 3)
    print(json.dumps({"gate.e2e_leg": out["gate.e2e_leg"]}), flush=True)

    dst = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r17", "gate_profile.json")
    with open(dst, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out, indent=1, sort_keys=True))
    shutil.rmtree(ROOT, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
