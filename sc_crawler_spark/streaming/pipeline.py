"""Structured Streaming extension (SURVEY.md §2.11).

The reference is a scheduled batch crawler with no streaming operators;
this module is the designed extension path: incremental ingestion of
observation streams (spot prices / events) with event-time semantics.

- :func:`read_event_stream`   — file-source stream with declared schema
  (nanosecond-timestamp tolerant, same convention as tables.load).
- :func:`tumbling_stats`      — watermarked tumbling event-time window;
  identical results to the batch ``tumbling_daily_stats`` query when run
  with ``Trigger.AvailableNow`` over the same files.
- :func:`stream_keep_last_upsert` — foreachBatch keep-last MERGE: each
  micro-batch is deduped (A4 keep-last on observed_at) and upserted into
  the silver snapshot, giving the reference's T1/T2 lifecycle a streaming
  form.

At scale: file-source here stands in for Kafka/queue sources — the
transforms are source-agnostic; watermark bounds state, and the
foreachBatch MERGE maps onto Delta/Iceberg upserts on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from ..sinks import artifacts

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", LongType()),        # ns epoch in the lake files
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])

EVENT_SCHEMA_TS = StructType(
    [f if f.name != "ts" else StructField("ts", TimestampType())
     for f in EVENT_SCHEMA.fields]
)

DOCUMENT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
    StructField("source", StringType()),
    StructField("n_chars", LongType()),
])


def read_event_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source event stream; converts the lake's nanosecond-long ts
    to a proper timestamp (mirrors tables.load)."""
    try:  # self-sufficient under a vanilla session, same as tables.load
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    # Streams need a declared schema, so sniff the lake's physical ts type
    # once from the footer (batch read plans lazily — no data scan): files
    # written as TIMESTAMP_NS surface as bigint under nanosAsLong, plain
    # TIMESTAMP_MICROS surfaces as timestamp. Same dual-convention as
    # tables.load so batch and stream stay bit-identical.
    # An EMPTY or not-yet-created drop directory (the normal initial
    # state of a file-source stream) has no footer to sniff — default to
    # the lake's TIMESTAMP_NS convention; the declared schema is the
    # whole point of readStream on an empty dir.
    try:
        ns_long = (dict(spark.read.parquet(source_dir).dtypes)
                   .get("ts") == "bigint")
    except Exception:
        os.makedirs(source_dir, exist_ok=True)
        ns_long = True
    reader = spark.readStream.schema(EVENT_SCHEMA if ns_long
                                     else EVENT_SCHEMA_TS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    if ns_long:
        # integer division, same as tables.load: `/` promotes the ~1.7e18
        # nanos long to DOUBLE (+-256 ns error) and diverges from batch
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_document_stream(spark: SparkSession, source_dir: str,
                         max_files_per_trigger: int | None = None
                         ) -> DataFrame:
    """File-source documents stream (declared DOCUMENT_SCHEMA — no
    timestamp dual-convention to sniff; an absent drop dir is created
    empty, the normal initial state)."""
    os.makedirs(source_dir, exist_ok=True)
    reader = spark.readStream.schema(DOCUMENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def stream_chunk_documents(docs: DataFrame) -> DataFrame:
    """Chunk-at-ingest: the EXACT batch transform
    (operators/chunking.chunk_docs) applied to a document stream. The
    operator is a stateless per-row explode — no watermark, no state
    store, append mode — so batch and stream outputs are identical by
    construction and each micro-batch's cost is proportional to its
    own files (the 100 TB ingest story: chunks are produced as
    documents land, never by re-scanning the corpus)."""
    from ..operators.chunking import chunk_docs

    return chunk_docs(docs)


def tumbling_stats(events: DataFrame, window: str = "1 day",
                   watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling event-time aggregate — the streaming analog of
    the batch tumbling_daily_stats query (late rows beyond the watermark
    are dropped; state is bounded by watermark horizon)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 4)
            .cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events",
                "sum_value")
    )


def streaming_sessions(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Event-time session windows per user — the streaming twin of the
    batch ``sessionize`` operator (gap-based, 30-minute inactivity):
    ``session_window`` merges events closer than the gap and closes a
    session once the watermark passes its end, so state is bounded by
    (watermark + gap), not stream length. Emits one row per closed
    session: (user_id, session start/end, n_events)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )


def stream_attribution_join(events: DataFrame,
                            trigger_type: str = "purchase",
                            touch_type: str = "click",
                            lookback_seconds: int = 3600,
                            watermark: str = "2 hours") -> DataFrame:
    """Stream-stream attribution join: every ``trigger_type`` event
    pairs with the same user's ``touch_type`` events from the trailing
    ``lookback_seconds`` of event time (click->purchase attribution).

    The inner join carries watermarks on BOTH sides plus the time-range
    condition, which is exactly what lets Spark bound the join state:
    a buffered click can be evicted once the watermark guarantees no
    future purchase can reach back to it. Output: one row per
    (purchase, attributed click) pair."""
    trig = (events.filter(F.col("event_type") == trigger_type)
            .select(F.col("event_id").alias("purchase_id"),
                    F.col("user_id"),
                    F.col("ts").alias("purchase_ts"),
                    F.col("value").alias("purchase_value"))
            .withWatermark("purchase_ts", watermark))
    touch = (events.filter(F.col("event_type") == touch_type)
             .select(F.col("event_id").alias("click_id"),
                     F.col("user_id").alias("t_user_id"),
                     F.col("ts").alias("click_ts"))
             .withWatermark("click_ts", watermark))
    cond = (
        (trig["user_id"] == touch["t_user_id"])
        & (touch["click_ts"] <= trig["purchase_ts"])
        & (touch["click_ts"]
           >= trig["purchase_ts"] - F.expr(f"INTERVAL {lookback_seconds} SECONDS"))
    )
    return (trig.join(touch, cond, "inner")
            .select("purchase_id", "user_id", "purchase_ts",
                    "purchase_value", "click_id", "click_ts"))


def stream_exact_dedup(events: DataFrame, key_cols: list[str] | None = None,
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of ``operators/dedup.exact_dedup``: dedup at
    ingest via ``dropDuplicatesWithinWatermark`` on a content digest —
    the first arrival of each digest passes, repeats within the
    watermark horizon are dropped, and expired digests age out of state
    (bounded state, unlike plain dropDuplicates on a stream).

    ``key_cols`` defaults to the payload columns (everything except the
    event id), so replayed/duplicated observations collapse while
    distinct ones pass. The digest is the same native sha2-over-concat
    construction as the batch path — JVM-side, no UDF."""
    payload = key_cols or [c for c in events.columns if c != "event_id"]
    digest = F.sha2(F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                  for c in payload]), 256)
    return (
        events.withColumn("content_sha", digest)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_sha"])
    )


def stream_near_dedup(docs: DataFrame, pairs_dir: str, index_dir: str,
                      checkpoint_dir: str, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      n_hashes: int = 8, band_rows: int = 2,
                      threshold: float = 0.5,
                      seed_index_dir: str | None = None):
    """Streaming MinHash-LSH near-dedup (r8 verdict item 9): each
    micro-batch of documents is matched against the STANDING shingle/
    signature index (operators/dedup.incremental_minhash_pairs — no
    base x base work, no corpus re-shingling) plus itself, the verified
    near-dup pairs land under ``pairs_dir``, and the batch's shingles/
    signatures are folded into the index so LATER batches match against
    it. The union of emitted pairs over any batch split equals the
    full-corpus ``minhash_lsh_pairs`` output — batch-equal by the same
    signature-locality argument the incremental operator's oracle
    proves (a doc's signature depends only on its own shingles), and
    pinned by test_streaming_multimodal.

    Idempotent under checkpoint replay: every write goes to a
    ``batch=<id>`` subdirectory with mode=overwrite, so a replayed
    micro-batch overwrites its own partition instead of double-
    appending — exactly-once OUTPUT from at-least-once execution, the
    same discipline foreachBatch sinks need on a cluster.

    ``seed_index_dir`` is the production wiring (r10): point it at a
    ``cmd_index`` lake artifact and the stream's standing index STARTS
    as the landed corpus — the 100 TB base is never re-shingled; the
    stream only ACCUMULATES its own batches under ``index_dir`` (the
    digest-keyed artifact is read-only here, so its digest stays
    true). Shingle/signature parameters are proven against the
    artifact's _META before the stream starts — a mismatched seed is a
    loud ValueError, never silently-incomparable signatures."""
    _validate_seed_index(seed_index_dir, k, n_hashes, text_col, id_col)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select(id_col, text_col).cache()
        try:
            _near_dedup_batch(batch, batch_id, pairs_dir, index_dir,
                              text_col, id_col, k, n_hashes, band_rows,
                              threshold, seed_index_dir)
        finally:
            batch.unpersist()

    return (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _validate_seed_index(seed_index_dir: str | None, k: int,
                         n_hashes: int, text_col: str,
                         id_col: str) -> None:
    """Shingle/signature parameters are proven against a seed
    artifact's gate before any stream starts — a mismatched seed is
    a loud ValueError naming the gate reason, never silently-
    incomparable signatures."""
    if seed_index_dir is None:
        return
    want = dict(k=k, n_hashes=n_hashes, text_col=text_col,
                id_col=id_col)
    hit, why = artifacts.gate(seed_index_dir, "minhash", **want)
    if not hit:
        raise ValueError(
            f"seed index at {seed_index_dir} unusable ({why}); "
            f"want a minhash index built with {want}")


# Candidate-pair cap of the streaming probe's pushdown
# (incremental_minhash_pairs(probe_prefilter_max=...)): a micro-batch
# with more candidates falls back to the collect-free plan.
_PROBE_PREFILTER_MAX = 64 * 1024


def _near_dedup_batch(batch: DataFrame, batch_id: int, pairs_dir: str,
                      index_dir: str, text_col: str, id_col: str,
                      k: int, n_hashes: int, band_rows: int,
                      threshold: float,
                      seed_index_dir: str | None) -> str:
    """One micro-batch of the near-dedup ingest (the shared body of
    stream_near_dedup and stream_ingest_gate): match the batch against
    the standing index (seed artifact ∪ accumulated batches), land the
    verified pairs + the batch's shingles/signatures/digest partial
    (all overwrite-own-``batch=<id>``-partition — idempotent under
    checkpoint replay), and return the landed pair partition's path.

    The caller caches ``batch`` and owns its release: the batch's
    per-batch actions (pairs, shingles, signatures, digest, and the
    gate's accepted write) each re-read it. The batch's own shingle
    and signature tables are cached here and released in a
    ``finally``, so a failing batch leaks no cache into the
    session."""
    from ..operators.dedup import (
        _band_table, _signatures_from_shingles, doc_shingles,
        incremental_minhash_pairs, verified_pairs_from_index)
    from ..sinks.snapshot import snapshot_exists

    spark = batch.sparkSession
    sh_dir = os.path.join(index_dir, "shingles")
    sig_dir = os.path.join(index_dir, "signatures")

    def _read_part(d: str) -> DataFrame | None:
        # gate on existence, never on a caught read error: a corrupt
        # standing partition must fail the batch, not read as "no
        # batches landed yet" and empty the standing index
        if not snapshot_exists(d):
            return None
        return spark.read.parquet(d).drop("batch")

    def _union(a: DataFrame | None, b: DataFrame | None) -> DataFrame | None:
        if a is None:
            return b
        return a if b is None else a.unionByName(b)

    base_sh = _read_part(sh_dir)
    base_sig = _read_part(sig_dir)
    if seed_index_dir is not None:
        from ..sinks import index_store
        seed_sh, seed_sig = index_store.load_minhash_index(
            spark, seed_index_dir)
        base_sh = _union(seed_sh, base_sh)
        base_sig = _union(seed_sig, base_sig)
    # The batch's own tables are computed ONCE and cached for the
    # micro-batch's lifetime: the per-batch actions would otherwise
    # each re-run the tokenize/shingle/md5-aggregate chain from raw
    # text — measured as the bulk of the ingest-gate leg at 512x seed
    # scale (r17). Released in the finally so per-batch cache never
    # accumulates across micro-batches, failed ones included.
    new_sh = doc_shingles(batch, text_col, id_col, k).cache()
    new_sig = _signatures_from_shingles(new_sh, id_col, n_hashes).cache()
    try:
        if base_sh is not None and base_sig is not None:
            # candidate-id pushdown (r18): the probe's verify stage
            # reads the STANDING corpus-sized shingle table per
            # micro-batch; a micro-batch only ever needs the few
            # candidate rows, so the streaming path opts into the
            # gated bounded-collect + In filter (row-group pruning
            # against the id-clustered layout). Registry/offline
            # callers keep the collect-free plan.
            pairs = incremental_minhash_pairs(
                batch, (base_sh, base_sig), text_col, id_col, k=k,
                n_hashes=n_hashes, band_rows=band_rows,
                threshold=threshold, new_index=(new_sh, new_sig),
                probe_prefilter_max=_PROBE_PREFILTER_MAX)
        else:  # first batch: nothing standing, the batch IS the
            # corpus — same body as minhash_lsh_pairs, over the
            # already-cached tables
            pairs = verified_pairs_from_index(
                new_sh, _band_table(new_sig, id_col, n_hashes, band_rows),
                id_col, threshold
            ).withColumn("is_cross", F.lit(False))
        pair_part = os.path.join(pairs_dir, f"batch={batch_id}")
        pairs.write.mode("overwrite").parquet(pair_part)
        new_sh.write.mode("overwrite").parquet(
            os.path.join(sh_dir, f"batch={batch_id}"))
        new_sig.write.mode("overwrite").parquet(
            os.path.join(sig_dir, f"batch={batch_id}"))
        # partial corpus digest (artifacts.digest_cols — an empty
        # replayed batch lands the xor identity): what makes the
        # accumulated stream FOLDABLE into a new digest-keyed artifact
        # (sinks/index_store.fold_minhash_index) without ever
        # re-reading the batch texts — same overwrite-own-partition
        # idempotence as the other per-batch writes
        batch.agg(*artifacts.digest_cols(text_col, id_col)).write.mode(
            "overwrite").parquet(
            os.path.join(index_dir, "digest", f"batch={batch_id}"))
    finally:
        new_sig.unpersist()
        new_sh.unpersist()
    return pair_part


def stream_ingest_gate(docs: DataFrame, out_dir: str, pairs_dir: str,
                       index_dir: str, checkpoint_dir: str,
                       weights: dict, lr_by_bucket: list,
                       dsir_threshold: float = 0.0, k: int = 3,
                       n_hashes: int = 8, band_rows: int = 2,
                       threshold: float = 0.5,
                       seed_index_dir: str | None = None):
    """THE production crawl filter, composed (r15, r14 verdict task
    6): quality ∧ importance ∧ novelty in one ingest pass — every
    arriving document must clear the offline-trained LR quality gate
    (stream_lr_quality_gate's exact scoring), the offline-fitted DSIR
    importance gate (stream_dsir_gate's exact scoring), and near-dup
    NOVELTY against the standing minhash index; survivors land under
    ``out_dir`` as (doc_id, text, prob, log_weight), one row per
    accepted arriving row.

    Order is the production one: the two row-local gates run FIRST
    (cheap, shuffle-free — Theta(batch) expression work), nested as
    filters over one read of the batch — no join decides a gate — so
    only their survivors pay shingling and the band-bucket probe. The
    near-dedup stage is the stream_near_dedup body verbatim
    (_near_dedup_batch): survivors' pairs/shingles/signatures/digest
    partials land exactly like the standalone stream, so the
    accumulated index stays FOLDABLE into a digest-keyed lake
    artifact (index_store.fold_minhash_index) with zero new code.

    Novelty semantics: a surviving doc is accepted iff it has no
    verified near-dup pair with the standing corpus (seed ∪ prior
    batches' survivors) nor with a smaller-id survivor of its own
    batch. ALL gate survivors fold into the standing index (accepted
    or not), which makes the accepted set independent of batch
    boundaries whenever ids are arrival-monotone (the crawl
    convention): accepted = {d : no pair (s, d), s.id < d.id, s a
    survivor} — exactly the offline composition quality-filter ∘
    dsir-filter ∘ minhash_lsh_pairs drop-larger-id, which is the
    pytest batch==offline parity proof.

    Idempotent under checkpoint replay: every write (pairs, shingles,
    signatures, digest, accepted docs) overwrites its own
    ``batch=<id>`` partition."""
    _validate_seed_index(seed_index_dir, k, n_hashes, "text", "doc_id")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # the row-local gates nest as filters over ONE scan of the
        # batch (each arriving row lands at most once); cached: the
        # dedup stage's actions and the accepted write below each
        # re-evaluate surv, and the gates tokenize per evaluation
        surv = (stream_dsir_gate(
                    stream_lr_quality_gate(
                        batch.select("doc_id", "text"), weights),
                    lr_by_bucket, dsir_threshold)
                .select("doc_id", "text", "prob", "log_weight")
                .cache())
        try:
            pair_part = _near_dedup_batch(
                surv.select("doc_id", "text"), batch_id, pairs_dir,
                index_dir, "text", "doc_id", k, n_hashes, band_rows,
                threshold, seed_index_dir)
            pairs = spark.read.parquet(pair_part)
            # drop a batch doc that duplicates the standing corpus
            # (either pair side when cross) or a smaller-id batch
            # survivor (id_b of an intra pair); the anti join only
            # ever removes BATCH docs, so a cross pair's standing side
            # is a no-op here
            dropped = (pairs.select(F.col("id_b").alias("doc_id"))
                       .unionByName(
                           pairs.filter("is_cross")
                           .select(F.col("id_a").alias("doc_id")))
                       .distinct())
            accepted = surv.join(dropped, "doc_id", "left_anti")
            accepted.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={batch_id}"))
        finally:
            surv.unpersist()

    return (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_best_scores(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running best score per (user_id,
    event_type) — the streaming form of A1 (operators/scores.py)
    (workload_profile_scores.py:182-213), kept incrementally via
    ``applyInPandasWithState``.

    State per key is just ``(best, n_obs)`` — O(1) per key, no raw-event
    retention, so state size is bounded by key cardinality regardless of
    stream length. Each micro-batch emits the keys it updated (output
    mode 'update'); the latest emission per key is the current best.

    Arrow-batched: the per-group function sees pandas frames, not rows.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("best", DoubleType()),
        StructField("n_obs", LongType()),
    ])
    state_schema = StructType([
        StructField("best", DoubleType()),
        StructField("n_obs", LongType()),
    ])

    def update(key, pdfs, state):
        best, n = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            vals = pdf["value"].dropna()
            if len(vals):
                m = float(vals.max())
                best = m if best is None or m > best else best
                n += int(len(vals))
        state.update((best, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "event_type": [key[1]],
             "best": [best], "n_obs": [n]}
        )

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def stream_keep_last_upsert(events: DataFrame, state_dir: str,
                            checkpoint_dir: str, pks: list[str],
                            order_col: str = "ts"):
    """foreachBatch keep-last upsert into a parquet silver snapshot.

    Each micro-batch: keep-last dedup within the batch (A4), then
    merge_upsert against the stored snapshot (K1). Returns the streaming
    query (caller awaits/stops it).
    """
    from ..operators.upsert import merge_upsert
    from ..operators.windows import keep_last_dedup
    from ..sinks.snapshot import read_snapshot, snapshot_exists, write_snapshot

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        deduped = keep_last_dedup(batch, pks, order_col)
        if snapshot_exists(state_dir):
            # real read/merge failures propagate so the batch retries —
            # a broad except would silently reset the state table
            current = read_snapshot(spark, state_dir)
            merged = merge_upsert(current, deduped.select(*current.columns), pks)
        else:  # first batch: no snapshot yet
            merged = deduped
        # versioned write + atomic pointer swap: a crash mid-write leaves
        # the previous committed snapshot intact, so the checkpoint's
        # replayed batch merges against complete state, never a truncation
        write_snapshot(spark, merged, state_dir)

    return (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


#: Sidecar (committed atomically with the snapshot cells — see
#: sinks.snapshot.read_extra) holding the sorted JSON list of input
#: file URIs already folded into the snapshot. Grows one URI per
#: source file — the same ledger Spark's own file source keeps in its
#: checkpoint, except THIS one lives with the state it guards, so it
#: survives a checkpoint wipe.
FOLD_MANIFEST = "_folded_files.json"


def _fold_guard(batch: DataFrame, batch_id: int, state_dir: str,
                cur: DataFrame):
    """Replay/restart guard for non-idempotent merge-ADD folds.

    The r13 advice flagged the bare ``batch_id <= stored`` marker: it
    is keyed to ONE checkpoint's counter, so restarting the stream
    against the same ``state_dir`` with a FRESH checkpoint over a
    source that has since gained new files restarts ids at 0 and the
    marker either silently skips the new data (cms) or double-counts
    the old (rollup). The fix is input IDENTITY, not position: the
    snapshot carries a manifest of folded input-file URIs, and each
    batch folds exactly the files not yet in it —

    - all files already folded  -> skip (pure replay, any checkpoint);
    - some new, some folded     -> fold only the new files (fresh
      checkpoint whose batch 0 re-lists the whole source);
    - no file lineage available (non-file source: ``inputFiles()``
      empty) -> fall back to the batch-id marker, which is sound
      within one checkpoint lifetime — documented contract for
      non-file sources. A STORED manifest is carried forward into the
      new snapshot version unchanged (r15 ADVICE: an empty/no-lineage
      micro-batch on a file source previously returned manifest=None
      and the caller's write_snapshot dropped the sidecar — the next
      fresh-checkpoint restart would re-fold every pre-drop file).

    Returns ``(batch_or_None, manifest_json_or_None)``: ``None`` batch
    means skip; manifest is the sidecar content to commit with the
    fold (``None`` = no ledger exists and none can be seeded)."""
    import json

    from ..sinks.snapshot import read_extra

    files = set(batch.inputFiles())
    stored = read_extra(state_dir, FOLD_MANIFEST)
    if not files:
        applied = cur.agg(F.max("_last_batch_id")).first()[0]
        if applied is not None and batch_id <= applied:
            return None, None
        # no lineage this batch: the accumulated folded-file ledger
        # must still ride into the new version, or it is lost forever
        return batch, stored
    if stored is None:
        # legacy snapshot (pre-manifest): seed the manifest from this
        # batch forward, still honoring the old marker for this batch
        applied = cur.agg(F.max("_last_batch_id")).first()[0]
        if applied is not None and batch_id <= applied:
            return None, None
        return batch, json.dumps(sorted(files))
    folded = set(json.loads(stored))
    new = files - folded
    if not new:
        return None, None
    manifest = json.dumps(sorted(folded | files))
    if new != files:
        # partial replay: restrict the fold to the unseen files only
        batch = batch.where(F.input_file_name().isin(*sorted(new)))
    return batch, manifest


def _merge_add_stream(events: DataFrame, state_dir: str,
                      checkpoint_dir: str, partial, keys: list[str],
                      measures: list[str]):
    """The guarded merge-ADD fold behind incremental_daily_rollup and
    streaming_cms_sketch: each micro-batch's ``partial(batch)`` frame
    (``keys`` + additive ``measures``) full-outer merges into the stored
    snapshot, adding the measures, and commits with the folded-input
    manifest (``_fold_guard``) in the same pointer swap. The first
    batch's partial IS the table. Returns the started query."""
    import json
    import os

    from ..sinks.snapshot import POINTER, read_snapshot, write_snapshot

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        manifest = None
        # existence check, not try/except: a transient read failure on
        # batch N>1 must surface (and be retried by the stream), never
        # be mistaken for "first batch" and truncate the table
        first = not os.path.exists(os.path.join(state_dir, POINTER))
        if not first:
            cur = read_snapshot(spark, state_dir)
            batch, manifest = _fold_guard(batch, batch_id, state_dir, cur)
            if batch is None:
                return  # replayed input: already folded in
        elif batch.inputFiles():
            manifest = json.dumps(sorted(set(batch.inputFiles())))
        merged = delta = partial(batch)
        if not first:
            zero = {m: F.lit(0).cast(delta.schema[m].dataType)
                    for m in measures}
            merged = cur.join(
                delta.select(*keys, *[F.col(m).alias(f"_{m}")
                                      for m in measures]),
                keys, "full_outer",
            ).select(*keys, *[
                (F.coalesce(m, zero[m]) + F.coalesce(f"_{m}", zero[m]))
                .alias(m) for m in measures])
        write_snapshot(
            spark, merged.withColumn("_last_batch_id", F.lit(batch_id)),
            state_dir,
            extras={FOLD_MANIFEST: manifest} if manifest else None)

    return (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incremental_daily_rollup(events: DataFrame, state_dir: str,
                             checkpoint_dir: str):
    """Continuous aggregate (hypertable-rollup style): a (day,
    event_type) rollup maintained INCREMENTALLY — each micro-batch
    contributes partial sums that MERGE-ADD into the stored snapshot,
    so the rollup never rescans history and a day's row converges as
    late batches arrive.

    Additive decomposition is what makes this exact: SUM/COUNT are
    commutative monoids, so per-batch partials folded in any arrival
    order equal the one-shot batch aggregate (decimal accumulation —
    the fold order cannot perturb the total).

    Replay-safe: foreachBatch is at-least-once and merge-ADD is not
    idempotent, so the snapshot commits with a manifest of the input
    files already folded (``_fold_guard`` — replays skip, a fresh
    checkpoint over a grown source folds only the unseen files) plus
    the legacy batch-id marker for non-file sources. Guard state rides
    IN the snapshot version directory, so cells and guard commit in
    one pointer swap — there is no window where one is updated without
    the other. Returns the streaming query (caller awaits)."""
    return _merge_add_stream(
        events, state_dir, checkpoint_dir,
        lambda batch: batch.groupBy(
            F.date_trunc("DAY", F.col("ts")).alias("wstart"),
            F.col("event_type"),
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"),
        ),
        ["wstart", "event_type"], ["n_events", "sum_value"])


def stream_lr_quality_gate(docs: DataFrame, weights: dict) -> DataFrame:
    """MODEL SERVING in-stream: score every arriving document with the
    OFFLINE-trained logistic quality classifier (doc_quality_lr_train's
    weights, passed as the collected one-row artifact) and keep docs
    the model accepts — the train-offline / serve-at-ingest loop every
    production quality gate runs. Stateless per-batch (features + a
    literal-weight rational sigmoid — the bit-exact inference path of
    doc_quality_lr_apply), so append mode, no state store, and
    batch == stream by construction (asserted e2e); per-batch cost is
    proportional to the batch's own files.

    A filter: the output is the input's columns (it needs ``text``)
    plus ``prob``, one row per accepted input row, so it composes with
    stream_dsir_gate by nesting — no join.

    ``weights``: mapping with w_b / w_l / w_t / w_p floats, e.g.
    ``{k: row[k] for k in ("w_b","w_l","w_t","w_p")}`` from the
    trained chain's one-row frame (or a lake weights artifact)."""
    from ..functions.scalars import dround
    from ..queries.pipeline import _lr_sigmoid, lr_features

    z = (F.lit(float(weights["w_b"]))
         + F.lit(float(weights["w_l"])) * F.col("x1")
         + F.lit(float(weights["w_t"])) * F.col("x2")
         + F.lit(float(weights["w_p"])) * F.col("x3"))
    return (lr_features(docs, "*").filter(z > 0)
            .withColumn("prob", dround(_lr_sigmoid(z), 6))
            .drop("x1", "x2", "x3", "y"))


def stream_dsir_gate(docs: DataFrame, lr_by_bucket: list,
                     threshold: float = 0.0) -> DataFrame:
    """DSIR IMPORTANCE gate at ingest (r14): score every arriving
    document against the OFFLINE-fitted hashed-gram log-ratio
    dictionary (queries/curation.dsir_log_ratios — all ``_DSIR_B``
    buckets, so unseen grams get the smoothed ratio) and keep docs
    whose log importance weight clears ``threshold`` — the
    train-offline / gate-at-ingest loop of stream_lr_quality_gate,
    selecting for target-domain RESEMBLANCE instead of quality.

    Fully stateless AND shuffle-free per batch: the 512-float model
    rides as a literal array, the doc's gram buckets come from the
    same zero-shuffle tokenize+md5 chain dsir_select uses, and the
    per-doc sum is a row-local array fold over the 12-decimal-rounded
    ratios (deterministic element order, so batch == stream
    bit-exactly — asserted e2e). Append mode, no state store, no
    watermark; per-batch cost is proportional to the batch's own
    files at any corpus size.

    A filter like stream_lr_quality_gate: the output is the input's
    columns (it needs ``text``) plus ``n_grams`` and ``log_weight``,
    one row per kept input row.

    ``lr_by_bucket``: the ``_DSIR_B`` floats from
    ``dsir_log_ratios(...).orderBy("bucket")`` (or a lake model
    artifact), indexed by bucket id."""
    from ..functions.scalars import dround
    from ..queries.curation import _DSIR_B, _grams
    from ..functions.text import tokens

    if len(lr_by_bucket) != _DSIR_B:
        raise ValueError(
            f"stream_dsir_gate: expected {_DSIR_B} bucket ratios, "
            f"got {len(lr_by_bucket)}")
    # token array materialized once — see dsir_select (5 refs) (r17)
    toked = docs.select("*", tokens(F.col("text")).alias("_toks"))
    ts = F.col("_toks")
    n = F.size(ts)
    big = F.when(n >= 2, _grams(ts, 2)) \
           .otherwise(F.expr("CAST(array() AS array<string>)"))
    lr_arr = F.array(*[F.lit(round(float(x), 12)) for x in lr_by_bucket])
    buckets = F.transform(
        F.concat(ts, big),
        lambda g: (F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
                   .cast("long") % _DSIR_B).cast("int"))
    w = toked.select("*", buckets.alias("_bks")).drop("_toks")
    s = F.aggregate(F.col("_bks"), F.lit(0.0),
                    lambda acc, b: acc + F.element_at(lr_arr, b + 1))
    return (w.select(
        "*", F.size("_bks").cast("long").alias("n_grams"),
        dround(s, 6).alias("log_weight"))
        .drop("_bks")
        .filter(F.col("log_weight") >= F.lit(threshold)))


def streaming_cms_sketch(events: DataFrame, state_dir: str,
                         checkpoint_dir: str, key_col: str = "user_id"):
    """Count-Min sketch maintained INCREMENTALLY over the event stream
    (the heavy-hitter counter behind queries/extra.py
    approx_heavy_hitters, operators/sketch.py geometry): each
    micro-batch contributes its d x w cell partial, merge-ADDED into
    the stored snapshot. The table is a commutative monoid, so the
    folded sketch is bit-equal to the one-shot batch sketch regardless
    of batch boundaries or arrival order — asserted by the e2e test —
    and point estimates (min over a key's d cells) remain
    never-underestimates at every point in the stream.

    Replay-safe exactly like incremental_daily_rollup: merge-ADD is
    not idempotent, so the snapshot commits with the folded-input-file
    manifest (``_fold_guard`` — replays skip, a fresh checkpoint over
    a grown source folds only the unseen files instead of silently
    dropping them behind the old batch-id marker) in the same atomic
    pointer swap as the cells."""
    from ..operators.sketch import cms_partial

    return _merge_add_stream(
        events, state_dir, checkpoint_dir,
        lambda batch: cms_partial(batch, key_col), ["row", "cell"], ["cnt"])


def stateful_best_scores_tws(events: DataFrame) -> DataFrame:
    """§2.11 — the same running-best operator on Spark 4's
    ``transformWithStateInPandas`` (the successor of
    ``applyInPandasWithState``): ValueState per (user, event_type),
    object-store-backed via the RocksDB state store provider. This is
    the API the 100 TB deployment should prefer — RocksDB state scales
    past executor memory and supports incremental checkpointing; the
    session must set ``spark.sql.streaming.stateStore.providerClass`` to
    ``...RocksDBStateStoreProvider``.

    Env gate: the TWS python worker requires ``google.protobuf`` (its
    state-server wire protocol), which this container lacks — the test
    importorskips there; ``stateful_best_scores`` (applyInPandasWithState)
    is the covered fallback with identical semantics.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("best", DoubleType()),
        StructField("n_obs", LongType()),
    ])
    state_schema = StructType([
        StructField("best", DoubleType()),
        StructField("n_obs", LongType()),
    ])

    class BestScore(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("best", state_schema)

        def handleInputRows(self, key, rows, timer_values):
            best, n = self._state.get() if self._state.exists() else (None, 0)
            for pdf in rows:
                vals = pdf["value"].dropna()
                if len(vals):
                    m = float(vals.max())
                    best = m if best is None or m > best else best
                    n += int(len(vals))
            self._state.update((best, n))
            yield pd.DataFrame(
                {"user_id": [key[0]], "event_type": [key[1]],
                 "best": [best], "n_obs": [n]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id", "event_type").transformWithStateInPandas(
        statefulProcessor=BestScore(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_server_inventory(spark: SparkSession, bronze_dir: str,
                            state_dir: str, checkpoint_dir: str,
                            vendor: str = "aws"):
    """Continuous-crawler ingest: the batch `inventory` path as a
    Structured Streaming query over a bronze DROP DIRECTORY.

    The file source tracks processed files in the checkpoint, so each
    newly landed describe-instance-types dump is standardized (P1),
    keep-last deduped (A4), validated (P8) and vendor-scoped
    merge-upserted (K1+T1) exactly once per file — the full transform
    runs INSIDE foreachBatch where the batch frame has the complete
    static API. availableNow drains the backlog then stops
    (cron-friendly); without it the same query tails the directory
    24/7 on a cluster.

    Validation-failed rows append to ``<state_dir>_invalid`` through
    ``append_snapshot`` — the same audit-trail rule as the batch
    inventory path, so a fully-invalid drop file must not stream
    through as a silent no-op, and a clean one adds no version.
    """
    from ..operators.upsert import merge_upsert
    from ..operators.validate import validate_items
    from ..sinks.snapshot import (append_snapshot, read_snapshot,
                                  snapshot_exists, write_snapshot)
    from ..sources import aws

    raw = spark.readStream.schema(aws.RAW_INSTANCE_TYPE).json(bronze_dir)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        valid, invalid = validate_items(
            aws.instance_type_servers(batch, vendor), "server")
        append_snapshot(bspark, invalid, state_dir.rstrip("/") + "_invalid")
        if snapshot_exists(state_dir):
            # genuine read/merge failures must PROPAGATE so the batch
            # retries — a broad except here would silently reset the
            # accumulated state table to just the current batch
            current = read_snapshot(bspark, state_dir)
            merged = merge_upsert(
                current, valid.select(*current.columns),
                ["vendor_id", "server_id"],
                inactivate_missing=False,  # a drop file is incremental,
                # not a full catalog — no sweep (the batch `inventory`
                # command owns full-pull inactivation)
            )
        else:  # first batch: no snapshot yet
            merged = valid
        write_snapshot(bspark, merged, state_dir)

    return (
        raw.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
