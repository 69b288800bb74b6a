"""The two benchmark workloads.

Each workload is a closed loop with one client: a request is sent only
after the previous one returned. A *pass* is one full round of the
workload's requests; a run measures one pass.

- ``crawl_cycle`` — the write path through the public ``cli`` functions:
  pull day 0 into an empty lake, copy it to a replica, re-pull day 1,
  digest, sync ``server_price`` to the replica, publish to SQLite. A
  request is one ``cli`` call; a pass is one cycle.
- ``ingest_serve`` — the dedup artifact lifecycle, then reads: build the
  MinHash index over a seed corpus, run the streaming ingest gate over
  one-file micro-batches, fold the stream into a new artifact, serve
  PageRank from it; then a seeded order of registry queries over a
  generated lake, each building a FRESH DataFrame and collecting every
  output column to the client (``toPandas``; an action is never re-run
  on the same DataFrame, Spark would skip finished shuffle stages). A
  request is one lifecycle step, or one query.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import statistics
import sys
import time

import pandas as pd
import pyarrow.parquet as pq

from . import gen

# registry reads after the artifact lifecycle: one cheap member of four
# families (text is the family the roadmap's one-tokenize work targets)
FAMILY_OF = {
    "q6_forecast_revenue": "tpch",
    "scd_as_of_event": "lifecycle",
    "spot_price_asof": "catalog",
    "tfidf_keywords": "text",
}

# crawl sizing: types x regions x zones price rows per day
CRAWL_TYPES, CRAWL_REGIONS, CRAWL_ZONES = 200, 5, 3

# stream sizing: base documents, seed copies, one-file batches
STREAM_BASE_DOCS, STREAM_SEED_COPIES, STREAM_BATCHES = 500, 2, 2
STREAM_ID_OFFSET = 10**9


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _parquet_rows(path: str) -> int:
    n = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


class Failures(list):
    """Failed correctness checks, as messages. Each :meth:`expect` is one
    attempted operation; each failed one counts as one failed
    operation."""

    attempted = 0

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.append(what)
            print(f"check failed: {what}", file=sys.stderr)


class Workload:
    """Inputs in ``work/in``; outputs of the latest pass in ``last``.

    A run measures the first pass in a fresh session, as a batch job
    meets it (class loading and code generation included); :meth:`check`
    inspects that pass's outputs afterwards."""

    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "in")
        self.last: str | None = None

    def prepare(self) -> None:
        """Generate the inputs (pure Python; part of set-up)."""

    def check(self, spark, bad: Failures) -> None:
        """Correctness checks, outside the timing; each goes through
        ``bad.expect``."""
        raise NotImplementedError

    def run_pass(self, spark, run, k: int) -> list[float]:
        """One measured pass; returns each request's latency in ms."""
        raise NotImplementedError

    def layer_metrics(self, run) -> dict[str, float]:
        """Per-layer metrics of the traced passes."""
        return {}

    def pass_dir(self, k: int) -> str:
        """A fresh output directory for pass ``k``; the previous pass's
        outputs are deleted."""
        if self.last is not None:
            shutil.rmtree(self.last, ignore_errors=True)
        self.last = os.path.join(self.work, f"p{k}")
        shutil.rmtree(self.last, ignore_errors=True)
        os.makedirs(self.last)
        return self.last


# ---------------------------------------------------------------- queries

def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, stringify objects, sort rows (the registry
    oracle comparison)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns),
                          kind="mergesort").reset_index(drop=True)


def _same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if len(got) != len(want) or list(got.columns) != list(want.columns):
        return False
    if [d.kind for d in got.dtypes] != [d.kind for d in want.dtypes]:
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=False, rtol=0, atol=1e-9)
    except AssertionError:
        return False
    return True


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ crawl

class CrawlCycle(Workload):
    name = "crawl_cycle"

    def prepare(self) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.days = gen.bronze_days(self.seed, CRAWL_TYPES, CRAWL_REGIONS)
        for i, day in enumerate(self.days):
            gen.write_bronze(day, os.path.join(self.inputs, f"day{i}"),
                             CRAWL_REGIONS, CRAWL_ZONES)

    def run_pass(self, spark, run, k: int) -> list[float]:
        from sc_crawler_spark import cli
        from sc_crawler_spark.sinks.snapshot import current_path

        d = self.pass_dir(k)
        lake, replica = os.path.join(d, "lake"), os.path.join(d, "replica")
        day = [os.path.join(self.inputs, f"day{i}") for i in range(2)]
        self.lake_digest = None

        def digest():
            # the lake does not change after this step: the check
            # compares this digest with the synced replica's
            self.lake_digest = cli.table_digest(spark, lake, "server_price")

        # the replica is copied after day 0, so the sync carries day 1's
        # changes to it
        steps = [
            ("pull", lambda: cli.cmd_inventory(spark, day[0], lake)),
            ("copy", lambda: cli.cmd_copy(spark, lake, replica)),
            ("repull", lambda: cli.cmd_inventory(spark, day[1], lake)),
            ("digest", digest),
            ("sync", lambda: cli.cmd_sync(spark, lake, replica,
                                          "server_price")),
            ("publish", lambda: cli.cmd_publish(
                spark, lake, os.path.join(d, "published.db"))),
        ]
        lat = []
        for name, fn in steps:
            with contextlib.redirect_stdout(io.StringIO()):
                lat.append(run.request(name, fn))
        if run.tracing:
            current = sum(_du(current_path(os.path.join(lake, t)))[0]
                          for t in cli._tables_in(lake))
            run.extra.setdefault("space_amp", []).append(
                _du(lake)[0] / current)
        return lat

    def check(self, spark, bad: Failures) -> None:
        """Landed tables are read with pyarrow, not with the engine's
        reader: an independent oracle, and no Spark jobs."""
        import sqlite3

        import pyarrow.dataset as ds

        from sc_crawler_spark import cli, schemas
        from sc_crawler_spark.sinks.snapshot import current_path

        d = self.last
        lake, replica = os.path.join(d, "lake"), os.path.join(d, "replica")

        def snapshot(table: str, columns: list[str]) -> pd.DataFrame:
            return ds.dataset(current_path(os.path.join(lake, table)),
                              format="parquet", partitioning="hive"
                              ).to_table(columns=columns).to_pandas()

        for table, want in (
                ("server_price", gen.expected_prices(self.days,
                                                     CRAWL_ZONES)),
                ("server", gen.expected_servers(self.days))):
            pk = list(schemas.PRIMARY_KEYS[table])
            df = snapshot(table, pk + ["status"])
            total, active = len(df), int((df["status"] == "active").sum())
            bad.expect(total == want["total"],
                       f"{table}: {total} rows landed, want {want['total']}")
            bad.expect(active == want["active"],
                       f"{table}: {active} active, want {want['active']}")
            bad.expect(not df.duplicated(pk).any(),
                       f"{table}: primary key not unique")
        bad.expect(self.lake_digest is not None and self.lake_digest
                   == cli.table_digest(spark, replica, "server_price"),
                   "server_price digest differs between lake and replica "
                   "after sync")
        con = sqlite3.connect(os.path.join(d, "published.db"))
        try:
            for table in cli._tables_in(lake):
                want = _parquet_rows(current_path(os.path.join(lake, table)))
                got = con.execute(
                    f'SELECT COUNT(*) FROM "{table}"').fetchone()[0]
                bad.expect(got == want,
                           f"sqlite {table}: {got} rows, lake has {want}")
        finally:
            con.close()

    def layer_metrics(self, run) -> dict[str, float]:
        t = run.tracer
        steps = {name: _p50([ms for q, ms in run.latencies if q == name])
                 for name in ("pull", "copy", "repull", "digest", "sync",
                              "publish")}
        writes = [s for s in t.spans
                  if s["name"] == "sinks.snapshot.write_snapshot"]
        publish_s = sum(t.durations_ms("sinks.sqlite.publish_lake")) / 1e3
        sync_shuffle = [run.spark_of(s)["shuffle_write_bytes"]
                        for s in t.spans if s["name"] == "request:sync"]
        return {
            "cli.cycle_s": sum(steps.values()) / 1e3,
            "cli.pull_s": steps["pull"] / 1e3,
            "cli.repull_s": steps["repull"] / 1e3,
            "cli.copy_s": steps["copy"] / 1e3,
            "cli.sync_s": steps["sync"] / 1e3,
            "cli.publish_s": steps["publish"] / 1e3,
            "cli.table_digest_s": _p50(
                t.durations_ms("cli.table_digest")) / 1e3,
            "sources.build_ms": _per_pass(run, sum(
                (s["end"] - s["start"]) * 1e3 for s in t.spans
                if s["layer"] == "sources")),
            "operators.upsert.build_ms": _per_pass(run, sum(
                t.durations_ms("operators.upsert.merge_upsert"))),
            "sinks.snapshot.write_s": _per_pass(run, sum(
                (s["end"] - s["start"]) for s in writes)),
            "sinks.snapshot.bytes_written": _per_pass(run, sum(
                s["counters"].get("bytes", 0) for s in writes)),
            "sinks.snapshot.files_written": _per_pass(run, sum(
                s["counters"].get("files", 0) for s in writes)),
            "sinks.snapshot.space_amp": _p50(run.extra.get("space_amp",
                                                           [])),
            "operators.sync.shuffle_bytes": _p50(sync_shuffle),
            "sinks.sqlite.publish_s": _per_pass(run, publish_s),
            "sinks.sqlite.rows_per_s": (
                t.counter_sum("sinks.sqlite.publish_lake", "rows")
                / publish_s if publish_s else 0.0),
            "migrate.check_s": _per_pass(run, sum(
                t.durations_ms("migrate.check_lake")) / 1e3),
        }


def _per_pass(run, total: float) -> float:
    return total / max(1, run.traced_passes)


# ----------------------------------------------------------------- stream

# gates that keep every document: the quality and importance models still
# score every doc, and novelty alone decides acceptance, so the expected
# digest is known from the batch files
_WEIGHTS = {"w_b": 1.0, "w_l": 0.0, "w_t": 0.0, "w_p": 0.0}


class IngestServe(Workload):
    name = "ingest_serve"

    def prepare(self) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.lake = os.path.join(self.inputs, "lake")
        gen.write_lake(self.seed, self.lake)
        base = gen.documents(self.seed, STREAM_BASE_DOCS)
        self.seed_docs = os.path.join(self.inputs, "seed_docs")
        self.batches = os.path.join(self.inputs, "batches")
        os.makedirs(self.seed_docs)
        os.makedirs(self.batches)
        pq.write_table(
            gen.cipher_copies(self.seed, base, range(STREAM_SEED_COPIES),
                              STREAM_ID_OFFSET),
            os.path.join(self.seed_docs, "part-0.parquet"))
        # the file source takes files in modification-time order: stamp
        # them 1 s apart so batch order follows id order
        t0 = time.time() - 100
        for b in range(STREAM_BATCHES):
            p = os.path.join(self.batches, f"batch-{b:03d}.parquet")
            copy = STREAM_SEED_COPIES + b
            pq.write_table(gen.cipher_copies(
                self.seed, base, range(copy, copy + 1), STREAM_ID_OFFSET), p)
            os.utime(p, (t0 + b, t0 + b))

    def run_pass(self, spark, run, k: int) -> list[float]:
        from sc_crawler_spark.operators.graph import pagerank
        from sc_crawler_spark.queries.curation import _DSIR_B
        from sc_crawler_spark.sinks import index_store
        from sc_crawler_spark.streaming import (read_document_stream,
                                                stream_ingest_gate)

        d = self.pass_dir(k)
        p = {n: os.path.join(d, n) for n in (
            "index", "accepted", "pairs", "stream_index", "ckpt", "folded")}
        run.request("build", lambda: index_store.write_minhash_index(
            spark.read.parquet(self.seed_docs), p["index"], "text",
            "doc_id"), measured=False)
        query = None

        def ingest():
            nonlocal query
            query = stream_ingest_gate(
                read_document_stream(spark, self.batches,
                                     max_files_per_trigger=1),
                p["accepted"], p["pairs"], p["stream_index"], p["ckpt"],
                _WEIGHTS, [0.0] * _DSIR_B, seed_index_dir=p["index"])
            query.awaitTermination()
        run.request("ingest", ingest, measured=False)
        progress = [x for x in (query.recentProgress if query else [])
                    if x["numInputRows"]]
        run.request("fold", lambda: index_store.fold_minhash_index(
            spark, p["index"], p["stream_index"], p["pairs"], p["folded"]),
            measured=False)
        run.request("serve", lambda: pagerank(
            index_store.load_pair_graph(spark, p["folded"]), iters=2)
            .write.format("noop").mode("overwrite").save(), measured=False)
        lat = [x["durationMs"]["triggerExecution"] for x in progress]
        lat += self._queries(spark, run, k)
        if run.tracing:
            run.extra.setdefault("progress", []).append(progress)
            run.extra.setdefault("bytes", []).append(
                {n: _du(p[n])[0] for n in (
                    "index", "stream_index", "pairs", "folded")})
            run.extra.setdefault("rows", []).append(
                (_parquet_rows(p["pairs"]), _parquet_rows(p["accepted"])))
        return lat

    def _queries(self, spark, run, k: int) -> list[float]:
        from sc_crawler_spark.queries import REGISTRY

        self.results: dict[str, pd.DataFrame] = {}
        lat = []
        for q in gen.query_order(self.seed, list(FAMILY_OF), k):
            def request(q=q):
                with run.span("queries.build", "queries", query=q):
                    df = REGISTRY[q][0](spark, self.lake)
                with run.span("queries.exec", "queries", query=q):
                    self.results[q] = df.toPandas()
            lat.append(run.request(q, request))
        return lat

    def check(self, spark, bad: Failures) -> None:
        from pyspark.sql import functions as F

        from sc_crawler_spark.sinks import index_store

        d = self.last
        batch_files = sorted(os.listdir(self.batches))
        want = index_store.merge_digests(
            [index_store.corpus_digest(spark.read.parquet(self.seed_docs),
                                       "text", "doc_id")]
            + [index_store.corpus_digest(
                spark.read.parquet(os.path.join(self.batches, f)),
                "text", "doc_id") for f in batch_files])
        folded = index_store.read_index_meta(os.path.join(d, "folded"))
        bad.expect(folded is not None and folded["digest"] == want,
                   "folded digest != merge of seed and batch digests")
        pairs = spark.read.parquet(os.path.join(d, "pairs"))
        accepted = spark.read.parquet(os.path.join(d, "accepted"))
        clash = accepted.join(
            pairs.filter(~F.col("is_cross")).select(
                F.col("id_b").alias("doc_id")), "doc_id", "left_semi")
        bad.expect(clash.count() == 0,
                   "an accepted doc is the larger id of an intra-batch pair")
        bad.expect(0 < accepted.count() < STREAM_BATCHES * STREAM_BASE_DOCS,
                   "novelty gate accepted no doc, or every doc")
        self._check_queries(bad)

    def _check_queries(self, bad: Failures) -> None:
        """The latest pass's query results against the DuckDB oracles."""
        import duckdb

        from sc_crawler_spark.queries import REGISTRY
        from sc_crawler_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.lake}/{t}.parquet'")
            for q in FAMILY_OF:
                got = self.results.get(q)
                want = _canon(con.execute(REGISTRY[q][1]).df())
                bad.expect(got is not None and len(got) > 0
                           and _same(_canon(got), want),
                           f"{q}: missing, empty, or differs from its oracle")
        finally:
            con.close()

    def layer_metrics(self, run) -> dict[str, float]:
        t = run.tracer
        prog = [x for p in run.extra["progress"] for x in p]

        def dur(key: str) -> float:
            return _p50([x["durationMs"].get(key, 0) for x in prog])

        docs_in = STREAM_BATCHES * STREAM_BASE_DOCS * run.traced_passes
        reads = sum(x["numInputRows"] for x in prog)
        pairs = sum(r[0] for r in run.extra["rows"])
        accepted = sum(r[1] for r in run.extra["rows"])
        du = run.extra["bytes"]
        ingest = [s for s in t.spans if s["name"] == "request:ingest"]
        batch_bytes = _du(self.batches)[0] * run.traced_passes
        stream_in = sum(run.spark_of(s)["input_bytes"] for s in ingest)
        ingest_s = sum(x["durationMs"]["triggerExecution"]
                       for x in prog) / 1e3
        loads: dict[str, float] = {}
        for s in t.spans:
            if s["name"] == "tables.load":
                loads[s["request"]] = loads.get(s["request"], 0.0) + \
                    (s["end"] - s["start"]) * 1e3
        return {
            "queries.build_ms": _p50(t.durations_ms("queries.build")),
            "queries.exec_ms": _p50(t.durations_ms("queries.exec")),
            "tables.load_ms": _p50(list(loads.values())),
            **{f"queries.{fam}.p50_ms": _p50(
                [ms for q, ms in run.latencies if FAMILY_OF[q] == fam])
               for fam in FAMILY_OF.values()},
            "sinks.index_store.build_s": _p50(
                t.durations_ms("request:build")) / 1e3,
            "streaming.batch_p50_ms": dur("triggerExecution"),
            "streaming.ingest_docs_per_s": docs_in / ingest_s,
            "sinks.index_store.fold_s": _p50(
                t.durations_ms("request:fold")) / 1e3,
            "operators.graph.serve_ms": _p50(
                t.durations_ms("request:serve")),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.source_reads_per_doc": reads / docs_in,
            "streaming.accept_ratio": accepted / docs_in,
            "operators.dedup.pairs_per_batch": pairs / (
                STREAM_BATCHES * run.traced_passes),
            "sinks.index_store.standing_bytes_read_per_batch": max(
                0.0, stream_in - batch_bytes * reads / docs_in) / (
                STREAM_BATCHES * run.traced_passes),
            "sinks.index_store.build_bytes_written": _p50(
                [x["index"] for x in du]),
            "sinks.index_store.fold_write_amp": _p50(
                [x["folded"] / (x["stream_index"] + x["pairs"])
                 for x in du]),
        }


WORKLOADS = {w.name: w for w in (CrawlCycle, IngestServe)}
