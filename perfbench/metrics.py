"""Metric declarations: name -> (unit, better). ``BENCHMARK.json`` lists
the same names; ``test_perfbench.py`` keeps the two equal.

End-to-end metrics are common to all workloads (what a request and a
pass are is defined per workload in ``workloads.py``); per-layer metrics
of a layer a workload does not use read 0 on that workload. Both
end-to-end metrics are CPU seconds (user plus system) of the benchmark
process and all its descendants: the fresh set-up and the cold pass.
"""

from __future__ import annotations

END_TO_END = {
    "pass_cpu_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}

_L, _H = "lower", "higher"

LAYERS = ("bench", "queries", "tables", "sources", "operators.upsert",
          "operators.validate", "operators.windows", "operators.sync",
          "operators.dedup", "operators.graph", "sinks.snapshot",
          "sinks.sqlite", "sinks.index_store", "streaming", "cli",
          "migrate")

PER_LAYER = {
    # Spark's status store, per request
    "spark.jobs_per_request": ("count", _L),
    "spark.stages_per_request": ("count", _L),
    "spark.tasks_per_request": ("count", _L),
    "spark.executor_run_ms_per_request": ("ms", _L),
    "spark.executor_cpu_ms_per_request": ("ms", _L),
    "spark.input_bytes_per_request": ("bytes", _L),
    "spark.shuffle_write_bytes_per_request": ("bytes", _L),
    "spark.spill_bytes_per_request": ("bytes", _L),
    "trace.overhead_pct": ("%", _L),
    "trace.probe_ms": ("ms", _L),
    "bench.request_geomean_ms": ("ms", _L),
    # wall time of the cold set-up and pass the end-to-end metrics count
    # in CPU seconds
    "bench.setup_wall_s": ("s", _L),
    "bench.pass_wall_s": ("s", _L),
    # VmHWM from /proc, over the whole run
    "jvm.peak_rss_mb": ("MB", _L),
    "python.peak_rss_mb": ("MB", _L),
    # self time per layer, per pass
    **{f"{layer}.self_ms": ("ms", _L) for layer in LAYERS},
    # ingest_serve: registry reads
    "queries.build_ms": ("ms", _L),
    "queries.exec_ms": ("ms", _L),
    "tables.load_ms": ("ms", _L),
    **{f"queries.{fam}.p50_ms": ("ms", _L) for fam in (
        "tpch", "lifecycle", "catalog", "text")},
    # crawl_cycle
    "cli.cycle_s": ("s", _L),
    "cli.pull_s": ("s", _L),
    "cli.repull_s": ("s", _L),
    "cli.copy_s": ("s", _L),
    "cli.sync_s": ("s", _L),
    "cli.publish_s": ("s", _L),
    "cli.table_digest_s": ("s", _L),
    "sources.build_ms": ("ms", _L),
    "operators.upsert.build_ms": ("ms", _L),
    "sinks.snapshot.write_s": ("s", _L),
    "sinks.snapshot.bytes_written": ("bytes", _L),
    "sinks.snapshot.files_written": ("count", _L),
    "sinks.snapshot.space_amp": ("ratio", _L),
    "operators.sync.shuffle_bytes": ("bytes", _L),
    "sinks.sqlite.publish_s": ("s", _L),
    "sinks.sqlite.rows_per_s": ("1/s", _H),
    "migrate.check_s": ("s", _L),
    # ingest_serve: artifact lifecycle
    "sinks.index_store.build_s": ("s", _L),
    "streaming.batch_p50_ms": ("ms", _L),
    "streaming.ingest_docs_per_s": ("1/s", _H),
    "sinks.index_store.fold_s": ("s", _L),
    "operators.graph.serve_ms": ("ms", _L),
    "streaming.add_batch_ms": ("ms", _L),
    "streaming.planning_ms": ("ms", _L),
    "streaming.wal_commit_ms": ("ms", _L),
    "streaming.source_reads_per_doc": ("ratio", _L),
    "streaming.accept_ratio": ("ratio", _H),
    "operators.dedup.pairs_per_batch": ("count", _L),
    "sinks.index_store.standing_bytes_read_per_batch": ("bytes", _L),
    "sinks.index_store.build_bytes_written": ("bytes", _L),
    "sinks.index_store.fold_write_amp": ("ratio", _L),
}
