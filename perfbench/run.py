"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl_cycle --seed 1 \\
        --seconds 10 --trace 0

Set-up is measured once per run, truly fresh: it launches the JVM,
starts the session with ``get_spark`` and generates the inputs.

The measured set is fixed: one pass, the first in the fresh session,
after which the correctness checks inspect its outputs. Every pass is
longer than ``--seconds`` (which the interface requires), so the window
is that one pass; a run never cuts a set of passes by the clock.

Set-up and pass are measured in CPU seconds of this process and all its
descendants (the JVM and the Python workers it starts), user plus
system, as ``time`` reports them: on a shared machine, wall time follows
the neighbours' load (CPU steal), CPU time follows the work. Their wall
times are per-layer metrics of the traced run.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the same cold set-up and pass run untraced and give
``bench.setup_wall_s`` and ``bench.pass_wall_s``; then one traced warm
pass runs, and the line carries its per-layer metrics plus the tracing
overhead: the time spent in the tracer's own code (span bookkeeping and
status-store reads) as a share of the rest of the pass. The spans are
written to ``.perfbench/trace-<workload>-<seed>.jsonl``.

Everything the run writes stays under ``.perfbench/`` in the current
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Run:
    """Request accounting for one run, traced or not."""

    def __init__(self, tracer=None, probe=None):
        self.tracer = tracer
        self.probe = probe
        self.tracing = False
        self.attempted = 0
        self.failed = 0
        self.latencies: list[tuple[str, float]] = []  # traced passes
        self.traced_passes = 0
        self.probe_s = 0.0  # reading the status store, traced passes
        self.extra: dict = {}
        self._n = 0

    @contextmanager
    def span(self, name: str, layer: str, **counters):
        if self.tracing:
            with self.tracer.span(name, layer, **counters) as rec:
                yield rec
        else:
            yield {}

    def request(self, name: str, fn, measured: bool = True) -> float:
        """Run one request; returns its latency in ms. A request that
        raises counts as failed."""
        self.attempted += 1
        self._n += 1
        if self.tracing:
            self.tracer.request = f"{name}#{self._n}"
            start_job = self.probe.mark()
        t0 = time.perf_counter()
        try:
            with self.span(f"request:{name}", "bench") as rec:
                fn()
        except Exception:
            self.failed += 1
            print(f"request {name} failed:", file=sys.stderr)
            traceback.print_exc()
        ms = (time.perf_counter() - t0) * 1e3
        _log(f"  {name}: {ms:.0f} ms")
        if self.tracing:
            t1 = time.perf_counter()
            rec["spark"] = self.probe.collect(start_job, self.probe.mark())
            self.probe_s += time.perf_counter() - t1
            if measured:
                self.latencies.append((name, ms))
        return ms

    def spark_of(self, span: dict) -> dict:
        return span["counters"].get("spark") or {}


def _trace_targets():
    """(module, public function, layer) for every wrapped layer call."""
    import importlib

    spec = {
        "tables": ["load"],
        "sources.aws": ["standardize_instance_types",
                        "assemble_server_prices"],
        "operators.upsert": ["merge_upsert"],
        "operators.validate": ["validate_items", "apply_schema"],
        "operators.windows": ["keep_last_dedup"],
        "operators.sync": ["hash_diff", "with_row_hash"],
        "operators.dedup": ["incremental_minhash_pairs", "doc_shingles",
                            "verified_pairs_from_index"],
        "operators.graph": ["pagerank"],
        "sinks.snapshot": ["write_snapshot", "read_snapshot"],
        "sinks.sqlite": ["publish_lake"],
        "sinks.index_store": ["write_minhash_index", "fold_minhash_index",
                              "load_minhash_index", "load_pair_graph",
                              "corpus_digest"],
        "streaming.pipeline": ["stream_ingest_gate", "read_document_stream",
                               "stream_lr_quality_gate", "stream_dsir_gate"],
        "cli": ["cmd_inventory", "cmd_copy", "cmd_sync", "cmd_publish",
                "table_digest"],
        "migrate": ["check_lake", "stamp_lake"],
    }
    out = []
    for mod_name, names in spec.items():
        mod = importlib.import_module(f"sc_crawler_spark.{mod_name}")
        layer = "sources" if mod_name.startswith("sources") else (
            "streaming" if mod_name.startswith("streaming") else mod_name)
        out += [(mod, n, layer) for n in names]
    return out


def _trace_counters():
    from sc_crawler_spark.sinks.snapshot import current_path

    from perfbench.workloads import _du

    def written(args, kwargs, _out, rec):
        root = kwargs.get("root", args[2] if len(args) > 2 else None)
        rec["bytes"], rec["files"] = _du(current_path(root))

    def published(_args, _kwargs, out, rec):
        rec["rows"] = sum(out.values())

    return {"write_snapshot": written, "publish_lake": published}


def _layer_metrics(workload, run, traced, jvm_pid) -> dict[str, float]:
    from perfbench.metrics import LAYERS, PER_LAYER
    from perfbench.trace import SPARK_FIELDS

    t = run.tracer
    requests = [s for s in t.spans if s["name"].startswith("request:")]
    out = dict.fromkeys(PER_LAYER, 0.0)
    for f in SPARK_FIELDS:
        out[f"spark.{f}_per_request"] = sum(
            run.spark_of(s).get(f, 0) for s in requests) / max(
            1, len(requests))
    _, seconds, _, lat = traced
    own = run.probe_s + t.own_s
    out["trace.overhead_pct"] = own / (seconds - own) * 100
    out["trace.probe_ms"] = run.probe_s * 1e3 / run.traced_passes
    out["bench.request_geomean_ms"] = statistics.geometric_mean(lat)
    for layer, ms in t.self_ms().items():
        if layer in LAYERS:
            out[f"{layer}.self_ms"] = ms / run.traced_passes
    out["jvm.peak_rss_mb"] = _hwm_mb(jvm_pid)
    out["python.peak_rss_mb"] = _hwm_mb("self")
    out.update(workload.layer_metrics(run))
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise ValueError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return out


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _shutdown(spark) -> None:
    """Stop the session, then end the JVM and wait for it (it exits when
    its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the JVM and the Python workers it starts), reaped children
    included."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15])  # utime..cstime
    me, ticks = os.getpid(), 0
    for pid in cpu:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            ticks += cpu[pid]
    return ticks / os.sysconf("SC_CLK_TCK")


def _pass(workload, spark, run, k: int, traced: bool = False):
    """One pass: (traced, wall seconds, CPU seconds, request latencies in
    ms)."""
    if traced:
        run.tracer.install()
        run.tracing = True
    t0, c0 = time.perf_counter(), _tree_cpu_s()
    try:
        lat = workload.run_pass(spark, run, k)
    finally:
        if traced:
            run.tracing = False
            run.tracer.uninstall()
            run.traced_passes += 1
    seconds, cpu = time.perf_counter() - t0, _tree_cpu_s() - c0
    _log(f"pass {k}{' (traced)' if traced else ''}: {seconds:.2f} s, "
         f"cpu {cpu:.2f} s")
    return traced, seconds, cpu, lat


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # one core per local task slot, a bounded heap, and every temporary
    # file inside the checkout. The JVM compiles with C1 only, as
    # short-lived batch JVMs often do: a run is one cold pass, and C2's
    # background compiles of it took 35-75 CPU seconds on a 4-core VM,
    # varying with the machine's load, while the pass's wall time did not
    # drop
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:TieredStopAtLevel=1")
    sys.path.insert(0, root)

    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.trace import SparkProbe, Tracer
    from perfbench.workloads import WORKLOADS, Failures
    from sc_crawler_spark.session import get_spark

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload](
        args.seed, os.path.join(work, f"{args.workload}-{args.seed}"))

    spark = None
    try:
        t0, c0 = time.perf_counter(), _tree_cpu_s()
        spark = get_spark("perfbench")
        workload.prepare()
        setup = (time.perf_counter() - t0, _tree_cpu_s() - c0)
        spark.sparkContext.setLogLevel("ERROR")
        _log(f"set-up: {setup[0]:.2f} s, cpu {setup[1]:.2f} s")
        cold = Run()
        _, cold_s, cold_cpu_s, _ = _pass(workload, spark, cold, 0)
        if cold_s < args.seconds:
            _log(f"the pass was shorter than --seconds {args.seconds}")
        run = Run()
        if args.trace:
            tracer = Tracer()
            tracer.prepare(_trace_targets(), _trace_counters())
            run = Run(tracer, SparkProbe(spark))
            traced = _pass(workload, spark, run, 1, traced=True)
        t0 = time.perf_counter()
        checks = Failures()
        try:
            workload.check(spark, checks)
        except Exception:
            traceback.print_exc()
            checks.expect(False, "correctness check raised")
        _log(f"checks: {time.perf_counter() - t0:.1f} s, "
             f"{len(checks)} of {checks.attempted} failed")
        attempted = cold.attempted + run.attempted + checks.attempted
        failed = cold.failed + run.failed + len(checks)

        if args.trace:
            values = _layer_metrics(
                workload, run, traced,
                spark._jvm.java.lang.ProcessHandle.current().pid())
            values["bench.setup_wall_s"] = setup[0]
            values["bench.pass_wall_s"] = cold_s
            spec = PER_LAYER
            run.tracer.dump(os.path.join(
                work, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            values = {"pass_cpu_s": cold_cpu_s, "setup_s": setup[1]}
            spec = END_TO_END
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(workload.work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": unit}
                    for n, (unit, _better) in spec.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
