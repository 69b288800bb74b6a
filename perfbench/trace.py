"""Span tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: :meth:`Tracer.install`
swaps public functions of the engine's layers for timing wrappers, in
the defining module AND in every loaded ``sc_crawler_spark`` module that
imported the name directly (``cli.write_snapshot``, ``cli.merge_upsert``,
...). :meth:`Tracer.uninstall` puts the originals back, so untraced
passes run the unmodified program.

Each span records name, layer, start, end, parent and request id, plus
optional counters. Spans stay in memory and are written out once, at
exit. A layer's self time is its spans' time minus the part covered by
their child spans.

:class:`SparkProbe` reads Spark's status store for a job-id range, so the
Spark work of one request (jobs, stages, tasks, executor run and CPU
time, input, shuffle-write and spill bytes) is attributed to it. Jobs
started by a streaming query's own thread are counted too, because the
range is taken from the scheduler's job counter, not from a job group.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_ms",
                "executor_cpu_ms", "input_bytes", "shuffle_write_bytes",
                "spill_bytes")


class SparkProbe:
    """Per-request Spark metrics from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def mark(self) -> int:
        """The id the next job will get."""
        return int(self._sc.dagScheduler().nextJobId())

    def collect(self, start: int, end: int) -> dict:
        """Summed metrics of jobs ``start <= id < end`` (waits for the
        listener bus, so finished stages carry their final metrics)."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = dict.fromkeys(SPARK_FIELDS, 0)
        for job_id in range(start, end):
            try:
                job = store.job(job_id)
            except Exception:  # evicted from the store, or never ran
                continue
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Exception:
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
        return out


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: str | None = None
        self.own_s = 0.0  # time spent in span bookkeeping
        self._patches: list[tuple[object, str, object, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, **counters):
        """Record one span; the yielded dict takes counters."""
        t0 = time.perf_counter()
        rec = {"name": name, "layer": layer, "request": self.request,
               "parent": self._stack[-1] if self._stack else None,
               "start": None, "end": None, "counters": dict(counters)}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        self.own_s += rec["start"] - t0
        try:
            yield rec["counters"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.own_s += time.perf_counter() - rec["end"]

    # ------------------------------------------------------------ patching

    def prepare(self, targets: list[tuple[object, str, str]],
                counters: dict | None = None) -> None:
        """Build wrappers for ``module.name`` for each ``(module, name,
        layer)``, to be swapped in by :meth:`install`. ``counters`` maps
        a name to ``f(args, kwargs, result, counters)`` that adds
        counters to the span once the call returns."""
        counters = counters or {}
        mods = [m for n, m in sys.modules.items()
                if n.startswith("sc_crawler_spark") and m is not None]
        for module, name, layer in targets:
            orig = getattr(module, name)
            wrapped = self._wrap(orig, layer, counters.get(name))
            for mod in mods:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        self._patches.append((mod, attr, orig, wrapped))

    def install(self) -> None:
        for mod, attr, _orig, wrapped in self._patches:
            setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for mod, attr, orig, _wrapped in self._patches:
            setattr(mod, attr, orig)

    def _wrap(self, fn, layer: str, counter):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if counter is not None:
                    counter(args, kwargs, out, rec)
            return out
        return wrapper

    # ------------------------------------------------------------- reading

    def self_ms(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the union of
        its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, float("-inf")
            for a, b in sorted(children.get(i, [])):
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            own = (s["end"] - s["start"] - covered) * 1e3
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name]

    def counter_sum(self, name: str, key: str) -> float:
        return sum(s["counters"].get(key, 0) for s in self.spans
                   if s["name"] == name)

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps(dict(
                    s, id=i, start=round(s["start"] - t0, 6),
                    end=round(s["end"] - t0, 6))) + "\n")
