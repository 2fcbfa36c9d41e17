"""Per-layer tracing for the benchmark's traced runs.

Nothing here changes the program: spans are recorded from the outside,
around the calls into each layer's public functions, and folded together
with Spark's own event log and a streaming-query listener into one
``{metric: value}`` map per pass.

Layers and their sources:

- ``catalog``: ``load`` (the name every query module imported) and
  ``probe_events_nanos``, wrapped.
- ``indexes``: ``build_or_load``, wrapped; a call that grew
  ``BUILD_COUNTS`` is a build, any other call a reuse.
- ``sources``: the public readers and writers of the ``sources`` modules,
  wrapped.
- ``streaming``: a ``StreamingQueryListener``; each micro-batch is
  attributed to the query whose time window holds its trigger time.
- Spark planning: ``queryExecution().tracker().phases()`` of the query's
  DataFrame, forced through physical planning before its ``noop`` write.
- Spark execution: the event log. Jobs carry the query name as their job
  group; micro-batch jobs run on stream threads without it and are
  attributed by time window (only one query runs at a time).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import json
import statistics
import sys
import time
from collections import defaultdict
from collections.abc import Callable
from datetime import datetime
from pathlib import Path
from types import ModuleType

from pyspark.sql.streaming import StreamingQueryListener

PKG = "uk_procurement_data_pipeline_spark"
MB = 1024 * 1024

# Traced-run metrics: name -> (unit, better). Plain names are the mean per
# measured warm pass; ``.cold`` names are the cold pass alone.
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.get_spark_s": ("s", "lower"),
    "memory.peak_rss_mb": ("MB", "lower"),
    "catalog.load.calls": ("count", "lower"),
    "catalog.load_s": ("s", "lower"),
    "catalog.probe_events_nanos_s": ("s", "lower"),
    "catalog.load_s.cold": ("s", "lower"),
    "catalog.probe_events_nanos_s.cold": ("s", "lower"),
    "queries.fn_s": ("s", "lower"),
    "queries.fn_share": ("ratio", "lower"),
    "queries.eager_fn_s": ("s", "lower"),
    "indexes.build_or_load.calls": ("count", "lower"),
    "indexes.builds": ("count", "lower"),
    "indexes.reuse_ratio": ("ratio", "higher"),
    "indexes.build_or_load_s": ("s", "lower"),
    "indexes.builds.cold": ("count", "lower"),
    "indexes.reuse_ratio.cold": ("ratio", "higher"),
    "indexes.build_or_load_s.cold": ("s", "lower"),
    "sources.read_s": ("s", "lower"),
    "sources.write_s": ("s", "lower"),
    "sources.write.calls": ("count", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.input_rows": ("count", "higher"),
    "streaming.batch_ms.p50": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.trigger_wait_s": ("s", "lower"),
    "spark.plan.analysis_ms": ("ms", "lower"),
    "spark.plan.optimization_ms": ("ms", "lower"),
    "spark.plan.planning_ms": ("ms", "lower"),
    "spark.exec_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.python_io_mb": ("MB", "lower"),
    "trace.cold_pass_s": ("s", "lower"),
    "trace.warm_pass_s": ("s", "lower"),
}

_PYTHON_IO = ("data sent to Python workers", "data returned from Python workers")


def _is_reader(name: str) -> bool:
    return name.startswith(("read_", "fetch_", "register_")) or name == "acid_read"


def _is_writer(name: str) -> bool:
    return name.startswith(("write_", "compact_")) or (
        name.startswith("acid_") and not _is_reader(name)
    )


class _Listener(StreamingQueryListener):
    """Collects (trigger epoch s, input rows, durationMs) per micro-batch."""

    def __init__(self, sink: list) -> None:
        self._sink = sink

    def onQueryStarted(self, event) -> None:  # noqa: N802 — Spark's API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self._sink.append((ts, int(p.numInputRows), dict(p.durationMs)))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class Tracer:
    """Spans around layer calls, tagged with the (pass, query) running."""

    def __init__(self) -> None:
        self.current: tuple[int, str] | None = None
        # (pass, query) -> layer key -> [calls, seconds, builds]
        self.spans: dict[tuple[int, str], dict[str, list]] = defaultdict(
            lambda: defaultdict(lambda: [0, 0.0, 0])
        )
        self.batches: list[tuple[float, int, dict]] = []

    # -- installation -------------------------------------------------
    def install(self, spark) -> None:
        """Wrap the layer entry points in every loaded package module and
        register the streaming listener. Call after ``registry()`` so the
        query modules' own imported names are rebound too."""
        from uk_procurement_data_pipeline_spark import catalog, indexes, sources

        for info in pkgutil.iter_modules(sources.__path__):
            importlib.import_module(f"{sources.__name__}.{info.name}")
        self._patch(catalog.load, self._span("catalog.load", catalog.load))
        self._patch(
            catalog.probe_events_nanos,
            self._span("catalog.probe_events_nanos", catalog.probe_events_nanos),
        )
        self._patch(indexes.build_or_load, self._index_span(indexes))
        for mod in self._package_modules(f"{PKG}.sources."):
            for name, fn in list(vars(mod).items()):
                if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                if _is_reader(name):
                    self._patch(fn, self._span("sources.read", fn))
                elif _is_writer(name):
                    self._patch(fn, self._span("sources.write", fn))
        spark.streams.addListener(_Listener(self.batches))

    @staticmethod
    def _package_modules(prefix: str = f"{PKG}.") -> list[ModuleType]:
        return [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PKG or n.startswith(prefix))
        ]

    def _patch(self, orig: Callable, wrapper: Callable) -> None:
        for mod in self._package_modules():
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)

    def _span(self, key: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._add(key, time.perf_counter() - t0, 0)

        return wrapper

    def _index_span(self, indexes: ModuleType) -> Callable:
        fn = indexes.build_or_load

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = sum(indexes.BUILD_COUNTS.values())
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                built = sum(indexes.BUILD_COUNTS.values()) - before
                self._add("indexes.build_or_load", time.perf_counter() - t0, built)

        return wrapper

    def _add(self, key: str, seconds: float, builds: int) -> None:
        if self.current is None:
            return
        span = self.spans[self.current][key]
        span[0] += 1
        span[1] += seconds
        span[2] += builds

    # -- planning phases ---------------------------------------------
    @staticmethod
    def phases(df) -> dict[str, int]:
        """analysis/optimization/planning ms of ``df``'s query execution,
        forcing it through physical planning first."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        out = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[str(kv._1())] = int(kv._2().durationMs())
        return out

    # -- folding -------------------------------------------------------
    def fold(
        self,
        records: list[dict],
        passes: list[dict],
        event_log: Path,
        cores: int,
        get_spark_s: float,
        peak_rss_mb: float,
    ) -> tuple[dict[str, float], dict]:
        """Per-layer metrics (mean over measured warm passes, ``.cold`` for pass 0)
        and a per-query breakdown for the run record."""
        per_pass: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        per_query: dict[tuple[int, str], dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        windows = [(r["start"], r["end"], r["pass"], r["query"]) for r in records]

        def window_of(t: float) -> tuple[int, str] | None:
            for start, end, p, q in windows:
                if start <= t <= end:
                    return p, q
            return None

        batch_ms: dict[int, list[float]] = defaultdict(list)
        for r in records:
            key, m = (r["pass"], r["query"]), per_pass[r["pass"]]
            for layer, (calls, secs, builds) in self.spans.get(key, {}).items():
                m[f"{layer}.calls"] += calls
                m[f"{layer}_s"] += secs
                if layer == "indexes.build_or_load":
                    m["indexes.builds"] += builds
            m["queries.fn_s"] += r.get("fn_s", 0.0)
            m["queries.exec_s"] += r.get("exec_s", 0.0)
            if r.get("eager"):
                m["queries.eager_fn_s"] += r.get("fn_s", 0.0)
            for ph, ms in r.get("phases", {}).items():
                m[f"spark.plan.{ph}_ms"] += ms
        drain_batch_s: dict[tuple[int, str], float] = defaultdict(float)
        for ts, rows, dur in self.batches:
            w = window_of(ts)
            if w is None:
                continue
            m = per_pass[w[0]]
            m["streaming.batches"] += 1
            m["streaming.input_rows"] += rows
            m["streaming.add_batch_ms"] += dur.get("addBatch", 0)
            batch_ms[w[0]].append(dur.get("triggerExecution", 0))
            drain_batch_s[w] += dur.get("triggerExecution", 0) / 1000
        for r in records:
            w = (r["pass"], r["query"])
            if w in drain_batch_s:
                per_pass[w[0]]["streaming.trigger_wait_s"] += (
                    r.get("fn_s", 0.0) - drain_batch_s[w]
                )

        for w, m in _fold_event_log(event_log, window_of).items():
            for k, v in m.items():
                per_pass[w[0]][k] += v
                per_query[w][k] += v
        for m in per_pass.values():
            wall = m.get("spark.exec_s", 0.0)
            m["spark.core_util"] = (
                m.get("spark.executor_run_s", 0.0) / (wall * cores) if wall else 0.0
            )
            calls = m.get("indexes.build_or_load.calls", 0.0)
            m["indexes.reuse_ratio"] = (
                (calls - m.get("indexes.builds", 0.0)) / calls if calls else 0.0
            )
            done = m.get("queries.fn_s", 0.0) + m.get("queries.exec_s", 0.0)
            m["queries.fn_share"] = m.get("queries.fn_s", 0.0) / done if done else 0.0

        warm = [i for i, p in enumerate(passes) if p["measured"]]
        pooled = [x for p in warm for x in batch_ms.get(p, [])]
        special = {
            "session.get_spark_s": get_spark_s,
            "memory.peak_rss_mb": peak_rss_mb,
            "streaming.batch_ms.p50": statistics.median(pooled) if pooled else 0.0,
            "trace.cold_pass_s": passes[0]["wall_s"],
            "trace.warm_pass_s": statistics.median(passes[p]["wall_s"] for p in warm),
        }
        out: dict[str, float] = {}
        for name in PER_LAYER:
            if name in special:
                out[name] = special[name]
            elif name.endswith(".cold"):
                out[name] = per_pass[0].get(name[: -len(".cold")], 0.0)
            else:
                out[name] = sum(per_pass[p].get(name, 0.0) for p in warm) / len(warm)
        breakdown = {
            f"{p}:{q}": {k: round(v, 4) for k, v in m.items()}
            for (p, q), m in sorted(per_query.items())
        }
        return out, breakdown


def _event_log_lines(event_log: Path):
    files = sorted(
        (p for p in event_log.rglob("*") if p.is_file() and "appstatus" not in p.name),
        key=lambda p: (len(p.name), p.name),
    )
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of a log still being written


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _fold_event_log(event_log: Path, window_of) -> dict:
    """(pass, query) -> spark.* metrics from the event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for e in _event_log_lines(event_log):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {"submit": e["Submission Time"] / 1000, "end": None}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)

    out: dict[tuple[int, str], dict] = defaultdict(lambda: defaultdict(float))
    job_window: dict[int, tuple[int, str]] = {}
    intervals: dict[tuple[int, str], list] = defaultdict(list)
    for jid, j in jobs.items():
        w = window_of(j["submit"])
        if w is None:
            continue  # set-up, oracle check or another untimed job
        job_window[jid] = w
        out[w]["spark.jobs"] += 1
        intervals[w].append((j["submit"], j["end"] or j["submit"]))
    for w, iv in intervals.items():
        out[w]["spark.exec_s"] = _union_seconds(iv)
    stage_sets: dict[tuple[int, str], set] = defaultdict(set)
    for t in tasks:
        sid = t.get("Stage ID")
        w = job_window.get(stage_job.get(sid, -1))
        if w is None:
            continue
        m = out[w]
        stage_sets[w].add(sid)
        m["spark.tasks"] += 1
        if (t.get("Task End Reason") or {}).get("Reason") != "Success":
            m["spark.failed_tasks"] += 1
        tm = t.get("Task Metrics") or {}
        m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1000
        m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1000
        rd = tm.get("Shuffle Read Metrics") or {}
        m["spark.shuffle_read_mb"] += (
            rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        ) / MB
        m["spark.shuffle_write_mb"] += (
            (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
        )
        m["spark.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
        for acc in (t.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") in _PYTHON_IO:
                m["spark.python_io_mb"] += float(acc.get("Update", 0) or 0) / MB
    for w, sids in stage_sets.items():
        out[w]["spark.stages"] = len(sids)
    return out
