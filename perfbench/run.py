#!/usr/bin/env python3
"""End-to-end benchmark of the query registry's public contract.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

One run is one fresh process driving ``registry()[name].fn(spark, sf_dir)``
from a single client in a closed loop, at ``local[nproc]`` with the
package's shipped session defaults (shuffle width 32). A query costs its
``fn()`` call plus a ``noop`` write of the DataFrame it returns. The run:

1. sets up: imports the package, calls ``session.get_spark`` and runs one
   trivial job;
2. makes one cold pass over the workload's queries;
3. makes warm passes until ``--seconds`` have elapsed: the first three only
   let the JVM's JIT settle, the later ones (at least five) are the
   measured warm passes;
4. checks the last pass's results against their DuckDB oracles with
   ``tools/oracle_check.py``, untimed.

The seed permutes the query order of every pass; the inputs are the sf0.001
fixture tables under ``perfbench/data``. The last stdout line is the result
object; the line before it is the run record (provenance, pass orders,
per-query ``fn()``/execution splits, oracle verdicts and, when traced, the
per-query Spark metrics). Scratch files live under ``.perfbench_work/`` in
the checkout and are removed when the run ends.

``--trace 1`` runs the same passes with the event log on, a streaming
listener and spans around each layer's public functions (``layers.py``),
and reports the per-layer metrics instead of the end-to-end ones.
``--smoke`` checks every workload's query names against the registry and
that one short run of each workload, traced and untraced, emits every
metric ``BENCHMARK.json`` names, with its unit.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # set-up is timed from the top of the process

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.001"
PKG = "uk_procurement_data_pipeline_spark"
APP = "perfbench"
MIN_MEASURED_PASSES = 5
# Warm passes that only let the JIT settle. Pass times fall steeply over
# the first three warm passes and slowly after; counting passes rather than
# seconds puts the measured ones at the same point of that curve on a slow
# host as on a fast one.
SETTLE_PASSES = 3

sys.path.insert(0, str(HERE))

from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_s.p50": "s",
}


def _prepare_env(work: Path, cores: int) -> None:
    """Shipped defaults, scratch inside the checkout, package importable by
    Python workers. Must run before the JVM starts."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # A fresh, empty index catalog per run, so every cold pass builds.
    os.environ["SPARK_GRAFT_INDEX_ROOT"] = str(work / "index_catalog")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir(parents=True)
    tempfile.tempdir = None
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, str(ROOT))


def _stop_jvm(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def _tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that has at least
    ten samples beyond it; the maximum when there are ten or fewer."""
    s, n = sorted(xs), len(xs)
    if n == 0:
        return float("nan"), float("nan"), 0
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def _git_head() -> str:
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=30, check=True,
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
            text=True, timeout=30, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return head + ("+dirty" if dirty else "")


class Run:
    """One benchmark process: set-up, passes, oracle check, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path):
        self.names = WORKLOADS[workload]["queries"]
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.rng = random.Random(seed)
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.last_df: dict = {}
        self.tracer = None

    def conf(self) -> dict[str, str]:
        conf = {"spark.sql.warehouse.dir": str(self.work / "warehouse")}
        if self.trace:
            (self.work / "eventlog").mkdir(exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
            })
        return conf

    def run_pass(self, spark, reg, measured: bool) -> None:
        p = len(self.passes)
        order = self.rng.sample(self.names, len(self.names))
        sc = spark.sparkContext
        t_pass = time.perf_counter()
        for name in order:
            spec = reg[name]
            sc.setJobGroup(name, f"pass {p}")
            rec = {"pass": p, "query": name, "eager": spec.eager, "start": time.time()}
            if self.tracer is not None:
                self.tracer.current = (p, name)
            try:
                t0 = time.perf_counter()
                df = spec.fn(spark, str(DATA))
                rec["fn_s"] = time.perf_counter() - t0
                if self.tracer is not None:
                    rec["phases"] = self.tracer.phases(df)
                t1 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                rec["exec_s"] = time.perf_counter() - t1
                self.last_df[name] = df
            except Exception as exc:  # noqa: BLE001 — a failed query is data
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
                self.last_df.pop(name, None)
            rec["end"] = time.time()
            self.records.append(rec)
        if self.tracer is not None:
            self.tracer.current = None
        self.passes.append(
            {"order": order, "wall_s": time.perf_counter() - t_pass, "measured": measured}
        )

    def oracle_check(self, spark, reg) -> dict[str, str]:
        """Compare each query's last-pass result with its DuckDB oracle
        using oracle_check's exact, order-insensitive comparison."""
        sys.path.insert(0, str(ROOT / "tools"))
        import oracle_check

        spark.sparkContext.setJobGroup("perfbench.oracle", "untimed oracle check")
        con = oracle_check.duckdb_conn(str(DATA))
        verdicts = {}
        try:
            for name in self.names:
                df = self.last_df.get(name)
                if df is None:
                    verdicts[name] = "FAIL: no result (the query raised)"
                    continue
                spec = SimpleNamespace(fn=lambda _s, _d, df=df: df, oracle=reg[name].oracle)
                try:
                    ok, msg, _ = oracle_check.check_one(spark, con, spec, str(DATA))
                except Exception as exc:  # noqa: BLE001
                    ok, msg = False, f"EXC {type(exc).__name__}: {str(exc)[:400]}"
                verdicts[name] = ("OK: " if ok else "FAIL: ") + msg
        finally:
            con.close()
        return verdicts

    def execute(self) -> tuple[dict, dict]:
        from pyspark import SparkContext

        from uk_procurement_data_pipeline_spark.queries import registry
        from uk_procurement_data_pipeline_spark.session import get_spark

        reg = registry()
        missing = [n for n in self.names if n not in reg]
        if missing:
            raise KeyError(f"workload {self.workload} names unknown queries {missing}")
        import_s = time.perf_counter() - _T0
        t = time.perf_counter()
        spark = get_spark(APP, extra_conf=self.conf())
        get_spark_s = time.perf_counter() - t
        try:
            spark.sparkContext.setJobGroup("perfbench.setup", "trivial job")
            spark.range(1).count()
            setup_s = time.perf_counter() - _T0
            if self.trace:
                from layers import Tracer

                self.tracer = Tracer()
                self.tracer.install(spark)

            self.run_pass(spark, reg, measured=False)
            t_warm = time.perf_counter()
            while True:
                elapsed = time.perf_counter() - t_warm
                n_measured = sum(p["measured"] for p in self.passes)
                if elapsed >= self.seconds and n_measured >= MIN_MEASURED_PASSES:
                    break
                self.run_pass(spark, reg, measured=len(self.passes) > SETTLE_PASSES)

            t_oracle = time.perf_counter()
            verdicts = self.oracle_check(spark, reg)
            oracle_s = time.perf_counter() - t_oracle
            versions = {
                "spark": spark.version,
                "python": platform.python_version(),
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            }
            rss = {"python": _hwm_mb(os.getpid()), "jvm": _hwm_mb(SparkContext._gateway.proc.pid)}
        finally:
            _stop_jvm(spark)

        measured = [i for i, p in enumerate(self.passes) if p["measured"]]
        warm = [r for r in self.records if r["pass"] in measured and "exec_s" in r]
        lat = [r["fn_s"] + r["exec_s"] for r in warm]
        tail, tail_pct, tail_n = _tail(lat)
        errors = sum(1 for r in self.records if "error" in r)
        mismatches = sum(1 for v in verdicts.values() if not v.startswith("OK"))
        attempted = len(self.records)
        record = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": int(self.trace),
            "seconds": self.seconds,
            "git": _git_head(),
            "nproc": self.cores,
            "versions": versions,
            "sf_dir": str(DATA.relative_to(ROOT)),
            "orders": [p["order"] for p in self.passes],
            "pass_wall_s": [p["wall_s"] for p in self.passes],
            "measured_passes": measured,
            "oracle_s": oracle_s,
            "setup_s": setup_s,
            "import_s": import_s,
            "get_spark_s": get_spark_s,
            "peak_rss_mb": rss,
            "query_s.tail": {"value": tail, "percentile": tail_pct, "n": tail_n},
            "exceptions": errors,
            "oracle": verdicts,
            "failed_ratio": (errors + mismatches) / attempted,
            "queries": [
                {k: r[k] for k in ("pass", "query", "fn_s", "exec_s", "error", "phases") if k in r}
                for r in self.records
            ],
        }
        if self.trace:
            metrics, record["layers"] = self.tracer.fold(
                self.records, self.passes, self.work / "eventlog", self.cores,
                get_spark_s, rss["python"] + rss["jvm"],
            )
            from layers import PER_LAYER

            units = {k: u for k, (u, _) in PER_LAYER.items()}
        else:
            metrics = {
                "setup_s": setup_s,
                "cold_pass_s": self.passes[0]["wall_s"],
                "warm_pass_s": statistics.median(self.passes[i]["wall_s"] for i in measured),
                "query_s.p50": statistics.median(lat) if lat else float("nan"),
            }
            units = END_TO_END
        result = {
            "correct": errors + mismatches == 0,
            "attempted": attempted,
            "failed": errors + mismatches,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return record, result


def smoke() -> int:
    """Names resolve; each workload, traced and untraced, emits every
    metric BENCHMARK.json names with its unit."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    from uk_procurement_data_pipeline_spark.queries import registry

    reg = registry()
    problems = []
    if sorted(w["name"] for w in bench["workloads"]) != sorted(WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from workloads.py")
    for w, spec in WORKLOADS.items():
        problems += [f"{w}: unknown query {n}" for n in spec["queries"] if n not in reg]
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in bench[key]}
            proc = subprocess.run(
                [sys.executable, str(Path(__file__).resolve()), "--workload", w,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                capture_output=True, text=True, timeout=600,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{w} trace={trace}: exit {proc.returncode}")
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics/units differ: {got} != {want}")
            if not res["correct"]:
                problems.append(f"{w} trace={trace}: incorrect: {lines[-2][:2000]}")
            print(f"smoke {w} trace={trace}: ok={got == want and res['correct']}", flush=True)
    for p in problems:
        print("SMOKE FAIL", p)
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    if not (ROOT / PKG / "__init__.py").is_file() or not (ROOT / "tools" / "oracle_check.py").is_file():
        print(f"perfbench: {PKG}/ and tools/oracle_check.py must sit beside perfbench/",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    try:
        _prepare_env(work, len(os.sched_getaffinity(0)))
        record, result = Run(args.workload, args.seed, args.seconds, bool(args.trace), work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it, or it is already gone
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
