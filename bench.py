"""Per-query wall-time benchmark over the registered query catalog.

Runs every entry in the driver contract's ``queries()`` registry at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line on stdout:

    {"metric": "total_query_wall", "value": <sum sec>, "unit": "sec",
     "queries": {"<name>": <sec>, ...}, "sf": <float>, ...}

Timing forces FULL execution with the built-in `noop` sink (every row is
computed and serialized, nothing is collected to the driver), which is the
standard Spark benchmarking pattern — `.count()` would let Catalyst prune
the plan to a count-star. Progress goes to stderr; stdout carries only the
JSON line so the driver can parse it.

The driver records only a ~2,000-character tail of stdout, so with 348
registered queries a full per-query map on stdout is truncated into an
unparseable fragment (BENCH_r05.json "parsed": null). The stdout line is
therefore kept compact — totals plus the slowest queries and the worst
ratios vs BASELINE.md — and the FULL per-query map is written to
``BENCH_LOCAL_r{N}.json`` in the repo root (committed per round) so every
timing survives round-over-round comparison.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from uk_procurement_data_pipeline_spark.queries import registry  # noqa: E402
from uk_procurement_data_pipeline_spark.session import get_spark  # noqa: E402


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)$", sf_dir.rstrip("/"))
    return float(m.group(1)) if m else -1.0


def _baseline_rows(sf: float) -> dict[str, float]:
    """Parse BASELINE.md's `| name | sf | secs | config | date |` rows."""
    out: dict[str, float] = {}
    path = Path(__file__).resolve().parent / "BASELINE.md"
    if not path.exists():
        return out
    for line in path.read_text().splitlines():
        m = re.match(r"\|\s*(\w+)\s*\|\s*([0-9.]+)\s*\|\s*([0-9.]+)\s*\|", line)
        if m and float(m.group(2)) == sf:
            out[m.group(1)] = float(m.group(3))
    return out


def _next_round() -> int:
    """Current round = 1 + the highest round the DRIVER's artifacts record
    (BENCH_r/CORRECTNESS_r only — our own BENCH_LOCAL_r files must not
    advance the counter, or a second bench run in one round would skip
    ahead). Override with $SPARK_GRAFT_ROUND."""
    if os.environ.get("SPARK_GRAFT_ROUND"):
        return int(os.environ["SPARK_GRAFT_ROUND"])
    best = 0
    here = Path(__file__).resolve().parent
    for pat in ("BENCH_r*.json", "CORRECTNESS_r*.json"):
        for f in here.glob(pat):
            m = re.search(r"_r(\d+)\.json$", f.name)
            if m:
                best = max(best, int(m.group(1)))
    return best + 1


def _previous_local_timings(
    current_round: int,
) -> tuple[dict[str, float], float | None, float | None]:
    """(per-query map, JVM calibration sec, Python calibration sec) from
    the most recent BENCH_LOCAL_r*.json before this round — the
    round-over-round drift reference. Calibrations are None for pre-r10
    artifacts."""
    here = Path(__file__).resolve().parent
    best: tuple[int, Path] | None = None
    for f in here.glob("BENCH_LOCAL_r*.json"):
        m = re.search(r"_r(\d+)\.json$", f.name)
        # the current round's own file (e.g. the driver's boundary run, or
        # an earlier run this session) qualifies: drift vs the last
        # recorded reading is exactly what we want
        if m and int(m.group(1)) <= current_round and (
            best is None or int(m.group(1)) > best[0]
        ):
            best = (int(m.group(1)), f)
    if best is None:
        return {}, None, None
    try:
        doc = json.loads(best[1].read_text())
        cal = doc.get("calibration") or {}
        return dict(doc.get("queries", {})), cal.get("sec"), cal.get("py_sec")
    except Exception:  # noqa: BLE001 — a corrupt artifact must not kill bench
        return {}, None, None


def _git_head() -> str:
    import subprocess

    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=Path(__file__).resolve().parent,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "status", "--porcelain"],
            cwd=Path(__file__).resolve().parent,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        return head + ("+dirty" if dirty else "")
    except Exception:  # noqa: BLE001
        return "unknown"


def run_query(spark, spec, sf_dir: str, min_runs: int = 2, max_runs: int = 4) -> float:
    """Adaptive best-of-N timed executions (N in [min_runs, max_runs]).

    A single timed run conflates first-touch costs (codegen compile, parquet
    footer cache, Python-worker fork) with steady-state query cost and made
    round-2 bench rows trip the 2x-of-baseline gate on cold-start noise
    (simhash_dedup: 2.7s cold vs 1.05s warm). Best-of-2 is still not enough
    when transient system churn (e.g. 32 Python daemons forking for an
    earlier Arrow stage) spans BOTH runs — measured: the same 1-task job
    timed 1.76s, 1.72s, 0.54s, 0.29s across four consecutive runs. So:
    keep re-running while the best time is still improving by >20% per run,
    bounded at ``max_runs``. Steady-state queries stop at ``min_runs``;
    only noise-afflicted ones pay extra runs. Ordinary (lazy) queries time
    only the noop-sink execution — re-running fn() would re-pay Catalyst
    analysis, which is not execution cost and skews wide plans by 100s of
    ms. Specs flagged ``eager`` (the streaming entry drains its whole
    stream inside fn) time the fn call too, since that IS their execution.
    """
    best = float("inf")
    for i in range(max_runs):
        if spec.eager:
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        else:
            df = spec.fn(spark, sf_dir)
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
        t = time.perf_counter() - t0
        improved = t < best * 0.8
        best = min(best, t)
        if i + 1 >= min_runs and not improved:
            break
    return best


# Machine-speed calibration (VERDICT r09 item 4): three same-code bench
# runs spread 265-305 s purely on machine-day drift, and the rr-drift
# triage burned a session chasing 53 phantom flags. The fix: time TWO
# fixed synthetic workloads — one pure-JVM (range -> hash agg -> window
# shuffle) and one Arrow/Python (mapInPandas identity; the long-sweep
# churn that inflates readings lives almost entirely in the Python
# worker path, which a JVM-only probe cannot see — r10 measured
# dedup_methods_report at 1.9 s in the churned session vs 0.91 s fresh
# while the JVM probe read a healthy 0.40 s) — and use their worst ratio
# to recorded references to normalize the drift thresholds. References
# measured 2026-08-16 (r10) on a quiet box, steady-state best-of-N.
CALIB_REF_SEC = 0.50  # JVM workload
CALIB_PY_REF_SEC = 0.70  # Arrow/Python workload


def run_calibration(spark, runs: int = 3) -> tuple[float, float]:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(0, 20_000_000, 1, 32).selectExpr(
        "id % 9973 AS k", "id"
    )
    agg = df.groupBy("k").agg(
        F.sum("id").alias("s"), F.count("*").alias("c")
    )
    w = Window.partitionBy(F.col("k") % 31).orderBy("k")
    out = agg.select("k", "s", "c", F.lag("s").over(w).alias("p"))
    py = spark.range(0, 2_000_000, 1, 32).mapInPandas(
        lambda it: it, schema="id long"
    )
    best_jvm = best_py = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        out.write.mode("overwrite").format("noop").save()
        best_jvm = min(best_jvm, time.perf_counter() - t0)
        t0 = time.perf_counter()
        py.write.mode("overwrite").format("noop").save()
        best_py = min(best_py, time.perf_counter() - t0)
    return best_jvm, best_py


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("uk-procurement-pipeline-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    reg = registry()
    # Debug subset: SPARK_GRAFT_ONLY="q1,q2" times just those queries and
    # prints the same line, but writes no BENCH_LOCAL file.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        reg = {n: reg[n] for n in names}
    # JVM/codegen warmup: one tiny end-to-end job, untimed.
    warm = next(iter(reg.values()))
    warm.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    # Python-worker warmup: daemon + Arrow worker startup otherwise lands in
    # whichever mapInPandas/applyInPandas query happens to run first.
    spark.range(int(cpus) * 4).repartition(int(cpus)).mapInPandas(
        lambda it: it, schema="id long"
    ).write.mode("overwrite").format("noop").save()
    # The worker fork above leaves the box churning for a few seconds
    # (measured: the first 1-task job after it is ~6x its steady-state
    # time). Re-run a tiny job until its wall time stabilizes so that
    # churn is absorbed here, not in the first timed query.
    prev = float("inf")
    for _ in range(6):
        t0 = time.perf_counter()
        warm.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        t = time.perf_counter() - t0
        if t > prev * 0.8:
            break
        prev = t

    calib_start, calib_py_start = run_calibration(spark)
    print(
        f"  calibration (pre-sweep):  jvm={calib_start:.3f}s "
        f"py={calib_py_start:.3f}s",
        file=sys.stderr,
    )

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, spec in reg.items():
        try:
            secs = run_query(spark, spec, sf_dir)
            timings[name] = round(secs, 3)
            print(f"  {name:40s} {secs:7.3f}s", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — a broken query must not hide the rest
            errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
            print(f"  {name:40s} ERROR {errors[name]}", file=sys.stderr)
        if spec.eager:
            # Streaming drains fork dozens of Python workers and leave the
            # box churning; absorb it here (untimed) instead of in the next
            # timed query (measured: events_sliding_window read 1.29s after
            # the TTL stream vs 0.15s isolated).
            for _ in range(3):
                warm.fn(spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()

    sf = _sf_of(sf_dir)
    rnd = _next_round()

    # Calibration again after the sweep; the machine's best observed
    # capability during this run is min(start, end). drift >= 1 means the
    # box ran slower than the recorded reference — every drift threshold
    # below scales by it so a slow machine-day doesn't masquerade as a
    # plan regression (VERDICT r09 item 4).
    calib_end, calib_py_end = run_calibration(spark)
    print(
        f"  calibration (post-sweep): jvm={calib_end:.3f}s "
        f"py={calib_py_end:.3f}s",
        file=sys.stderr,
    )
    calib = min(calib_start, calib_end)
    calib_py = min(calib_py_start, calib_py_end)
    drift_raw = max(1.0, calib / CALIB_REF_SEC, calib_py / CALIB_PY_REF_SEC)
    # ADVICE r10: an unbounded drift factor would let a sufficiently slow
    # machine-day relax the 2x gate until it can no longer catch a real 2x
    # regression. Cap the relaxation at 1.5x; beyond that the run warns
    # loudly and readings must be interpreted by a human (the raw drift
    # still lands in the artifact).
    DRIFT_CAP = 1.5
    drift = min(drift_raw, DRIFT_CAP)
    if drift_raw > DRIFT_CAP:
        print(
            f"WARNING: calibration drift {drift_raw:.2f} exceeds the "
            f"{DRIFT_CAP}x cap — machine is badly degraded; gate thresholds "
            f"are capped at {DRIFT_CAP}x relaxation, expect phantom "
            "breaches and re-run on a quiet box before acting on them",
            file=sys.stderr,
        )

    # Settled re-timing pass: any query reading >1.5x its BASELINE.md row
    # gets re-measured once the full sweep's Python-worker churn has died
    # down, keeping the better reading. Sub-second queries scheduled right
    # after an Arrow/streaming-heavy one routinely read 3-10x their
    # steady state (events_sliding_window: 1.29s mid-sweep vs 0.15s
    # isolated) — that is scheduler noise, not plan cost, and the
    # committed artifact should record plan cost.
    base_early = _baseline_rows(sf)
    # Round-over-round drift (VERDICT r07 item 3): any query >1.5x its
    # reading in the PREVIOUS BENCH_LOCAL file is mechanically re-timed in
    # isolation right here — Python-worker churn from Arrow-heavy sweep
    # neighbors routinely inflates readings 2-3x and has repeatedly
    # masqueraded as a plan regression (xml_namespace_dispatch r07:
    # 2.7x mid-sweep, 0.56s isolated). The section lands in the JSON so
    # nobody has to diff two files by hand. The threshold is scaled by
    # the calibration ratio between the two runs' machine-days.
    prev_local, prev_calib, prev_calib_py = _previous_local_timings(rnd)
    # ADVICE r10: drift_rel previously ignored the Python-worker probe even
    # though Python churn is the dominant noise source — include it, and
    # cap the relaxation the same way as the baseline gate's drift.
    drift_rel_parts = [1.0]
    if prev_calib:
        drift_rel_parts.append(calib / prev_calib)
    if prev_calib_py and calib_py:
        drift_rel_parts.append(calib_py / prev_calib_py)
    # ADVICE r11: gate on EITHER probe being present — a prev artifact
    # carrying only the Python probe (or a 0.0 jvm_sec) must not silently
    # discard the Python-churn ratio and fall back to the vs-ref drift.
    have_prev_probe = bool(prev_calib) or bool(prev_calib_py and calib_py)
    drift_rel = (
        min(max(drift_rel_parts), DRIFT_CAP) if have_prev_probe else drift
    )
    drift_suspects = {
        n: prev_local[n]
        for n, t in timings.items()
        if prev_local.get(n) and t / prev_local[n] > 1.5 * drift_rel
    }
    suspects = [
        n
        for n, t in timings.items()
        if (base_early.get(n) and t / base_early[n] > 1.5 * drift)
        or n in drift_suspects
    ]
    rr_drift: dict[str, dict[str, float]] = {}
    if suspects:
        for _ in range(4):
            warm.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        for n in suspects:
            first = timings[n]
            try:
                secs = run_query(spark, reg[n], sf_dir, max_runs=6)
                if secs < timings[n]:
                    print(
                        f"  retimed {n}: {timings[n]:.3f}s -> {secs:.3f}s",
                        file=sys.stderr,
                    )
                    timings[n] = round(secs, 3)
            except Exception:  # noqa: BLE001 — keep the first reading
                pass
            if n in drift_suspects:
                rr_drift[n] = {
                    "prev": drift_suspects[n],
                    "sweep": first,
                    "isolated": timings[n],
                }
    # Phantom-breach guard (r10): after a ~380-query sweep the session's
    # Python-worker pool is churned enough that even the settled re-time
    # pass above reads Arrow-heavy queries 2-3x high (measured:
    # dedup_methods_report 1.9s in the churned session, 0.91s fresh). A
    # 2x-gate breach is only actionable if it survives a FRESH session,
    # so re-time provisional breaches in one before failing the run.
    fresh_retimed: dict[str, dict[str, float]] = {}
    over_provisional = [
        n
        for n, t in timings.items()
        if base_early.get(n) and t / base_early[n] / drift > 2.0
    ]
    if over_provisional:
        spark.stop()
        spark = get_spark(
            "uk-procurement-pipeline-bench-retime", master=f"local[{cpus}]"
        )
        spark.sparkContext.setLogLevel("ERROR")
        warm.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        spark.range(int(cpus) * 4).repartition(int(cpus)).mapInPandas(
            lambda it: it, schema="id long"
        ).write.mode("overwrite").format("noop").save()
        for n in over_provisional:
            try:
                secs = run_query(spark, reg[n], sf_dir, max_runs=6)
            except Exception:  # noqa: BLE001 — keep the sweep reading
                continue
            fresh_retimed[n] = {
                "sweep_session": timings[n],
                "fresh_session": round(secs, 3),
            }
            if secs < timings[n]:
                print(
                    f"  fresh-session retimed {n}: "
                    f"{timings[n]:.3f}s -> {secs:.3f}s",
                    file=sys.stderr,
                )
                timings[n] = round(secs, 3)
    full = {
        "metric": "total_query_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "cpus": int(cpus),
        "round": rnd,
        # What was measured, unambiguously (VERDICT r07 item 7): the round
        # counter above is "1 + latest driver artifact", which reads one
        # round AHEAD when the driver itself runs bench.py at the round
        # boundary (its CORRECTNESS_rN lands first, so the closer of round
        # N gets filed as r{N+1}). The git state is the ground truth.
        "measures_git_head": _git_head(),
        "round_note": "round = 1 + max driver artifact round at run time; "
        "trust measures_git_head for WHICH repo state was measured",
        "calibration": {
            "sec": round(calib, 3),
            "start_sec": round(calib_start, 3),
            "end_sec": round(calib_end, 3),
            "ref_sec": CALIB_REF_SEC,
            "py_sec": round(calib_py, 3),
            "py_start_sec": round(calib_py_start, 3),
            "py_end_sec": round(calib_py_end, 3),
            "py_ref_sec": CALIB_PY_REF_SEC,
            "drift_vs_ref": round(drift, 3),
            "drift_vs_ref_raw": round(drift_raw, 3),
            "drift_cap": DRIFT_CAP,
            "drift_vs_prev_local": round(drift_rel, 3),
            "note": "two fixed workloads — JVM (range->hashagg->window) "
            "and Arrow/Python (mapInPandas identity); worst ratio to the "
            "recorded references scales every noise threshold in this run",
        },
    }
    if rr_drift:
        full["rr_drift"] = rr_drift
    if fresh_retimed:
        full["fresh_session_retimed"] = fresh_retimed
    if errors:
        full["errors"] = errors
    local_path = Path(__file__).resolve().parent / f"BENCH_LOCAL_r{rnd:02d}.json"
    # A subset run must not replace the round's full map, which is also
    # the next full run's drift reference (_previous_local_timings).
    if not only:
        local_path.write_text(json.dumps(full, indent=1, sort_keys=True) + "\n")

    base = _baseline_rows(sf)
    ratios = {
        n: round(t / base[n], 2) for n, t in timings.items() if base.get(n)
    }
    worst = dict(sorted(ratios.items(), key=lambda kv: -kv[1])[:10])
    # 2x gate (VERDICT r06 item 5): a per-query regression must fail the
    # run loudly — eyeballing the total would let a 2x blowup in a
    # sub-second query hide behind the ~45s streaming constant. Readings
    # here already survived the settled re-timing pass above, so a breach
    # is a real regression, not worker churn. The gate compares the
    # CALIBRATION-ADJUSTED ratio (raw / machine drift) so a slow
    # machine-day alone can't breach it; raw ratios stay in the artifact.
    over_gate = {
        n: r for n, r in ratios.items() if r / drift > 2.0
    }
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:12])
    compact = {
        "metric": "total_query_wall",
        "value": full["value"],
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "n_queries": len(timings),
        "cpus": int(cpus),
        "queries_note": f"12 slowest of {len(timings)}; "
        + ("subset run, no full map written" if only else f"full map in {local_path.name}"),
        "worst_vs_baseline": worst,
        "n_over_2x_baseline": len(over_gate),
        "sum_vs_baseline": round(
            sum(t for n, t in timings.items() if n in base)
            / max(sum(base[n] for n in timings if n in base), 1e-9),
            3,
        ),
        "calibration_drift": round(drift, 3),
        "sum_vs_baseline_calib_adj": round(
            sum(t for n, t in timings.items() if n in base)
            / max(sum(base[n] for n in timings if n in base), 1e-9)
            / drift,
            3,
        ),
    }
    if rr_drift:
        # still-drifting = isolated re-time did NOT come back under 1.5x of
        # the previous reading (machine-drift-scaled) — a candidate real
        # regression, not churn
        still = {
            n: d for n, d in rr_drift.items()
            if d["isolated"] / d["prev"] > 1.5 * drift_rel
        }
        compact["n_rr_drift"] = len(rr_drift)
        compact["rr_drift_unresolved"] = dict(
            sorted(still.items(), key=lambda kv: -kv[1]["isolated"])[:5]
        )
    if errors:
        compact["errors"] = {k: v[:80] for k, v in list(errors.items())[:5]}
        compact["n_errors"] = len(errors)
    if over_gate:
        compact["gate_breached"] = over_gate
        print(
            f"GATE BREACHED: {len(over_gate)} queries over 2x their "
            f"BASELINE.md row: {over_gate}",
            file=sys.stderr,
        )
    print(json.dumps(compact))
    return 1 if errors or over_gate else 0


if __name__ == "__main__":
    raise SystemExit(main())
