"""Local stand-in for the driver's DuckDB differential oracle.

Runs every registered query's PySpark program AND its DuckDB oracle SQL on
the same parquet directory, then compares row count, column names, and the
full (order-insensitive) set of values — STRICTER than the driver's hash
(exact equality, no float tolerance), so anything green here hash-matches.

Usage:
    python tools/oracle_check.py [sf_dir] [query ...] > record.jsonl

Both engines are sized to the box: Spark runs ``local[N]`` and DuckDB
``N`` threads, where ``N`` is this process's CPU affinity, and DuckDB gets
half of ``MemAvailable`` with a spill directory under the temp dir.

stdout is the run record, one JSON object a line: a header (git head, cores,
versions, DuckDB settings, the class archive the JVM mapped), then one line
per query (name, sf, verdict ``match``/``rows-only``/``mismatch``/``error``,
Spark and oracle seconds, detail), then a summary. stderr carries the same
verdicts as one human-readable line per query.
"""

from __future__ import annotations

import json
import math
import os
import platform
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from uk_procurement_data_pipeline_spark.catalog import TABLES
from uk_procurement_data_pipeline_spark.queries import registry
from uk_procurement_data_pipeline_spark.session import class_archive, get_spark


def _canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — we demand bit-identical doubles
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return repr(v)


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _mem_available_mb() -> int | None:
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view per fixture table, sized to the box:
    one thread per core this process may run on, half of the memory
    available now (the Spark JVM beside it keeps the rest), and a spill
    directory that DuckDB creates on demand and removes on close."""
    con = duckdb.connect()
    con.sql(f"SET threads = {_cores()}")
    mem_mb = _mem_available_mb()
    if mem_mb:
        con.sql(f"SET memory_limit = '{max(mem_mb // 2, 512)}MB'")
    spill = Path(tempfile.gettempdir()) / f"oracle-duckdb-{os.getpid()}"
    con.sql(f"SET temp_directory = '{spill}'")
    con.sql("SET enable_progress_bar = false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_one(spark, con, spec, sf_dir: str) -> tuple[bool, str, float]:
    t0 = time.time()
    sdf = spec.fn(spark, sf_dir).toPandas()
    spark_s = time.time() - t0
    if spec.oracle is None:
        return True, f"rows-only ({len(sdf)} rows)", spark_s
    odf = con.sql(spec.oracle).df()
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, f"SCHEMA spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}", spark_s
    if len(sdf) != len(odf):
        return False, f"ROWCOUNT spark={len(sdf)} oracle={len(odf)}", spark_s
    s_rows, o_rows = canon_rows(sdf), canon_rows(odf)
    if s_rows != o_rows:
        diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
        return False, f"VALUES {len(diffs)}+ diffs, first: {diffs}", spark_s
    return True, f"match ({len(sdf)} rows)", spark_s


def _git_head() -> str:
    """HEAD's sha, with ``+dirty`` when the tree has uncommitted changes."""
    def git(*args: str) -> str:
        return subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                              text=True, timeout=30, check=True).stdout.strip()
    try:
        return git("rev-parse", "HEAD") + ("+dirty" if git("status", "--porcelain") else "")
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    names = []
    reg = registry()
    for a in args:
        if Path(a).is_dir():
            sf_dir = a
        elif a in reg:
            names.append(a)
        else:
            print(f"unknown query or sf dir {a!r}; registered: {sorted(reg)}", file=sys.stderr)
            return 2
    if names:
        reg = {n: reg[n] for n in names}
    cores = _cores()
    spark = get_spark("oracle-check", master=f"local[{cores}]", shuffle_partitions=8)
    con = duckdb_conn(sf_dir)
    sf = Path(sf_dir).name
    settings = con.sql(
        "SELECT current_setting('memory_limit'), current_setting('threads'),"
        " current_setting('temp_directory')"
    ).fetchone()
    _emit({
        "git": _git_head(),
        "nproc": cores,
        "versions": {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
        },
        "duckdb": dict(zip(("memory_limit", "threads", "temp_directory"), settings)),
        "class_archive": class_archive(spark),
        "sf_dir": sf_dir,
        "queries": len(reg),
    })
    failures = 0
    try:
        for name, spec in reg.items():
            rec = {"query": name, "sf": sf}
            t0 = time.time()
            try:
                ok, msg, secs = check_one(spark, con, spec, sf_dir)
                verdict = msg.split(" ", 1)[0] if ok else "mismatch"
                rec.update(verdict=verdict, spark_s=round(secs, 3),
                           oracle_s=round(time.time() - t0 - secs, 3), detail=msg)
            except Exception as e:  # noqa: BLE001
                ok, secs = False, 0.0
                msg = f"EXC {type(e).__name__}: {str(e)[:400]}"
                rec.update(verdict="error", error=msg)
            _emit(rec)
            status = "OK  " if ok else "FAIL"
            print(f"{status} {name:38s} {secs:6.2f}s  {msg}", file=sys.stderr, flush=True)
            failures += 0 if ok else 1
    finally:
        con.close()
    _emit({"sf_dir": sf_dir, "queries": len(reg), "passed": len(reg) - failures,
           "failed": failures})
    print(f"\n{len(reg) - failures}/{len(reg)} queries match on {sf_dir}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
