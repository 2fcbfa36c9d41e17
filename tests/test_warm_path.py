"""Warm-path pins: a repeat call pays only for what changed since the last.

``catalog.read_parquet`` infers a parquet file's schema once per Spark
application and file state, so a repeat ``load`` or generation read runs
no Spark job; ``session.get_spark`` sizes the generated-class cache so a
repeated query set compiles nothing new. These tests pin the job and
compile counts, and that the memo never changes what a read returns.
"""

from __future__ import annotations

import itertools
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from uk_procurement_data_pipeline_spark import catalog, indexes
from uk_procurement_data_pipeline_spark.queries import registry

TPCH_ETL = (
    "q2_min_cost_supplier",
    "nested_flatten_awards",
    "props_json_extract",
    "xml_from_xml_struct",
    "fetch_json_notices",
)

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"warm-path-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("table", catalog.TABLES)
def test_second_load_runs_no_job_and_matches_plain_read(spark, sf_dir, table):
    catalog.load(spark, sf_dir, table)
    df, jobs = _jobs(spark, lambda: catalog.load(spark, sf_dir, table))
    assert jobs == 0
    plain = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    assert df.schema == plain.schema
    assert sorted(df.collect()) == sorted(plain.collect())


def test_first_events_load_infers_once(spark, sf_dir, tmp_path):
    """The nanos probe's schema inference serves the native load too."""
    shutil.copy(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")
    df, jobs = _jobs(spark, lambda: catalog.load(spark, str(tmp_path), "events"))
    assert jobs == 1
    assert df.schema == spark.read.parquet(f"{sf_dir}/events.parquet").schema


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    table = pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]})
    pq.write_table(table, path)
    assert catalog.load(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_name",
    ]
    pq.write_table(table.append_column("r_extra", pa.array([7, 8])), path)
    df = catalog.load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r.r_extra for r in df.collect()) == [7, 8]


def test_missing_path_raises_as_a_plain_read_does(spark, tmp_path):
    with pytest.raises(Exception) as plain:
        spark.read.parquet(str(tmp_path / "region.parquet"))
    with pytest.raises(Exception) as memo:
        catalog.load(spark, str(tmp_path), "region")
    assert type(memo.value) is type(plain.value)


def test_repeat_generation_read_runs_no_job(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(indexes, "_ROOT", str(tmp_path))
    monkeypatch.setattr(indexes, "BUILD_COUNTS", {})
    fp = indexes.fingerprint(tables={}, params={"v": 1})

    def build():
        return indexes.build_or_load(
            spark, "warm_idx", fp, lambda: spark.range(5).selectExpr("id", "id*2 AS v")
        )

    first = build()
    second, jobs = _jobs(spark, build)
    assert jobs == 0
    assert sum(indexes.BUILD_COUNTS.values()) == 1
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def _plan_shape(df) -> str:
    """The executed plan without run-specific ids. AQE may settle on a
    different final plan from run to run (stage completion order decides
    some join sides); such a plan can need classes no earlier run made."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?|plan_id=\d+|QueryStage \d+", "", plan)


def test_rerun_of_tpch_etl_compiles_no_class(spark, sf_dir):
    """A second run of the tpch_etl queries recompiles nothing, even after
    other work compiled 50 classes in between: the class cache holds the
    working set. Compiles are counted per query, for each query whose final
    plan repeats the first run's."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = metrics.METRIC_COMPILATION_TIME()
    reg = registry()
    seen: set[tuple[str, str]] = set()
    checked = 0
    for run in range(2):
        if run:
            start, k = codegen.getCount(), 0
            while codegen.getCount() - start < 50:
                spark.range(1).selectExpr(f"id * {k} + 7 AS c").collect()
                k += 1
        for name in TPCH_ETL:
            before = codegen.getCount()
            df = reg[name].fn(spark, sf_dir)
            df.collect()
            compiled = codegen.getCount() - before
            shape = (name, _plan_shape(df))
            if run and shape in seen:
                assert compiled == 0, name
                checked += 1
            seen.add(shape)
    assert checked >= 3


def test_fingerprints_immune_to_schema_memo_state():
    """catalog._SCHEMA_CACHE sits in the call closure of every query that
    loads a table, as _NANOS_PROBE_CACHE does; poking it must not change
    changed_queries' answer."""
    from pyspark.sql.types import StructType

    from tools.fingerprints import changed_queries
    from tools.regen_coverage import _all_checked

    green = _all_checked()
    before = changed_queries(green)
    key = ("test-app", "poked.parquet", (("poked.parquet", 1, 1),))
    catalog._SCHEMA_CACHE[key] = StructType([])
    try:
        after = changed_queries(green)
    finally:
        catalog._SCHEMA_CACHE.pop(key)
    assert before == after


def test_parquet_reads_go_through_the_schema_memo():
    """Under the package, ``.read.parquet(`` is called only in catalog (the
    memo reader, the nanos probe and the nanos load) and in the compaction
    sink, which reads back the output it just wrote."""
    import ast
    from pathlib import Path

    from test_streaming import _owners

    pkg = Path(__file__).resolve().parents[1] / "uk_procurement_data_pipeline_spark"

    def parquet_read(n):
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "parquet"
            and isinstance(n.func.value, ast.Attribute)
            and n.func.value.attr == "read"
        )

    sites = set().union(*(_owners(p, parquet_read) for p in pkg.rglob("*.py")))
    assert sites == {
        "catalog.read_parquet",
        "catalog.probe_events_nanos",
        "catalog.load_events",
        "sinks.compact_parquet",
    }
