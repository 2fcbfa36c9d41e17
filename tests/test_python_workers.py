"""Python workers fork from the package's daemon (``pyworker.py``).

In the shared session a ``mapInArrow`` probe reports, from inside a worker,
that the package root is on ``sys.path`` and that a task's
``importlib.invalidate_caches()`` keeps pyspark.zip's directory cache. A
fresh process run from an unrelated cwd with ``PYTHONPATH`` unset runs a
package UDF and leaves no socket file behind.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

from tests.conftest import REPO, SF_DIR
from uk_procurement_data_pipeline_spark.queries import registry

_PROBE_SCHEMA = "on_path boolean, zips array<string>, kept array<string>"


def test_worker_sees_the_package_and_keeps_zip_directories(spark):
    root = str(REPO)

    def probe(batches):
        import importlib
        import zipimport

        on_path = root in sys.path
        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        kept = [k for k, v in before.items() if zipimport._zip_directory_cache.get(k) is v]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"on_path": on_path, "zips": sorted(before), "kept": sorted(kept)}],
            schema=pa.schema([
                ("on_path", pa.bool_()),
                ("zips", pa.list_(pa.string())),
                ("kept", pa.list_(pa.string())),
            ]),
        )

    rows = spark.range(8, numPartitions=2).mapInArrow(probe, _PROBE_SCHEMA).collect()
    assert len(rows) == 2
    for row in rows:
        assert row.on_path
        pyspark_zips = [z for z in row.zips if os.path.basename(z) == "pyspark.zip"]
        if not pyspark_zips:
            pytest.skip("the workers do not import pyspark from pyspark.zip")
        assert set(pyspark_zips) <= set(row.kept)


_SCRIPT = f"""
import json, sys
sys.path.insert(0, {str(REPO)!r})
from uk_procurement_data_pipeline_spark.queries import registry
from uk_procurement_data_pipeline_spark.session import get_spark
spark = get_spark("worker-path-test", master="local[2]", shuffle_partitions=2)
rows = registry()["fetch_json_notices"].fn(spark, {SF_DIR!r}).collect()
print(json.dumps({{
    "rows": sorted(repr(r) for r in rows),
    "socket": spark.sparkContext._accumulatorServer.server_address,
}}))
"""


def test_package_udf_runs_from_any_cwd(spark, tmp_path):
    """Exits without stopping Spark, like a one-shot script."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    expected = registry()["fetch_json_notices"].fn(spark, SF_DIR).collect()
    assert got["rows"] == sorted(repr(r) for r in expected)
    assert isinstance(got["socket"], str)
    assert not os.path.exists(got["socket"])
