"""The class-data-sharing archive ``session.get_spark`` maps at JVM start.

Each launch case runs ``get_spark`` in a fresh Python process with its own
``XDG_CACHE_HOME``, so the archive under test is never the user's. Five
JVM launches in all; the skip conditions and the live-session case run in
this process against the shared session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from tests.conftest import REPO, SF_DIR
from uk_procurement_data_pipeline_spark import session
from uk_procurement_data_pipeline_spark.queries import registry

QUERY = "q3_shipping_priority"
_CONF = Path(_find_spark_home()) / "conf"

pytestmark = pytest.mark.skipif(
    _CONF.is_dir() and any(not p.name.endswith(".template") for p in _CONF.iterdir()),
    reason="Spark's own conf dir holds real config, so the archive is never used",
)

_SCRIPT = f"""
import json, os, sys
sys.path.insert(0, {str(REPO)!r})
from uk_procurement_data_pipeline_spark.queries import registry
from uk_procurement_data_pipeline_spark.session import class_archive, get_spark
before = os.environ.get("SPARK_CONF_DIR")
spark = get_spark("archive-test", master="local[2]", shuffle_partitions=2)
args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
rows = registry()[{QUERY!r}].fn(spark, {SF_DIR!r}).collect()
print(json.dumps({{
    "archive": class_archive(spark),
    "cds_flags": [a for a in args if "Archive" in a],
    "conf_dir": [before, os.environ.get("SPARK_CONF_DIR")],
    "marker": spark.sparkContext.getConf().get("spark.archivetest.marker", None),
    "rows": sorted(repr(r) for r in rows),
}}))
"""


def _launch(cache_home: Path, **env: str) -> dict:
    """Run ``_SCRIPT`` in a fresh process; exits without stopping Spark,
    like a one-shot script."""
    base = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", *session._CLASSPATH_ENV)
    }
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        env={**base, "XDG_CACHE_HOME": str(cache_home), **env},
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def expected_rows(spark) -> list[str]:
    return sorted(repr(r) for r in registry()[QUERY].fn(spark, SF_DIR).collect())


def test_first_launch_publishes_and_second_maps(tmp_path, expected_rows):
    first = _launch(tmp_path)
    cache = tmp_path / session._CACHE_NAME
    archives = list(cache.glob("*.jsa"))
    assert len(archives) == 1
    assert list(cache.glob("*.tmp")) == []
    assert first["archive"] is None
    assert [f.split("=")[0] for f in first["cds_flags"]] == ["-XX:ArchiveClassesAtExit"]
    assert first["conf_dir"] == [None, None]
    second = _launch(tmp_path)
    assert second["archive"] == str(archives[0])
    assert second["cds_flags"] == [f"-XX:SharedArchiveFile={archives[0]}"]
    assert second["conf_dir"] == [None, None]
    assert first["rows"] == second["rows"] == expected_rows


def test_garbage_archive_starts_normally(tmp_path, monkeypatch, expected_rows):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    final = session._cache_dir() / f"{session._archive_key(Path(_find_spark_home()))}.jsa"
    final.parent.mkdir(parents=True)
    garbage = os.urandom(4096)
    final.write_bytes(garbage)
    run = _launch(tmp_path)
    assert run["cds_flags"] == [f"-XX:SharedArchiveFile={final}"]
    assert run["archive"] is None
    assert run["rows"] == expected_rows
    assert final.read_bytes() == garbage


def test_real_conf_dir_is_kept_and_gets_no_flag(tmp_path, expected_rows):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.archivetest.marker  kept\n")
    run = _launch(tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert run["cds_flags"] == []
    assert run["conf_dir"] == [str(conf), str(conf)]
    assert run["marker"] == "kept"
    assert run["rows"] == expected_rows
    assert not (tmp_path / "cache").exists()


def test_unwritable_cache_starts_normally(tmp_path, expected_rows):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    run = _launch(blocker)
    assert run["cds_flags"] == []
    assert run["archive"] is None
    assert run["conf_dir"] == [None, None]
    assert run["rows"] == expected_rows


def test_live_session_adds_no_flag(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    keys = []
    config = SparkSession.Builder.config

    def spy(self, key=None, value=None, *args, **kwargs):
        keys.append(key)
        return config(self, key, value, *args, **kwargs)

    monkeypatch.setattr(SparkSession.Builder, "config", spy)
    env = dict(os.environ)
    again = session.get_spark("engine-tests", master="local[4]", shuffle_partitions=4)
    assert again.sparkContext is spark.sparkContext
    assert "spark.driver.extraJavaOptions" not in keys
    assert dict(os.environ) == env
    assert list(tmp_path.iterdir()) == []


@pytest.mark.parametrize(
    "conf, env",
    [
        ({"spark.driver.extraJavaOptions": "-Dx=1"}, {}),
        ({}, {"PYSPARK_SUBMIT_ARGS": '--driver-java-options "-Dx=1" pyspark-shell'}),
        ({}, {"HADOOP_CONF_DIR": "/etc/hadoop"}),
        ({}, {"PYSPARK_GATEWAY_PORT": "1"}),
    ],
)
def test_caller_settings_skip_the_archive(tmp_path, monkeypatch, conf, env):
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    for k in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", *session._CLASSPATH_ENV):
        monkeypatch.delenv(k, raising=False)
    assert session._archive_launch({}) is not None  # the plain case would use it
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    assert session._archive_launch(conf) is None


def test_orphan_temp_files_are_removed(tmp_path):
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    orphan = tmp_path / f"k.jsa.{dead.stdout.strip()}.0.tmp"
    live = tmp_path / f"k.jsa.{os.getpid()}.0.tmp"
    archive = tmp_path / "k.jsa"
    for f in (orphan, live, archive):
        f.write_bytes(b"x")
    session._remove_orphan_temps(tmp_path)
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted([live.name, archive.name])
