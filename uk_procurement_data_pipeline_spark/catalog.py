"""Fixture-table catalog (TESTDATA.md / FIXTURES.md §A).

The fixture tables live as one parquet file per table in each scale
factor's directory. Every parquet read goes through ``read_parquet``: a
file's schema is inferred from its footer once per Spark application and
file state (each file's name, size and mtime_ns), and every later read of
the same state reuses it without a Spark job. A file that changes is
re-inferred on its next read. Constant tables are ``local_table``s.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader
from pyspark.sql.types import StructType, _parse_datatype_string

from uk_procurement_data_pipeline_spark.streaming.events_stream import EVENTS_DDL

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from an sf directory."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {TABLES}")
    if name == "events":
        return load_events(spark, f"{sf_dir}/{name}.parquet")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def file_stats(path: str | Path) -> tuple[tuple[str, int, int], ...]:
    """(name, size, mtime_ns) of every file under ``path``, sorted by path,
    or of ``path`` itself when it is a file. Identifies a snapshot by its
    manifest, never by its bytes. Raises FileNotFoundError when ``path``
    does not exist locally."""
    path = Path(path)
    if path.is_dir():
        files = sorted(p for p in path.rglob("*") if p.is_file())
    elif path.exists():
        files = [path]
    else:
        raise FileNotFoundError(str(path))
    return tuple((p.name, (st := p.stat()).st_size, st.st_mtime_ns) for p in files)


# (applicationId, path, file_stats(path)) -> the schema Spark inferred for
# that file state. Inference runs one Spark job per read (it reads the
# parquet footer); reading with the cached schema runs none. The key holds
# the file stats, so a rewritten file is re-inferred.
_SCHEMA_CACHE: dict[tuple[str, str, tuple], StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple[str, str, tuple] | None:
    """Memo key for ``path``, or None when it is not a local path (a
    missing file or a non-local URI), which is never memoized."""
    try:
        stats = file_stats(path)
    except FileNotFoundError:
        return None
    return (spark.sparkContext.applicationId, path, stats)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per
    application and file state. Each call builds a fresh relation, so two
    reads of one path still self-join with distinct attributes. A path
    that is not local is read plainly, so its errors are Spark's own."""
    key = _schema_key(spark, path)
    schema = _SCHEMA_CACHE.get(key) if key is not None else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMA_CACHE[key] = df.schema
    return df


# (applicationId, path) -> needs-nanos-lowering: a fixture file's physical
# type never changes within a session, so later events queries reuse it.
_NANOS_PROBE_CACHE: dict[tuple[str, str], bool] = {}


def _footer_has_nanos(path: str) -> bool | None:
    """Whether the parquet footer of ``path`` declares a TIMESTAMP(NANOS)
    logical type, or None when ``path`` is no readable parquet file (a
    directory of parts, a missing or corrupt file). Not the Arrow type:
    pyarrow maps INT96, which Spark reads natively, to timestamp[ns] too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        schema = pq.read_metadata(path).schema
    except (OSError, pa.ArrowException):
        return None
    units = (json.loads(c.logical_type.to_json()).get("timeUnit") for c in schema)
    return "nanoseconds" in units


def probe_events_nanos(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` needs ``read_nanos_events`` (TIMESTAMP(NANOS)
    fixture). A local file's footer answers without a Spark job. Any other
    path takes Spark's schema inference, which rejects a nanos column; any
    OTHER failure there (missing file, corrupt footer) is re-raised as
    itself rather than misread as a nanos fixture. Shared by ``load_events``
    and the streaming queries. Memoized per (application, path)."""
    key = (spark.sparkContext.applicationId, path)
    if key in _NANOS_PROBE_CACHE:
        return _NANOS_PROBE_CACHE[key]
    result = _footer_has_nanos(path)
    if result is None:
        try:
            read_parquet(spark, path)  # memoizes the schema for the load
            result = False
        except Exception as exc:  # noqa: BLE001 — filtered by message
            if "TIMESTAMP(NANOS" not in str(exc):  # the type, not a path
                raise
            result = True
    _NANOS_PROBE_CACHE[key] = result
    return result


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load an events parquet with ``ts`` normalized to a µs timestamp.

    The fixture's ``ts`` physical type has varied across fixture versions:
    TIMESTAMP(MICROS) reads natively (as timestamp_ntz: the fixture's ts
    carries no time zone); TIMESTAMP(NANOS) is rejected by schema
    inference and takes ``read_nanos_events``. Try the native read first;
    fall back to the nanos path only when schema resolution rejects it.
    """
    if not probe_events_nanos(spark, path):
        return read_parquet(spark, path)
    return read_nanos_events(spark.read, path, "timestamp_ntz")


def read_nanos_events(
    reader: DataFrameReader | DataStreamReader, path: str, ts_type: str
) -> DataFrame:
    """Batch or stream read of an events parquet whose ts is
    TIMESTAMP(NANOS). ts is declared long, which Spark 4.1 reads from a
    NANOS column without the nanosAsLong conf, truncated ns -> µs exactly
    as DuckDB lowers ns to its µs TIMESTAMP (…275999ns -> …275µs), then
    cast to ``ts_type``, the type a µs file's ts has on the same kind of
    read. The session time zone is UTC, so the cast keeps every value."""
    df = reader.schema(EVENTS_DDL.replace("ts timestamp", "ts long")).parquet(path)
    return df.withColumn(
        "ts", F.expr(f"CAST(timestamp_micros(ts div 1000) AS {ts_type})")
    )


def spread(df: DataFrame) -> DataFrame:
    """Redistribute a DataFrame across all cores before CPU-heavy per-row work.

    The fixture parquet files are single-row-group, so Spark scans each as
    ONE partition regardless of maxPartitionBytes (a row group is the unit
    of parquet splitting) — and any expensive expression chain then runs on
    one core. At production scale inputs arrive in many row groups and this
    is a no-op-sized round-robin shuffle of the raw rows; it must be applied
    BEFORE the expensive projection so the work lands post-shuffle.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def _sql_text(value) -> str:
    """``str(value)`` as a SQL string: a UTF-8 binary literal needs no
    quoting and takes no ``${}`` substitution. None is NULL."""
    if value is None:
        return "NULL"
    return f"CAST(X'{str(value).encode().hex()}' AS STRING)"


def local_table(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str | StructType
) -> DataFrame:
    """A constant table of ``rows`` with the schema ``ddl``, planned as a
    JVM ``LocalRelation``: collecting it runs no job, and broadcasting it
    runs a JVM-only one.

    Classic ``spark.createDataFrame(list, ddl)`` is ``sc.parallelize``, a
    PythonRDD, so each use runs tasks that wait on Python workers (the
    first one forks the worker daemon). This is a ``VALUES`` list.
    Each value goes in as ``str(value)`` and is cast to its column's type
    (``simpleString()``), so numbers, NaN, booleans, dates, timestamps and
    decimals all work. Every column is nullable, as with
    ``createDataFrame``: a trailing all-NULL row makes it so and the LIMIT
    drops that row again.
    """
    schema = ddl if isinstance(ddl, StructType) else _parse_datatype_string(ddl)
    rows = [*map(tuple, rows), (None,) * len(schema.fields)]
    values = ", ".join(f"({', '.join(map(_sql_text, r))})" for r in rows)
    cols = ", ".join(
        f"CAST(col{i} AS {f.dataType.simpleString()}) AS `{f.name.replace('`', '``')}`"
        for i, f in enumerate(schema.fields, 1)
    )
    return spark.sql(f"SELECT {cols} FROM VALUES {values} LIMIT {len(rows) - 1}")
