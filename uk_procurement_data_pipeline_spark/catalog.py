"""Fixture-table catalog (TESTDATA.md / FIXTURES.md §A).

The fixture tables live as one parquet file per table in each scale
factor's directory. Every parquet read goes through ``read_parquet``: a
file's schema is inferred from its footer once per Spark application and
file state (each file's name, size and mtime_ns), and every later read of
the same state reuses it without a Spark job. A file that changes is
re-inferred on its next read.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from uk_procurement_data_pipeline_spark.session import scoped_conf

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

# Fixed-cardinality dimensions that are always safe to broadcast (SURVEY.md
# §2.3 J5). customer/part/supplier grow with SF and must NOT be force-broadcast
# — at the 100 TB design point they are tens of GB; AQE picks their strategy.
BROADCAST_TABLES = {"region", "nation"}


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


# (applicationId, path) -> needs-nanos-lowering. The probe resolves the
# parquet footer schema through the JVM (~1s per call — measured), and every
# events query pays it once per load(); the physical type of a given fixture
# file never changes within a session, so memoize per Spark application.
_NANOS_PROBE_CACHE: dict[tuple[str, str], bool] = {}


def probe_events_nanos(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` needs the nanos-as-long lowering (TIMESTAMP(NANOS)
    fixture). Any OTHER read failure — missing file, corrupt footer — is
    re-raised as itself rather than being misclassified as a nanos fixture
    and resurfacing later as a confusing secondary error. Shared by
    ``load_events`` and the streaming queries so the message filter lives
    in exactly one place. Memoized per (application, path)."""
    key = (spark.sparkContext.applicationId, path)
    if key in _NANOS_PROBE_CACHE:
        return _NANOS_PROBE_CACHE[key]
    schema_key = _schema_key(spark, path)
    try:
        schema = spark.read.parquet(path).schema  # force schema resolution
        result = False
    except Exception as exc:  # noqa: BLE001 — filtered by message
        if "NANOS" not in str(exc) and "nanos" not in str(exc):
            raise
        result = True
    else:
        # The native load that follows reuses this inference.
        if schema_key is not None:
            _SCHEMA_CACHE[schema_key] = schema
    _NANOS_PROBE_CACHE[key] = result
    return result


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load an events parquet with ``ts`` normalized to a µs TIMESTAMP.

    The fixture's ``ts`` physical type has varied across driver rounds:
    TIMESTAMP(MICROS) reads natively; TIMESTAMP(NANOS) is rejected by
    Spark's vectorized reader and needs the legacy nanos-as-long lowering
    plus an explicit ns→µs truncate — exactly what DuckDB does when it
    lowers ns to its µs TIMESTAMP (verified: …275999ns → …275µs), so both
    engines see identical values either way. Try the native read first;
    fall back to the nanos path only when schema resolution rejects it.
    """
    if not probe_events_nanos(spark, path):
        return read_parquet(spark, path)
    # Legacy nanos fixture. The conf is dynamic (SQLConf); the parquet
    # relation captures it during schema resolution, so force analysis with
    # df.schema while it is set — no session-wide leak into unrelated
    # nanos-parquet reads (ADVICE r01).
    with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        df = spark.read.parquet(path)
        df.schema  # force schema resolution while the conf is set
    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


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


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register fixture tables as temp views (for spark.sql-based queries)."""
    for name in tables or TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
