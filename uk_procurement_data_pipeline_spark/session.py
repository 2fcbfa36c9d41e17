"""SparkSession factory.

Defaults chosen for the engine's design point (SURVEY.md §4.2): AQE on
(coalesce shuffle partitions, skew-join handling, dynamic join strategy),
UTC session timezone (oracle agreement, SURVEY.md §7 watchlist #1), Arrow
for any pandas interchange. Shuffle partitioning is sized by the caller:
tests use a few partitions, bench uses the core count, a real cluster
would use ~2-3x total cores (AQE coalesces the excess).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "uk-procurement-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r12 (guide §3.1/§9): let the planner pick a shuffled-hash join
        # when its size conditions fit instead of always preferring
        # sort-merge, and let AQE rewrite SMJ -> SHJ at runtime when every
        # post-shuffle partition is under 64 MB (runtime-measured, so the
        # rewrite cannot pick a build side that does not fit in a task).
        # Interleaved best-of-3 A/B over the 12 hottest join queries at
        # sf0.1: 46.6 -> 41.7 s (-10%), worst single regression +0.25 s
        # (OPTIMIZATION_r12.md). Join strategy never changes results.
        # Both knobs are env-overridable for cluster-specific tuning.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "64m"),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        # Generated classes live in a Guava cache whose size limit is
        # enforced per segment (4 segments): Spark's default of 100 evicts
        # at 25 classes a segment, so repeated calls recompile part of
        # their working set every time (measured: 75 classes cold for the
        # tpch_etl benchmark queries, 21-26 recompiled per warm pass). At 1000
        # a warm pass compiles nothing.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # NOTE: driver memory only takes effect if THIS process starts the
        # JVM; under getOrCreate against a live session it is silently
        # ignored — set SPARK_SUBMIT_OPTS for externally-launched JVMs.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set each SQL conf in ``confs`` for the body, then restore it.

    Every key is restored in ``finally``, so a body that raises leaves the
    session as it found it. A key that had no value before is unset again
    rather than set to a default.
    """
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
