"""Sinks (SURVEY.md §2.1 S6/S7/S8, §2.12 E5).

The reference writes one Excel file per day (2a:654, 2b:498), appends
daily frames to a single CSV with header-once bookkeeping
(3_merge_to_two.py:41-57), and downloads raw bytes to dated paths
(1a:152-157). Spark-first equivalents: partitioned parquet (per-day file
== one partition), a single overwrite CSV write after union (header-once
bookkeeping disappears), and a foreachPartition binary writer for the
landing zone. ``observe`` attaches row-count metrics to any write (E5 —
the reference's tqdm/progress counts as queryable metrics).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import local_table


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """S7: the engine's canonical sink — partition pruning on read-back."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_csv_merged(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S8: merged CSV output (ref 3:41-57). One header, no append
    bookkeeping — the union happened upstream. coalesce(1) mirrors the
    reference's single-file contract; drop it for sharded output at scale."""
    df.coalesce(1).write.mode(mode).option("header", True).csv(path)


def write_partitioned_orc(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """S7 in ORC: same partitioned-sink contract as parquet but the other
    in-core columnar format (zlib by default, predicate pushdown and
    column pruning on read-back via the native OrcScan). Kept beside the
    parquet sink because warehouse migrations routinely need both; no
    external jar — ORC support ships in Spark core."""
    df.write.mode(mode).partitionBy(*partition_cols).orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """ORC scan — partition pruning + filter pushdown, same as parquet."""
    return spark.read.orc(path)


def compact_parquet(
    spark, in_dir: str, out_dir: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target)`` files and return that file count.

    Incremental sinks (availableNow ingest, the foreachBatch merge, daily
    partition appends) accumulate many small files; at scale every one
    costs a task launch, a footer read, and NameNode/liststore pressure.
    Compaction is the standard maintenance pass. Sizing uses the INPUT
    bytes listed from the filesystem — never a count() job — and
    ``coalesce`` (no shuffle) since output order is free.
    """
    total = sum(f.stat().st_size for f in Path(in_dir).rglob("*.parquet"))
    n_files = max(1, -(-total // target_file_bytes))
    spark.read.parquet(in_dir).coalesce(n_files).write.mode("overwrite").parquet(
        out_dir
    )
    return n_files


def write_binary_files(
    df: DataFrame, out_dir: str, name_col: str = "name", payload_col: str = "payload"
) -> DataFrame:
    """S6: landing-zone byte sink via foreachPartition (ref 1a:152-157).

    Executor-side writes, one file per row; out_dir must be a shared
    filesystem (object store in production, local dir under local[*]).

    Names come from DATA (zip member names, scraped URLs) and are
    untrusted: absolute paths and ``..`` components would escape the
    landing zone (zip-slip). Escaping rows are never written; they come
    back as the returned error DataFrame (``name``, ``error``) — the
    repo's skip-and-log contract (E3). A defensive executor-side re-check
    backs the driver-side filter.
    """
    out = str(out_dir)

    def _unsafe(name: str) -> bool:
        p = Path(name)
        return p.is_absolute() or ".." in p.parts or name.startswith("~")

    def write_partition(rows) -> None:
        base = Path(out).resolve()
        base.mkdir(parents=True, exist_ok=True)
        for row in rows:
            name = row[name_col]
            target = (base / name).resolve()
            if _unsafe(name) or not target.is_relative_to(base):
                raise ValueError(f"path escape slipped past the filter: {name!r}")
            target.parent.mkdir(parents=True, exist_ok=True)
            target.write_bytes(row[payload_col])

    name = F.col(name_col)
    part = f"split(regexp_replace({name_col}, '^/+', '/'), '/')"
    escapes = (
        name.startswith("/")
        | name.startswith("~")
        | F.expr(f"exists({part}, x -> x = '..')")
        | name.rlike("^[A-Za-z]:")  # windows drive-absolute
    )
    good = df.where(~escapes)
    bad = df.where(escapes).select(
        name.alias("name"), F.lit("path_escapes_landing_zone").alias("error")
    )
    good.select(name_col, payload_col).foreachPartition(write_partition)
    return bad


def write_clustered_parquet(
    df: DataFrame, path: str, cluster_col: str, n_files: int, mode: str = "overwrite"
) -> None:
    """Range-clustered sorted parquet layout (liquid-clustering-lite).

    ``repartitionByRange`` splits the keyspace into ``n_files`` contiguous,
    non-overlapping ranges (one range shuffle, sampled boundaries) and
    ``sortWithinPartitions`` orders rows inside each file, so every parquet
    row group carries a TIGHT min/max for ``cluster_col``. A later scan
    with a range predicate on that column then skips whole files and row
    groups on footer statistics alone — at 100 TB this is the difference
    between scanning everything and scanning the one-percent slice a
    time-range query actually touches. Partitioned directories (S7) give
    coarse pruning on low-cardinality keys; this is the complement for
    high-cardinality sort keys (timestamps, ids) where one-directory-per-
    value would explode the namespace.
    """
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode(mode)
        .parquet(path)
    )


def write_delta(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Delta-format sink (ACID upserts/time travel at the 100 TB design
    point). The delta-spark jars are not in this environment — fail fast
    with guidance; parquet is the canonical local format."""
    try:
        df.write.format("delta").mode(mode).save(path)
    except Exception as e:  # noqa: BLE001  — jar not on classpath
        raise NotImplementedError(
            "Delta writes need the delta-spark package "
            "(--packages io.delta:delta-spark_2.13:<ver> plus the "
            "DeltaCatalog session extensions); use write_partitioned_parquet "
            "in this environment"
        ) from e


def observed_count(df: DataFrame, name: str = "sink") -> tuple[DataFrame, Observation]:
    """E5: attach row/null-free metrics; read obs.get after an action."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n_rows")), obs


# ---------------------------------------------------------------------------
# ACID snapshot table over plain parquet (Delta-equivalent semantics).
#
# The delta-spark jars are absent here (write_delta above is env-gated), but
# the 100 TB story needs two Delta behaviors pinned by tests, not gated:
# idempotent MERGE upsert and time-travel reads. This implements both over
# plain parquet with a manifest per snapshot — the same shape as a Delta
# transaction log, minus the jar:
#
#   table_dir/
#     data/txn-<v>/bucket=<k>/*.parquet   immutable data files, written once
#     _snapshots/v00001.json              manifest: bucket -> data dir,
#                                         txn ledger, key/bucket config
#     _LATEST                             current version (atomic rename)
#
# Scale design: data files are bucket-indexed by hash(key) % n_buckets
# (Hudi-style bucket index). A MERGE rewrites ONLY the buckets that contain
# updated keys; every other bucket's files carry over into the new manifest
# by reference — so merge cost is O(touched buckets), not O(table). Readers
# always resolve a manifest, so concurrent reads see a consistent snapshot
# while a merge is in flight, and _LATEST flips atomically (os.rename on
# POSIX; a conditional put on object stores). Idempotency is Delta's
# txnAppId/txnVersion contract: a (app_id, txn_version) pair already in the
# ledger makes the merge a no-op.
# ---------------------------------------------------------------------------

import json as _json
import os as _os


def _acid_manifest(table_dir: str, version: int) -> dict:
    path = Path(table_dir) / "_snapshots" / f"v{version:05d}.json"
    return _json.loads(path.read_text())


def acid_latest_version(table_dir: str) -> int:
    return int((Path(table_dir) / "_LATEST").read_text())


def _acid_commit(table_dir: str, version: int, manifest: dict) -> None:
    """Write the manifest, then flip _LATEST via atomic rename. A crash
    before the rename leaves the table at the previous version with only
    orphan data files (cleaned by vacuum) — never a torn snapshot."""
    snap_dir = Path(table_dir) / "_snapshots"
    snap_dir.mkdir(parents=True, exist_ok=True)
    (snap_dir / f"v{version:05d}.json").write_text(_json.dumps(manifest, indent=1))
    tmp = Path(table_dir) / "_LATEST.tmp"
    tmp.write_text(str(version))
    _os.replace(tmp, Path(table_dir) / "_LATEST")


def _acid_bucket_col(key_cols: list[str], n_buckets: int):
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


def acid_create(
    df: DataFrame, table_dir: str, key_cols: list[str], n_buckets: int = 16
) -> int:
    """Create snapshot v1 from ``df``. Returns the version written."""
    data_dir = Path(table_dir) / "data" / "txn-00001"
    (
        df.withColumn("__bucket", _acid_bucket_col(key_cols, n_buckets))
        .repartition("__bucket")
        .write.mode("errorifexists")
        .partitionBy("__bucket")
        .parquet(str(data_dir))
    )
    buckets = {
        p.name.split("=")[1]: str(data_dir.relative_to(table_dir) / p.name)
        for p in data_dir.glob("__bucket=*")
    }
    manifest = {
        "version": 1,
        "key_cols": key_cols,
        "n_buckets": n_buckets,
        "buckets": buckets,
        "txns": {},
        # Recorded so an EMPTY snapshot (acid_create(df.limit(0)) is
        # legitimate) stays time-travel-readable: acid_read reconstructs
        # an empty DataFrame from this when no buckets exist.
        "schema": df.schema.json(),
    }
    _acid_commit(table_dir, 1, manifest)
    return 1


def acid_read(spark, table_dir: str, version: int | None = None) -> DataFrame:
    """Time-travel read: the table as of ``version`` (default: latest).
    Every snapshot stays readable until vacuumed — the manifest pins the
    exact file set, so v1 is bit-identical no matter how many merges
    landed after it."""
    v = acid_latest_version(table_dir) if version is None else version
    manifest = _acid_manifest(table_dir, v)
    paths = [str(Path(table_dir) / rel) for rel in manifest["buckets"].values()]
    if not paths:
        # Empty snapshot (e.g. acid_create(df.limit(0))): reconstruct the
        # zero-row frame from the recorded schema instead of erroring. Its
        # columns are nullable, as a parquet read of a non-empty one is.
        schema_json = manifest.get("schema")
        if schema_json is None:  # pre-schema manifest, nothing to go on
            raise ValueError(f"snapshot v{v} of {table_dir} is empty")
        from pyspark.sql.types import StructType

        return local_table(spark, [], StructType.fromJson(_json.loads(schema_json)))
    # mergeSchema: after a schema-evolving MERGE, untouched buckets still
    # hold the old column set — the union of footers is the table schema,
    # with NULLs where a file predates a column (Delta's read semantics).
    return (
        spark.read.option("mergeSchema", "true").parquet(*paths)
        .drop("__bucket")
    )


def acid_merge_upsert(
    spark,
    table_dir: str,
    updates: DataFrame,
    app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """MERGE (upsert: update matching keys, insert new ones) as a new
    snapshot. Returns the version now current.

    Only buckets containing updated keys are rewritten (anti-join old
    bucket rows against update keys, union the updates); all other bucket
    dirs carry over by manifest reference — file-granularity copy-on-
    write, like Delta's MERGE with file pruning. Passing (app_id,
    txn_version) makes the merge idempotent across retries: a pair
    already recorded in the ledger returns the current version without
    writing anything (Delta txnAppId/txnVersion semantics).
    """
    cur_v = acid_latest_version(table_dir)
    manifest = _acid_manifest(table_dir, cur_v)
    if app_id is not None:
        applied = manifest["txns"].get(app_id, -1)
        if txn_version is not None and txn_version <= applied:
            return cur_v
    key_cols = manifest["key_cols"]
    n_buckets = manifest["n_buckets"]
    new_v = cur_v + 1

    # Delta MERGE raises when one target row matches multiple source rows;
    # silently unioning a dup-keyed batch would break the keyed-table
    # invariant (one row per key). Enforce the same contract up front.
    dup = (
        updates.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"acid_merge_upsert: update batch has duplicate key "
            f"{tuple(dup[0][c] for c in key_cols)!r} for key_cols "
            f"{key_cols} — dedupe the batch (e.g. last-wins by a version "
            f"column) before merging"
        )
    upd = updates.withColumn("__bucket", _acid_bucket_col(key_cols, n_buckets))
    # Affected buckets: bounded by n_buckets (a config constant), so this
    # collect is a scalar-sized driver read, not a data pull.
    touched = sorted(
        r["__bucket"] for r in upd.select("__bucket").distinct().collect()
    )
    data_dir = Path(table_dir) / "data" / f"txn-{new_v:05d}"
    new_buckets = dict(manifest["buckets"])
    # ONE partitioned write job for every touched bucket, not a job per
    # bucket: read the touched buckets' current files together (their
    # bucket ids are recomputed from the keys — dirs read directly carry
    # no partition column), anti-join away updated keys, union the
    # updates, shuffle once on __bucket, write once. At thousands of
    # buckets the per-bucket-job form would serialize thousands of tiny
    # jobs through the scheduler.
    old_rel = [
        manifest["buckets"][str(b)]
        for b in touched
        if str(b) in manifest["buckets"]
    ]
    if old_rel:
        old_rows = spark.read.option("mergeSchema", "true").parquet(
            *[str(Path(table_dir) / rel) for rel in old_rel]
        ).withColumn("__bucket", _acid_bucket_col(key_cols, n_buckets))
        keep = old_rows.join(
            F.broadcast(upd.select(*key_cols).distinct()),
            on=key_cols,
            how="left_anti",
        )
        # allowMissingColumns = schema evolution on MERGE: a column only
        # the updates carry lands as NULL on kept rows (and vice versa);
        # untouched buckets keep their old footer and reads reconcile via
        # mergeSchema (acid_read).
        merged = keep.unionByName(upd, allowMissingColumns=True)
    else:
        merged = upd
    (
        merged.repartition("__bucket")
        .write.mode("errorifexists")
        .partitionBy("__bucket")
        .parquet(str(data_dir))
    )
    for b in touched:
        new_buckets[str(b)] = str(
            (data_dir / f"__bucket={b}").relative_to(table_dir)
        )

    txns = dict(manifest["txns"])
    if app_id is not None:
        txns[app_id] = txn_version if txn_version is not None else -1
    _acid_commit(
        table_dir,
        new_v,
        {
            "version": new_v,
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "buckets": new_buckets,
            "txns": txns,
            "schema": merged.drop("__bucket").schema.json(),
        },
    )
    return new_v


def acid_vacuum(table_dir: str, keep_last: int = 2) -> list[str]:
    """Retention: drop all but the newest ``keep_last`` snapshots and
    delete every data dir no retained manifest references. Returns the
    removed paths (manifests + data dirs).

    The ordering is crash-safe in the same way commits are: manifests of
    expired versions go first (a reader holding an old version number
    fails fast on the missing manifest rather than on half-deleted
    data), then unreferenced bucket dirs. Never touches _LATEST. This is
    Delta's VACUUM + log retention collapsed into one pass — snapshots
    here are cheap (a manifest file), so there is no separate tombstone
    grace period: a version is either retained and fully readable or
    gone.
    """
    import shutil as _shutil

    latest = acid_latest_version(table_dir)
    keep = set(range(max(1, latest - keep_last + 1), latest + 1))
    # A prior vacuum with a smaller keep_last may already have deleted
    # manifests inside this range (vacuum(2) then vacuum(5)); those
    # versions are gone, not retainable — skip them instead of raising.
    keep = {
        v
        for v in keep
        if (Path(table_dir) / "_snapshots" / f"v{v:05d}.json").exists()
    }
    retained: set[str] = set()
    for v in keep:
        retained |= set(_acid_manifest(table_dir, v)["buckets"].values())
    removed: list[str] = []
    for f in sorted((Path(table_dir) / "_snapshots").glob("v*.json")):
        if int(f.stem[1:]) not in keep:
            f.unlink()
            removed.append(str(f.relative_to(table_dir)))
    data = Path(table_dir) / "data"
    for txn in sorted(data.glob("txn-*")):
        for bdir in sorted(txn.glob("__bucket=*")):
            rel = str(bdir.relative_to(table_dir))
            if rel not in retained:
                _shutil.rmtree(bdir)
                removed.append(rel)
        if not any(txn.iterdir()):
            txn.rmdir()
    return removed


def acid_compact(spark, table_dir: str) -> int:
    """OPTIMIZE: rewrite every bucket's file set into one file per bucket
    as a new snapshot with byte-identical data (incremental merges leave
    each touched bucket as a pile of small files; at scale every file is
    a task launch + footer read). One partitioned job: read all buckets
    with schema reconciliation, recompute bucket ids from the keys, one
    shuffle on __bucket, one write. Old snapshots stay readable until
    vacuumed. Returns the new version."""
    cur_v = acid_latest_version(table_dir)
    manifest = _acid_manifest(table_dir, cur_v)
    key_cols, n_buckets = manifest["key_cols"], manifest["n_buckets"]
    new_v = cur_v + 1
    data_dir = Path(table_dir) / "data" / f"txn-{new_v:05d}"
    rows = spark.read.option("mergeSchema", "true").parquet(
        *[str(Path(table_dir) / rel) for rel in manifest["buckets"].values()]
    ).withColumn("__bucket", _acid_bucket_col(key_cols, n_buckets))
    (
        rows.repartition("__bucket")
        .write.mode("errorifexists")
        .partitionBy("__bucket")
        .parquet(str(data_dir))
    )
    new_buckets = {
        p.name.split("=")[1]: str(p.relative_to(table_dir))
        for p in data_dir.glob("__bucket=*")
    }
    _acid_commit(
        table_dir,
        new_v,
        {
            "version": new_v,
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "buckets": new_buckets,
            "txns": dict(manifest["txns"]),
            "schema": rows.drop("__bucket").schema.json(),
        },
    )
    return new_v
