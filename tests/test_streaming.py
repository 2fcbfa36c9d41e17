"""Structured Streaming (ST1-ST5): batch==stream equivalence for windowed
aggregation, watermark config, stateful dedup, and exactly-once
availableNow file ingest. Uses the events fixture replayed through a temp
directory as the 'arriving files' source."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.streaming.events_stream import (
    read_events_stream,
    run_available_now,
    session_counts,
    stream_dedup,
    windowed_counts,
)


@pytest.fixture(scope="module")
def stream_src(spark, sf_dir, tmp_path_factory):
    """Events fixture split into two 'daily arrival' parquet files."""
    from uk_procurement_data_pipeline_spark.catalog import load

    d = tmp_path_factory.mktemp("stream_src")
    ev = load(spark, sf_dir, "events")  # handles the fixture's nanos ts
    a, b = ev.randomSplit([0.5, 0.5], seed=7)
    a.coalesce(1).write.parquet(str(d / "day1"))
    b.coalesce(1).write.parquet(str(d / "day2"))
    return d


def _read_all(spark, stream_src):
    return read_events_stream(spark, str(stream_src / "day*"))


def test_stream_windowed_counts_equal_batch(spark, stream_src, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_available_now(windowed_counts(_read_all(spark, stream_src)), out, ckpt)

    got = spark.read.parquet(out)
    batch = (
        spark.read.parquet(str(stream_src / "day*"))
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    # Append mode emits a window only once the watermark passes its end;
    # windows inside the final 10-minute horizon stay in state at stream
    # end. So: stream ⊆ batch, and the only batch windows missing from the
    # stream are those the watermark had not yet released.
    assert got.subtract(batch).count() == 0
    max_ts = spark.read.parquet(str(stream_src / "day*")).agg(F.max("ts")).first()[0]
    withheld = batch.subtract(got)
    assert withheld.count() < batch.count() * 0.01  # only the tail
    late_bound = [
        r
        for r in withheld.collect()
        if not (r["window_end"].timestamp() > max_ts.timestamp() - 600)
    ]
    assert late_bound == []


def test_stream_session_counts_schema_and_totals(spark, stream_src, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_available_now(session_counts(_read_all(spark, stream_src)), out, ckpt)
    got = spark.read.parquet(out)
    assert set(got.columns) == {"user_id", "session_start", "session_end", "n_events"}
    total = got.agg(F.sum("n_events")).first()[0]
    n_src = spark.read.parquet(str(stream_src / "day*")).count()
    # sessions still open inside the final watermark horizon stay in state
    assert 0.98 * n_src <= total <= n_src


def test_stream_dedup_drops_duplicate_event_ids(spark, tmp_path):
    src = tmp_path / "dup_src"
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (1, "2024-01-01 10:00:30", 1, "click", 1.0, "{}"),  # dup id within watermark
        (2, "2024-01-01 10:01:00", 1, "view", 2.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.parquet(str(src / "f1"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = read_events_stream(spark, str(src / "f*"))
    run_available_now(stream_dedup(stream), out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 2  # ST4: second event_id=1 dropped
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2]


def test_apply_in_pandas_with_state_running_counts(spark, stream_src):
    """Custom stateful operator (applyInPandasWithState): per-user running
    event count whose state survives micro-batch boundaries — one file per
    trigger forces multiple batches over the same keys."""
    from uk_procurement_data_pipeline_spark.streaming.events_stream import (
        EVENTS_DDL,
        running_user_counts,
    )

    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src / "day*"))
    )

    out = running_user_counts(stream)

    emitted: list = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: emitted.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # the LAST emission per user must equal the full batch count: state
    # accumulated across batches instead of resetting
    finals: dict = {}
    for r in emitted:
        finals[r["user_id"]] = r["n"]  # later batches overwrite
    batch = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(str(stream_src / "day*"))
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert finals == batch
    # multiple batches actually happened (else the state test is vacuous)
    assert len(emitted) > len(finals)


def test_available_now_is_exactly_once_per_file(spark, stream_src, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = _read_all(spark, stream_src)
    passthrough = stream.select("event_id")
    run_available_now(passthrough, out, ckpt)
    n1 = spark.read.parquet(out).count()
    # re-trigger with the same checkpoint: no files re-processed (ST5)
    run_available_now(passthrough, out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == spark.read.parquet(str(stream_src / "day*")).count()


def test_foreach_batch_merge_idempotent(spark, stream_src, tmp_path):
    """foreachBatch append-merge (ref 3_merge_to_two.py:41-57): batches land
    as batch_id partitions, replays of a committed batch are skipped, and a
    checkpointed re-trigger adds nothing."""
    from uk_procurement_data_pipeline_spark.streaming.events_stream import (
        run_foreach_batch_merge,
    )

    out, ckpt = str(tmp_path / "merged"), str(tmp_path / "ckpt")
    stream = _read_all(spark, stream_src).select("event_id", "event_type")
    run_foreach_batch_merge(stream, out, ckpt)

    merged = spark.read.parquet(out + "/batch_id=*")
    expect = spark.read.parquet(str(stream_src / "day*")).count()
    assert merged.count() == expect

    # re-trigger with the same checkpoint: sources are exhausted, target
    # unchanged — the merge is idempotent end-to-end
    run_foreach_batch_merge(stream, out, ckpt)
    assert spark.read.parquet(out + "/batch_id=*").count() == expect

    # simulate a recovery replay of an already-committed batch id: the
    # _SUCCESS marker short-circuits the write, so the duplicate delivery
    # changes nothing
    import os
    from uk_procurement_data_pipeline_spark.streaming.events_stream import (
        batch_merge_writer,
    )

    batch_dirs = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert batch_dirs, "no batch directories written"
    bid = int(batch_dirs[0].split("=")[1])
    one = spark.range(1).selectExpr("id AS event_id", "'dup' AS event_type")
    batch_merge_writer(out)(one, bid)
    assert spark.read.parquet(out + "/batch_id=*").count() == expect


def test_streaming_listener_records_progress(spark, stream_src, tmp_path):
    """E5 on streams: StreamingQueryListener accumulates per-batch input-row
    counts that reconcile exactly with the source."""
    from uk_procurement_data_pipeline_spark.streaming.events_stream import (
        ProgressRecorder,
        run_available_now,
    )

    rec = ProgressRecorder().attach(spark)
    try:
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        run_available_now(_read_all(spark, stream_src).select("event_id"), out, ckpt)
        # listener callbacks are async on the driver bus — wait for drain
        import time
        expect = spark.read.parquet(str(stream_src / "day*")).count()
        for _ in range(100):
            if rec.total_input_rows() >= expect and rec.terminated:
                break
            time.sleep(0.1)
        assert rec.total_input_rows() == expect
        assert rec.started and rec.terminated
        assert all(p["batch_id"] >= 0 for p in rec.progress)
    finally:
        rec.detach(spark)


def test_stream_stream_interval_join_equals_batch(spark, stream_src, tmp_path):
    """Stream-stream interval join (attribution shape): click events join
    the same user's view events from the preceding 10 minutes. The result
    of draining both streams must equal the identical batch join —
    inner interval joins emit rows as soon as both inputs arrive, so no
    tail-withholding carve-out is needed."""
    from uk_procurement_data_pipeline_spark.streaming.events_stream import (
        stream_stream_interval_join,
    )

    src = str(stream_src / "day*")
    clicks_s = read_events_stream(spark, src).where("event_type = 'click'")
    views_s = read_events_stream(spark, src).where("event_type = 'view'")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_available_now(stream_stream_interval_join(clicks_s, views_s), out, ckpt)
    got = spark.read.parquet(out)

    ev = spark.read.parquet(src)
    c = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    v = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    batch = c.join(
        v,
        F.expr(
            "c_user = v_user AND view_ts <= click_ts"
            " AND view_ts >= click_ts - INTERVAL 10 minutes"
        ),
    ).select("c_user", "click_id", "click_ts", "view_id", "view_ts")

    assert got.count() > 0
    assert got.subtract(batch).count() == 0
    assert batch.subtract(got).count() == 0


def test_events_replay_datasource_streams_all_rows_deterministically(
    spark, sf_dir, tmp_path
):
    """The Python streaming DataSource (events_replay) must deliver the
    parquet table exactly once across multiple micro-batches, in on-disk
    order, with row-position offsets."""
    import time

    from uk_procurement_data_pipeline_spark.sources.events_replay_stream import (
        EventsReplayDataSource,
    )

    spark.dataSource.register(EventsReplayDataSource)
    path = f"{sf_dir}/events.parquet"
    expected = spark.read.parquet(path)
    n = expected.count()
    batch_rows = 300  # forces ceil(n/300) >= 2 micro-batches at sf0.001

    stream = (
        spark.readStream.format("events_replay")
        .option("path", path)
        .option("batch_rows", str(batch_rows))
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("events_replay_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        got = 0
        while time.time() < deadline and got < n:
            got = spark.sql(
                "SELECT count(*) c FROM events_replay_test"
            ).collect()[0].c
            time.sleep(0.3)
    finally:
        q.stop()
    assert got == n  # every row exactly once, no duplicates appended
    replayed = spark.sql(
        "SELECT * FROM events_replay_test"
    ).orderBy("event_id").toPandas()
    want = expected.orderBy("event_id").toPandas()
    assert replayed.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_transform_with_state_gate_or_run(spark, stream_src):
    """transformWithStateInPandas (arbitrary-state v2) is env-gated on
    protobuf: without google.protobuf the wrapper must fail fast with
    actionable guidance naming the tested alternative; with it, the
    per-user profile must reconcile against a plain batch aggregate."""
    import pytest

    from uk_procurement_data_pipeline_spark.streaming.events_stream import (
        EVENTS_DDL,
        transform_with_state_user_profile,
    )

    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src / "day*"))
    )

    try:
        import google.protobuf  # noqa: F401
        has_pb = True
    except ImportError:
        has_pb = False
    if not has_pb:
        with pytest.raises(NotImplementedError, match="protobuf"):
            transform_with_state_user_profile(stream)
        return

    out = transform_with_state_user_profile(stream)
    emitted: list = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: emitted.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    finals = {}
    for r in emitted:  # update mode: last emission per key wins
        finals[r["user_id"]] = (r["n_events"], r["n_types"])
    batch = (
        spark.read.schema(EVENTS_DDL)
        .parquet(str(stream_src / "day*"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("event_type").alias("t"),
        )
        .collect()
    )
    assert finals == {r["user_id"]: (r["n"], r["t"]) for r in batch}


def test_foreach_batch_acid_upsert_exactly_once(spark, stream_src, tmp_path):
    """Streaming upsert into the ACID table (the Delta foreachBatch
    txnAppId/txnVersion pattern): each micro-batch MERGEs by event_id
    with txn_version=batch_id, so checkpoint re-triggers add nothing and
    a recovery replay of a committed batch is a ledger no-op."""
    from pathlib import Path

    from uk_procurement_data_pipeline_spark.sources.sinks import (
        acid_create,
        acid_latest_version,
        acid_merge_upsert,
        acid_read,
    )

    table = str(tmp_path / "acid_stream")
    ckpt = str(tmp_path / "ckpt")

    def upsert(batch_df, batch_id):
        if not Path(table, "_LATEST").exists():
            # empty v1: schema only, so every batch (incl. 0) goes
            # through the ledgered merge path
            acid_create(
                batch_df.limit(0), table, key_cols=["event_id"], n_buckets=4
            )
        acid_merge_upsert(
            batch_df.sparkSession,
            table,
            batch_df,
            app_id="evstream",
            txn_version=batch_id,
        )

    stream = _read_all(spark, stream_src).select("event_id", "event_type")
    q = stream.writeStream.foreachBatch(upsert).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination()

    expect = spark.read.parquet(str(stream_src / "day*")).count()
    assert acid_read(spark, table).count() == expect

    # checkpoint re-trigger: sources exhausted, nothing re-applied
    q = stream.writeStream.foreachBatch(upsert).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination()
    assert acid_read(spark, table).count() == expect

    # recovery replay of committed batch 0 with different payload: the
    # (app_id, txn_version) ledger short-circuits — nothing changes
    v = acid_latest_version(table)
    dup = spark.range(1).selectExpr("id + 9999999 AS event_id", "'dup' AS event_type")
    acid_merge_upsert(spark, table, dup, app_id="evstream", txn_version=0)
    assert acid_latest_version(table) == v
    assert acid_read(spark, table).count() == expect


def test_late_drop_windows_drop_accounting(spark, sf_dir):
    """The scrambled replay genuinely drops late rows: emitted window
    counts must sum to LESS than the row count (drops happened), every
    emitted window must be final (end <= max_ts - delay), and counts
    must never exceed the true per-window totals."""
    from uk_procurement_data_pipeline_spark.queries import registry

    rows = registry()["stream_late_drop_windows"].fn(spark, sf_dir).collect()
    assert rows
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "unix_micros(CAST(ts AS TIMESTAMP)) AS tsu"
    )
    n = ev.count()
    agg = ev.selectExpr(
        "tsu div 3600000000 * 3600000000 AS w", "tsu"
    ).groupBy("w")
    true_counts = {
        r["w"]: r["cnt"]
        for r in agg.agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    max_ts = ev.agg(F.max("tsu")).collect()[0][0]
    final_wm_ms = max_ts // 1000 - 2 * 3600 * 1000
    emitted_total = sum(r["n_events"] for r in rows)
    assert emitted_total < n  # late rows were actually dropped
    for r in rows:
        assert (r["w_start_us"] + 3600000000) // 1000 <= final_wm_ms
        assert 0 < r["n_events"] <= true_counts[r["w_start_us"]]


def test_replay_scramble_order_is_md5_permutation(spark, sf_dir):
    """order=scramble must serve rows in exactly the md5(event_id)
    permutation the oracle reconstructs in SQL — byte-identical batches
    are the contract that makes late-drop semantics oracle-checkable."""
    import hashlib

    import pyarrow.parquet as pq

    from uk_procurement_data_pipeline_spark.sources.events_replay_stream import (
        EventsReplayStreamReader,
    )

    path = f"{sf_dir}/events.parquet"
    r = EventsReplayStreamReader({"path": path, "order": "scramble"})
    t = pq.read_table(path)
    keys = t.column("event_id").to_pylist()
    perm = sorted(
        range(len(keys)),
        key=lambda i: (hashlib.md5(str(keys[i]).encode()).hexdigest(), i),
    )
    want_first = [keys[i] for i in perm[:50]]
    got, _ = r.read({"pos": 0})
    got_ids = [row[0] for row in list(got)[:50]]
    assert got_ids == want_first
    # disk order stays the default and untouched
    r2 = EventsReplayStreamReader({"path": path})
    got2, _ = r2.read({"pos": 0})
    assert [row[0] for row in list(got2)[:50]] == keys[:50]


# --- shared drain plumbing: session.scoped_conf and queries.events._drain --

_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def test_scoped_conf_restores_set_and_unset_keys_on_raise(spark):
    from uk_procurement_data_pipeline_spark.session import scoped_conf

    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert spark.conf.get(_PROVIDER, None) is None
    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(
            spark, {"spark.sql.shuffle.partitions": "3", _PROVIDER: _ROCKSDB}
        ):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
            assert spark.conf.get(_PROVIDER) == _ROCKSDB
            raise RuntimeError("body failed")
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    # absent before -> unset again, not pinned to the default class
    assert spark.conf.get(_PROVIDER, None) is None


@pytest.mark.parametrize(
    "end_offset, want",
    [
        ({"pos": 7}, 7),
        ({"cursor": 2000}, 2000),
        ("{'pos': 12}", 12),
        ("{'cursor': 1000}", 1000),
        ({"other": 3}, -1),
        ("no digits here", -1),
        (None, -1),
        (42, -1),
    ],
)
def test_offset_pos_shapes(end_offset, want):
    from uk_procurement_data_pipeline_spark.queries.events import _offset_pos

    assert _offset_pos(end_offset) == want


_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def test_drain_checkpoints_through_the_file_system_manager(
    spark, stream_src, monkeypatch
):
    """While a drain runs, its checkpoint goes through Spark's FileSystem
    checkpoint manager (no readlink fork per rename); afterwards the
    session's setting is back."""
    import tempfile

    from uk_procurement_data_pipeline_spark.queries import events

    seen, real_mkdtemp = [], tempfile.mkdtemp

    def mkdtemp(**kw):
        seen.append(spark.conf.get(_CKPT_MANAGER, None))
        return real_mkdtemp(**kw)

    monkeypatch.setattr(events.tempfile, "mkdtemp", mkdtemp)
    before = spark.conf.get(_CKPT_MANAGER, None)
    src = _read_all(spark, stream_src)
    out = events._drain(src, "drain_manager_probe", "append")
    assert out.count() == spark.read.parquet(str(stream_src / "day*")).count()
    assert seen == [events._DRAIN_CONFS[_CKPT_MANAGER]]
    assert seen[0].endswith(".FileSystemBasedCheckpointFileManager")
    assert spark.conf.get(_CKPT_MANAGER, None) == before


def test_file_system_manager_writes_the_same_checkpoint_files(
    spark, stream_src, tmp_path
):
    """A dedup stream checkpointed under Spark's default manager and under
    the FileSystem one leaves the same files (temp names aside), so the
    Hadoop .crc files and the checkpoint checksum files are still there."""
    from uk_procurement_data_pipeline_spark.queries.events import _DRAIN_CONFS
    from uk_procurement_data_pipeline_spark.session import scoped_conf

    def checkpoint_files(name, confs):
        ckpt = tmp_path / name / "ckpt"
        with scoped_conf(spark, confs):
            run_available_now(
                stream_dedup(_read_all(spark, stream_src)),
                str(tmp_path / name / "out"),
                str(ckpt),
            )
        return {
            str(p.relative_to(ckpt))
            for p in ckpt.rglob("*")
            if p.is_file() and ".tmp" not in p.name
        }

    default = checkpoint_files("default", {})
    fs = checkpoint_files("fs", {_CKPT_MANAGER: _DRAIN_CONFS[_CKPT_MANAGER]})
    assert fs == default
    names = {n.rsplit("/", 1)[-1] for n in fs}
    assert ".1.delta.crc" in names  # Hadoop's checksum of a state file
    assert "1.delta.crc" in names  # Spark's checkpoint file checksum


def test_drain_start_failure_leaves_session_unchanged(spark):
    """start() fails because a query named qname is already active: the
    shuffle width, checkpoint manager and state-store provider are
    restored, no new query is left running and the checkpoint dir is
    removed."""
    import glob
    import tempfile

    from uk_procurement_data_pipeline_spark.queries.events import _drain

    qname = "drain_start_failure_probe"

    def ckpt_dirs():
        roots = ("/dev/shm", tempfile.gettempdir())
        return {p for r in roots for p in glob.glob(f"{r}/{qname}_ckpt_*")}

    blocker = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("memory")
        .queryName(qname)
        .trigger(processingTime="10 seconds")
        .start()
    )
    try:
        width = spark.conf.get("spark.sql.shuffle.partitions")
        manager = spark.conf.get(_CKPT_MANAGER, None)
        provider = spark.conf.get(_PROVIDER, None)
        active = {q.id for q in spark.streams.active}
        dirs = ckpt_dirs()
        src = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        with pytest.raises(Exception, match=qname):
            _drain(src, qname, "append", rows=10, confs={_PROVIDER: _ROCKSDB})
        assert spark.conf.get("spark.sql.shuffle.partitions") == width
        assert spark.conf.get(_CKPT_MANAGER, None) == manager
        assert spark.conf.get(_PROVIDER, None) == provider
        assert {q.id for q in spark.streams.active} == active
        assert ckpt_dirs() == dirs
    finally:
        blocker.stop()


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _nanos_copy(spark, sf_dir, tmp_path):
    """A directory holding a copy of ``sf_dir``'s events with ts stored as
    TIMESTAMP(NANOS), a branch no shipped fixture exercises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from uk_procurement_data_pipeline_spark.catalog import probe_events_nanos

    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    # cast, then write: this pyarrow's coerce_timestamps has no "ns" option,
    # and format 2.6 stores a ns column as TIMESTAMP(NANOS) as-is
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    ts_ns = ev["ts"].cast(pa.timestamp("ns"))
    pq.write_table(
        ev.set_column(ev.schema.get_field_index("ts"), "ts", ts_ns),
        nanos_dir / "events.parquet",
        version="2.6",
    )
    assert probe_events_nanos(spark, str(nanos_dir / "events.parquet"))
    return nanos_dir


def test_batch_events_match_on_nanos_fixture(spark, sf_dir, tmp_path):
    """load_events and batch events queries read a TIMESTAMP(NANOS) copy of
    events to the same rows and schema as the µs fixture, and leave
    nanosAsLong as they found it."""
    from collections import Counter

    from uk_procurement_data_pipeline_spark.catalog import load
    from uk_procurement_data_pipeline_spark.queries import registry

    nanos_dir = str(_nanos_copy(spark, sf_dir, tmp_path))
    before = spark.conf.get(_NANOS_AS_LONG, None)
    reg = registry()
    reads = {
        name: reg[name].fn
        for name in (
            "events_tumbling_window",
            "events_sliding_window",
            "events_session_window",
            "events_range_frame_sum",
        )
    }
    reads["load_events"] = lambda spark, d: load(spark, d, "events")
    for name, fn in reads.items():
        want, got = fn(spark, sf_dir), fn(spark, nanos_dir)
        assert got.schema == want.schema, name
        assert Counter(got.collect()) == Counter(want.collect()), name
    assert spark.conf.get(_NANOS_AS_LONG, None) == before


def test_file_streams_match_on_nanos_fixture(spark, sf_dir, tmp_path):
    """The four availableNow file streams read a TIMESTAMP(NANOS) copy of
    events (ts declared long) to the same rows as the µs fixture, and
    leave nanosAsLong as they found it."""
    from uk_procurement_data_pipeline_spark.queries import registry

    nanos_dir = _nanos_copy(spark, sf_dir, tmp_path)
    before = spark.conf.get(_NANOS_AS_LONG, None)
    reg = registry()
    for name in (
        "stream_tumbling_counts",
        "stream_dedup_pairs",
        "stream_stateful_user_totals",
        "stream_static_enrich",
    ):
        want = sorted(reg[name].fn(spark, sf_dir).collect())
        got = sorted(reg[name].fn(spark, str(nanos_dir)).collect())
        assert got == want, name
        assert spark.conf.get(_NANOS_AS_LONG, None) == before, name


def _owners(path, match) -> set[str]:
    """``module.function`` for each top-level function of ``path`` whose
    body holds an AST node matching ``match`` (``module.None`` at module
    level)."""
    import ast

    out: set[str] = set()

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, owner or child.name)
                continue
            if match(child):
                out.add(f"{path.stem}.{owner}")
            visit(child, owner)

    visit(ast.parse(path.read_text()), None)
    return out


def test_conf_and_drain_idioms_stay_in_their_helpers():
    """Conf save/restore lives in session.scoped_conf, and the checkpoint
    dir and progress poll of a stream drain live in queries.events._drain."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "uk_procurement_data_pipeline_spark"

    def conf_write(n):
        return (
            isinstance(n, ast.Attribute)
            and n.attr in ("set", "unset")
            and isinstance(n.value, ast.Attribute)
            and n.value.attr == "conf"
        )

    def drain_plumbing(n):
        if isinstance(n, ast.Attribute):
            return n.attr in ("lastProgress", "mkdtemp")
        return isinstance(n, ast.Name) and n.id == "mkdtemp"

    conf_sites = set().union(*(_owners(p, conf_write) for p in pkg.rglob("*.py")))
    assert conf_sites == {"session.scoped_conf"}
    drain_sites = set().union(
        *(_owners(p, drain_plumbing) for p in (pkg / "queries").glob("*.py"))
    )
    assert drain_sites == {"events._drain"}


def test_constant_tables_stay_in_their_helper():
    """Under the package, a constant table is catalog.local_table: no
    other code calls ``createDataFrame(`` or ``parallelize(``, whose
    classic form is a PythonRDD that runs a Python-worker job per use."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "uk_procurement_data_pipeline_spark"

    def python_rdd(n):
        return isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and (
            n.func.attr in ("createDataFrame", "parallelize")
        )

    sites = set().union(*(_owners(p, python_rdd) for p in pkg.rglob("*.py")))
    assert sites <= {"catalog.local_table"}


def test_top_k_idioms_stay_in_their_helper():
    """A struct argmax (min/max over F.struct, min_by/max_by in any
    spelling) lives in topk.top_k_per_group, and similarity.py and
    retrieval.py keep only the row_number windows named here, each with
    its reason at the site."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "uk_procurement_data_pipeline_spark"

    def struct_argmax(n):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            return "min_by(" in n.value or "max_by(" in n.value
        if not isinstance(n, ast.Call) or not isinstance(n.func, ast.Attribute):
            return False
        if n.func.attr in ("min_by", "max_by"):
            return True
        return (
            n.func.attr in ("min", "max")
            and bool(n.args)
            and isinstance(n.args[0], ast.Call)
            and isinstance(n.args[0].func, ast.Attribute)
            and n.args[0].func.attr == "struct"
        )

    def row_number(n):
        return isinstance(n, ast.Attribute) and n.attr == "row_number"

    argmax_sites = set().union(*(_owners(p, struct_argmax) for p in pkg.rglob("*.py")))
    # golden_record_survivorship's max(struct) is one column of a wider
    # aggregate, and its oracle is the same struct MAX, not an ORDER BY.
    assert argmax_sites == {"topk.top_k_per_group", "dedup.golden_record_survivorship"}
    assert _owners(pkg / "queries" / "similarity.py", row_number) == {
        "similarity.opq_variance_balanced_pq",  # ranks the whole dim domain
    }
    assert _owners(pkg / "queries" / "retrieval.py", row_number) == {
        "retrieval.rake_keyphrases",  # gaps-and-islands pos - row_number
        "retrieval.mrr_retrieval_eval",  # first relevant rank can pass any k
        "retrieval.loso_source_influence",  # measured faster than the k = 1 reduction
    }


def test_global_rank_idioms_stay_in_their_helper():
    """The band-offset prefix join of a global rank (a left join to a
    broadcast band-size table on ``F.col(...) < F.col(...)`` or ``>``)
    lives in topk.global_rank, and ntile's bucket arithmetic (a floor of
    a division by ``s + 1``) in topk.ntile."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "uk_procurement_data_pipeline_spark"

    def is_call(n, attr):
        return isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == attr

    def col_order(n):
        return (
            isinstance(n, ast.Compare)
            and isinstance(n.ops[0], (ast.Lt, ast.Gt))
            and is_call(n.left, "col")
            and is_call(n.comparators[0], "col")
        )

    def prefix_join(n):
        if not is_call(n, "join") or len(n.args) < 2 or not is_call(n.args[0], "broadcast"):
            return False
        how = [*n.args[2:3], *(k.value for k in n.keywords if k.arg == "how")]
        left = any(isinstance(h, ast.Constant) and h.value == "left" for h in how)
        return left and any(col_order(c) for c in ast.walk(n.args[1]))

    def ntile_arithmetic(n):
        return (
            is_call(n, "floor")
            and bool(n.args)
            and isinstance(n.args[0], ast.BinOp)
            and isinstance(n.args[0].op, ast.Div)
            and isinstance(n.args[0].right, ast.BinOp)
            and isinstance(n.args[0].right.op, ast.Add)
            and isinstance(n.args[0].right.right, ast.Constant)
            and n.args[0].right.right.value == 1
        )

    modules = list(pkg.rglob("*.py"))
    assert set().union(*(_owners(p, prefix_join) for p in modules)) == {"topk.global_rank"}
    assert set().union(*(_owners(p, ntile_arithmetic) for p in modules)) == {"topk.ntile"}


def test_vector_algebra_stays_in_vec():
    """The dot-product, squared-L2 and nearest-centroid folds, Spark and
    DuckDB, are spelled only in functions/vec.py, no _*DOT/_*SQD template
    is defined anywhere, and no Spark cosine divides a vec.dot by hand:
    vec.cosine owns the zero-norm contract."""
    import ast
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "uk_procurement_data_pipeline_spark"
    fold = re.compile(
        # Spark zip_with lambdas: elementwise product, squared difference
        r"\((\w+), (\w+)\) -> (CAST\(\1 AS DOUBLE\) \* CAST\(\2 AS DOUBLE\)"
        r"|\1 \* \2|\(\1 - \2\) \* \(\1 - \2\))"
        r"|list_reduce\(list_transform\(generate_series\(1, len\([^)]*\)\),"
        r" i -> (CAST\([^]]*\[i\] AS DOUBLE\) \* CAST|\([^]]*\[i\] - [^]]*\[i\]\) \* \()"
        r"|named_struct\('d2', CAST\('Infinity' AS DOUBLE\)"  # nearest-centroid argmin
    )

    def text(n):  # a string literal with each f-string field as {}
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            return n.value
        if isinstance(n, ast.JoinedStr):
            return "".join(text(v) if isinstance(v, ast.Constant) else "{}" for v in n.values)
        return ""

    def fold_spelling(n):
        return bool(fold.search(re.sub(r"\s+", " ", text(n))))

    def is_dot(n):
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "expr":
            n = n.args[0] if n.args else None
        return isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id == "dot"

    def hand_cosine(n):
        if isinstance(n, ast.BinOp) and isinstance(n.op, ast.Div):
            return is_dot(n.left)
        if isinstance(n, ast.JoinedStr):
            return any(
                isinstance(v, ast.FormattedValue) and is_dot(v.value)
                and text(n.values[i + 1]).lstrip().startswith("/")
                for i, v in enumerate(n.values[:-1])
            )
        return False

    modules = list(pkg.rglob("*.py"))
    assert set().union(*(_owners(p, fold_spelling) for p in modules)) == {
        "vec.dot", "vec.sqd", "vec.nearest", "vec.duck_dot", "vec.duck_sqd",
    }
    names = {
        n.id if isinstance(n, ast.Name) else n.name
        for p in modules for n in ast.walk(ast.parse(p.read_text()))
        if isinstance(n, (ast.Name, ast.FunctionDef, ast.ClassDef))
    }
    assert {x for x in names if re.fullmatch(r"_\w*(DOT|SQD)", x)} == set()
    assert set().union(*(_owners(p, hand_cosine) for p in modules)) == set()
