"""Event-time windowing over the ``events`` stream fixture (SURVEY.md
§2.10 ST1-ST2 in batch mode, §2.9 F12-F15 date functions).

The reference's notion of streaming is a calendar-day incremental loop
(2b_extract_find_a_tender_XMLs.py:502-509); its Spark translation is
event-time windows. ``window()`` / ``session_window()`` are identical in
batch and streaming mode, so these queries are oracle-checked in batch and
re-used verbatim by the streaming tests (tests/test_streaming.py) under
``readStream`` + ``trigger(availableNow=True)`` with watermarks.

Window starts/ends are emitted as explicit columns (DuckDB ``time_bucket``
aligns to the same epoch origin as Spark's tumbling windows).
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load, probe_events_nanos
from uk_procurement_data_pipeline_spark.functions.exact import exact_sum, oracle_sum
from uk_procurement_data_pipeline_spark.queries.base import register
from uk_procurement_data_pipeline_spark.session import scoped_conf
from uk_procurement_data_pipeline_spark.streaming.events_stream import EVENTS_DDL


def _parquet_num_rows(path: str) -> int:
    """Row count of a parquet FILE or DIRECTORY of part files.

    A 100 TB events table is a directory of parts (and that is what the
    scale-stress replica writes); pq.read_metadata only accepts single
    files, which the k=5 full-registry sweep caught on all three replay
    streaming queries.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.read_metadata(p).num_rows
            for p in glob.glob(os.path.join(path, "*.parquet"))
        )
    return pq.read_metadata(path).num_rows


def _progress_wm_ms(lp) -> int:
    """Watermark from a StreamingQueryProgress row, as exact epoch ms.

    Read by the ``_drain`` poll when it waits for a final watermark
    (stream_session_ttl_close, stream_late_drop_windows). Derived with
    integer timedelta division — ``datetime.timestamp() * 1000`` can
    truncate 1 ms from float rounding, and a 1 ms-short reading on the
    FINAL watermark would leave the drain condition unsatisfiable (240 s
    TimeoutError).
    """
    import datetime as _dt

    iso = (lp.get("eventTime") or {}).get("watermark") if lp else None
    if not iso:
        return -1
    dt = _dt.datetime.fromisoformat(iso.replace("Z", "+00:00"))
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (dt - epoch) // _dt.timedelta(milliseconds=1)


def _offset_pos(eo) -> int:
    """Row position or page cursor from a source's ``endOffset``, else -1.

    The Python sources report ``{'pos': N}`` / ``{'cursor': N}`` either as
    a dict or as its str() form (single quotes, not JSON). Any other shape
    reads as -1 so the drain poll falls through to the next progress row
    (and ultimately the TimeoutError) instead of raising mid-poll.
    """
    if isinstance(eo, dict):
        pos = eo.get("pos", eo.get("cursor"))
        return int(pos) if pos is not None else -1
    if isinstance(eo, str):
        m = re.search(r"-?\d+", eo)
        return int(m.group()) if m else -1
    return -1


def _drain(
    df: DataFrame,
    qname: str,
    mode: str,
    *,
    rows: int | None = None,
    watermark_ms: int | None = None,
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run the streaming ``df`` into the memory table ``qname`` and return it.

    The streaming specs run 1-12 micro-batches of a few thousand rows, so
    the session's 32 shuffle partitions would be ~all task-launch overhead
    per batch; 8 still exercises multi-partition state sharding. That width
    and any extra ``confs`` hold for the whole run and are restored even
    when ``start()`` fails. The checkpoint (offset/commit log and state
    snapshots, fsynced every batch) goes to tmpfs when available: per-batch
    latency is commit IO at these sizes. A fresh dir per run keeps a replay
    deterministic (a stale checkpoint would resume offsets and skip data).

    ``rows=None`` drains a file source with ``trigger(availableNow)``.
    Otherwise the source is a Python stream reader, whose simple-reader
    wrapper only snapshots the next prefetched slice under availableNow,
    so the run uses a processingTime trigger and polls ``lastProgress``
    until every source's end offset reaches ``rows``. A progress row is
    published only after its batch commits. With ``watermark_ms`` the poll
    also waits for a row whose watermark reaches it: the trailing no-data
    batch that fires final timers or flushes final windows then commits
    before ``stop()`` instead of racing it.
    """
    spark = df.sparkSession
    ckpt_root = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8", **(confs or {})}):
        ckpt = tempfile.mkdtemp(prefix=f"{qname}_ckpt_", dir=ckpt_root)
        q = None
        try:
            writer = (
                df.writeStream.format("memory")
                .queryName(qname)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
            )
            if rows is None:
                q = writer.trigger(availableNow=True).start()
                q.awaitTermination()
            else:
                q = writer.trigger(processingTime="0 seconds").start()
                deadline = time.time() + 240
                drained = False
                while time.time() < deadline:
                    lp = q.lastProgress
                    drained = drained or bool(
                        lp
                        and lp["sources"]
                        and all(
                            _offset_pos(s.get("endOffset")) >= rows
                            for s in lp["sources"]
                        )
                    )
                    if drained and (
                        watermark_ms is None or _progress_wm_ms(lp) >= watermark_ms
                    ):
                        break
                    time.sleep(0.1)
                else:
                    raise TimeoutError(
                        f"stream {qname} did not drain {rows} rows "
                        f"(watermark target {watermark_ms} ms) in 240s"
                    )
        finally:
            if q is not None:
                q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname)


def _final_watermark_ms(path: str, delay_us: int) -> int:
    """The watermark a replay of ``path`` ends on: max(ts) - delay in
    Spark's ms arithmetic, read from the parquet file without a job."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ts = pq.read_table(path, columns=["ts"], memory_map=True)["ts"]
    return pc.max(ts).cast(pa.timestamp("us")).value // 1000 - delay_us // 1000


def _events_stream(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, dict]:
    """File stream over ``sf_dir``'s events parquet, plus the confs its run
    needs (pass them to ``_drain``).

    The fixture's ts has been TIMESTAMP(MICROS) or TIMESTAMP(NANOS) across
    driver rounds. A nanos file is read with ts declared as long, under the
    nanosAsLong lowering held for the whole drain, and truncated ns -> µs
    exactly as ``catalog.load_events`` does. The probe re-raises non-nanos
    failures (missing or corrupt file).
    """
    nanos = probe_events_nanos(spark, f"{sf_dir}/events.parquet")
    ddl = EVENTS_DDL.replace("ts timestamp", "ts long") if nanos else EVENTS_DDL
    src = spark.readStream.schema(ddl).parquet(f"{sf_dir}/events*.parquet")
    if not nanos:
        return src, {}
    return (
        src.withColumn("ts", F.expr("timestamp_micros(ts div 1000)")),
        {"spark.sql.legacy.parquet.nanosAsLong": "true"},
    )


@register(
    name="events_tumbling_window",
    survey="ST1 A7 F15",
    doc="Tumbling 10-minute event-time window aggregation (batch form; the "
    "streaming form is the same expression behind a watermark).",
    oracle=f"""
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
                   AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {oracle_sum('value')} AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value", "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    name="events_sliding_window",
    survey="ST1 A7",
    doc="Sliding window (10 min length, 5 min slide): each event lands in "
    "two windows; oracle is the union of the two tumbling phases.",
    oracle="""
        WITH phases AS (
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, value
            FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL '10 minutes', ts, INTERVAL '5 minutes')
                       AS window_start, value
            FROM events)
        SELECT window_start,
               window_start + INTERVAL '10 minutes' AS window_end,
               COUNT(*) AS n_events
        FROM phases
        GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
        )
    )


@register(
    name="stream_tumbling_counts",
    survey="ST1 ST5 A7 F15 F16",
    eager=True,
    doc="The tumbling-window aggregation executed AS A STREAM: readStream "
    "over the events parquet, complete-mode windowed count+exact-sum, "
    "drained with trigger(availableNow) into a memory sink, returning the "
    "final table. Complete mode recomputes the full result at the last "
    "trigger, so the answer is batch-identical and deterministic no matter "
    "how the source was split into micro-batches — which makes this the "
    "registry's fully oracle-checked STRUCTURED STREAMING row (the "
    "append-mode watermark variants stay in tests/test_streaming.py, "
    "where their withheld-tail semantics are pinned).",
    oracle=f"""
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
                   AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {oracle_sum('value')} AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib

    qname = f"stream_tumbling_{zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF:08x}"
    src, confs = _events_stream(spark, sf_dir)
    win = (
        src.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _drain(win, qname, "complete", confs=confs)


@register(
    name="events_session_window",
    survey="ST2 W2 A7",
    doc="Session windows per user with a 5-minute gap (batch form). Oracle "
    "is the classic gaps-and-islands rewrite; Spark's session end is "
    "last-event + gap.",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL '5 minutes'
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events),
        sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged)
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '5 minutes' AS session_end,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    name="monthly_event_calendar",
    survey="F13 F12 F15 J7 A7",
    doc="Month-sequence generator (ref 2a:153-161 month_sequence) left-joined "
    "with per-month event counts: explode(sequence(...)), date_format month "
    "names (ref 1b:19-32 MONTH_NAMES), zero-filled months.",
    oracle="""
        WITH months AS (
            SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-12-01',
                                          INTERVAL 1 MONTH)) AS month_start),
        per_month AS (
            SELECT date_trunc('month', ts) AS m, COUNT(*) AS n
            FROM events GROUP BY 1)
        SELECT strftime(month_start, '%Y-%m-%d') AS month_start,
               monthname(month_start) AS month_name,
               EXTRACT(year FROM month_start) AS year,
               EXTRACT(month FROM month_start) AS month,
               COALESCE(n, 0) AS n_events
        FROM months LEFT JOIN per_month ON CAST(month_start AS TIMESTAMP) = m
    """,
)
def monthly_event_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    months = load(spark, sf_dir, "region").limit(1).selectExpr(  # 1-row seed
        "explode(sequence(DATE '2024-01-01', DATE '2024-12-01', INTERVAL 1 MONTH))"
        " AS month_start"
    )
    per_month = ev.groupBy(F.date_trunc("month", "ts").alias("m")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        months.join(per_month, months.month_start.cast("timestamp") == per_month.m, "left")
        .select(
            F.date_format("month_start", "yyyy-MM-dd").alias("month_start"),
            F.date_format("month_start", "MMMM").alias("month_name"),
            F.year("month_start").cast("long").alias("year"),
            F.month("month_start").cast("long").alias("month"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


@register(
    name="daily_activity_gaps",
    survey="F14 F15 F16 A7 J7",
    doc="Day-sequence generator (the reference's daily loop 2b:502-509 as "
    "data): explode(sequence(min_day, max_day, 1 day)) x per-day counts, "
    "surfacing zero-activity days.",
    oracle="""
        WITH bounds AS (
            SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
            FROM events),
        days AS (
            SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM bounds),
        per_day AS (
            SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1)
        SELECT strftime(days.day, '%Y-%m-%d') AS day,
               COALESCE(n, 0) AS n_events,
               COALESCE(n_users, 0) AS n_users
        FROM days LEFT JOIN per_day ON days.day = CAST(per_day.day AS DATE)
    """,
)
def daily_activity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    days = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    ).selectExpr("explode(sequence(d0, d1, INTERVAL 1 DAY)) AS day")
    per_day = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users")
    )
    return (
        days.join(per_day, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
        )
    )


@register(
    name="events_range_frame_sum",
    survey="W3 F16 A7",
    doc="Event-time RANGE window frame (the time-based sibling of the "
    "row-count moving frames): per user, the exact-decimal sum of event "
    "values in the trailing 10 minutes of EVENT TIME — frame bounds in "
    "microseconds over unix_micros(ts), so Spark's numeric rangeBetween "
    "and DuckDB's INTERVAL RANGE frame select the identical row sets "
    "even at sub-second timestamps. One window shuffle on user_id.",
    oracle="""
        SELECT event_id, user_id, ts,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38,8)))
                   OVER (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL '10 minutes' PRECEDING
                         AND CURRENT ROW), 4) AS DOUBLE) AS trailing_sum
        FROM events
    """,
)
def events_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from uk_procurement_data_pipeline_spark.functions.exact import dec

    # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP. The session is
    # pinned UTC, so the NTZ -> TZ cast is a fixed-offset epoch mapping and
    # microsecond DIFFERENCES (what the frame bound compares) are exact.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-600_000_000, 0)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum(dec(F.col("value"))).over(w), 4)
        .cast("double")
        .alias("trailing_sum"),
    )


@register(
    name="event_type_value_chi2",
    survey="A7 J5 F28",
    doc="Chi-squared independence test between event type and value band "
    "(the distributed contingency-table analysis behind drift detection "
    "and feature selection): observed counts per (type, band) cell, "
    "expected counts from broadcast row/column marginals, per-cell "
    "contribution, and the chi2 statistic as an exact-decimal window "
    "sum over the (tiny) cell table — the only big shuffle is the "
    "initial count aggregation; everything after runs on "
    "cells-not-rows.",
    oracle="""
        WITH cells AS (
            SELECT event_type,
                   CASE WHEN value < 50.0 THEN 'low' ELSE 'high' END AS band,
                   CAST(count(*) AS BIGINT) AS observed
            FROM events GROUP BY 1, 2),
        rowt AS (SELECT event_type, sum(observed) AS rt FROM cells GROUP BY 1),
        colt AS (SELECT band, sum(observed) AS ct FROM cells GROUP BY 1),
        tot AS (SELECT sum(observed) AS n FROM cells),
        e AS (
            SELECT c.event_type, c.band, c.observed,
                   CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE)
                       / CAST(x.n AS DOUBLE) AS expected
            FROM cells c
            JOIN rowt r ON c.event_type = r.event_type
            JOIN colt t ON c.band = t.band
            CROSS JOIN tot x),
        terms AS (
            SELECT event_type, band, observed, expected,
                   (CAST(observed AS DOUBLE) - expected)
                       * (CAST(observed AS DOUBLE) - expected) / expected
                       AS term
            FROM e)
        SELECT event_type, band, observed, expected, term,
               CAST(ROUND(SUM(CAST(term AS DECIMAL(38,8))) OVER (), 4)
                    AS DOUBLE) AS chi2
        FROM terms
    """,
)
def event_type_value_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from uk_procurement_data_pipeline_spark.functions.exact import dec

    cells = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.when(F.col("value") < 50.0, "low").otherwise("high").alias("band"),
        )
        .groupBy("event_type", "band")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    rowt = cells.groupBy("event_type").agg(F.sum("observed").alias("rt"))
    colt = cells.groupBy("band").agg(F.sum("observed").alias("ct"))
    tot = cells.agg(F.sum("observed").alias("n")).withColumn("k", F.lit(1))
    e = (
        cells.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "band")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(tot), "k")
        .select(
            "event_type",
            "band",
            "observed",
            (
                F.col("rt").cast("double")
                * F.col("ct").cast("double")
                / F.col("n").cast("double")
            ).alias("expected"),
        )
    )
    terms = e.withColumn(
        "term",
        (F.col("observed").cast("double") - F.col("expected"))
        * (F.col("observed").cast("double") - F.col("expected"))
        / F.col("expected"),
    )
    w = Window.partitionBy()
    return terms.select(
        "event_type",
        "band",
        "observed",
        "expected",
        "term",
        F.round(F.sum(dec(F.col("term"))).over(w), 4).cast("double").alias("chi2"),
    )


@register(
    name="value_outliers_iqr",
    survey="A7 J5 F28",
    doc="IQR outlier detection per event type (the data-quality fence "
    "before any aggregate is trusted): exact p25/p75 computed on "
    "integer cents — quantile interpolation on BIGINTs is the engine-"
    "portable contract; doubles would expose each engine's formula "
    "association in the last bit — then 1.5*IQR fences in fixed-order "
    "double math and a broadcast join back to count outliers. Two "
    "aggregation shuffles; the fence table is rows-per-type, so the "
    "flagging pass is map-side at any scale.",
    oracle="""
        WITH cents AS (
            SELECT event_type,
                   CAST(round(value * 100.0) AS BIGINT) AS vc
            FROM events),
        fences AS (
            SELECT event_type,
                   quantile_cont(vc, 0.25) AS q1,
                   quantile_cont(vc, 0.75) AS q3
            FROM cents GROUP BY event_type)
        SELECT c.event_type,
               f.q1, f.q3,
               f.q1 - 1.5 * (f.q3 - f.q1) AS lo,
               f.q3 + 1.5 * (f.q3 - f.q1) AS hi,
               count(*) AS n_events,
               CAST(sum(CASE WHEN CAST(c.vc AS DOUBLE)
                                  < f.q1 - 1.5 * (f.q3 - f.q1)
                             OR CAST(c.vc AS DOUBLE)
                                  > f.q3 + 1.5 * (f.q3 - f.q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM cents c JOIN fences f USING (event_type)
        GROUP BY c.event_type, f.q1, f.q3
    """,
)
def value_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100.0).cast("bigint").alias("vc"),
    )
    fences = cents.groupBy("event_type").agg(
        F.expr("percentile(vc, 0.25)").alias("q1"),
        F.expr("percentile(vc, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        cents.join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    (F.col("vc").cast("double") < lo)
                    | (F.col("vc").cast("double") > hi),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "q1",
            "q3",
            lo.alias("lo"),
            hi.alias("hi"),
            "n_events",
            "n_outliers",
        )
    )


@register(
    name="value_trend_per_user",
    survey="A7 W2 F16",
    doc="Per-entity least-squares trend (drift per user over event time): "
    "slope and intercept from five order-independent decimal sums per "
    "user, with event time rebased to DAYS since the user's first "
    "event — rebasing alone is not enough: with minutes, the scale-4 "
    "scaled integer of sum(x*x) passes 2^53 at sf0.1 and the "
    "decimal->double cast double-rounds differently per engine "
    "(functions/exact.py docstring); day units keep every moment "
    "orders of magnitude inside the exact window at 100x the data — "
    "the same algebraic-moments pattern as "
    "lineitem_stats_corr, keyed on a high-cardinality entity. One "
    "window pass for the rebase, one hash-agg shuffle for the sums.",
    oracle="""
        WITH rebased AS (
            SELECT user_id, value,
                   CAST(epoch_us(ts)
                        - min(epoch_us(ts)) OVER (PARTITION BY user_id)
                        AS DOUBLE) / 86400000000.0 AS x
            FROM events),
        sums AS (
            SELECT user_id,
                   COUNT(*) AS n_events,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(ROUND(SUM(CAST(x AS DECIMAL(38,8))), 4) AS DOUBLE) AS sx,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(38,8))), 4) AS DOUBLE)
                       AS sy,
                   CAST(ROUND(SUM(CAST(x * x AS DECIMAL(38,8))), 4) AS DOUBLE)
                       AS sxx,
                   CAST(ROUND(SUM(CAST(x * value AS DECIMAL(38,8))), 4)
                        AS DOUBLE) AS sxy
            FROM rebased GROUP BY user_id)
        SELECT user_id, n_events,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                   AS intercept
        FROM sums WHERE n_events >= 2 AND n * sxx - sx * sx <> 0.0
    """,
)
def value_trend_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from uk_procurement_data_pipeline_spark.functions.exact import dec

    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    rebased = load(spark, sf_dir, "events").select(
        "user_id",
        "value",
        (
            (
                micros
                - F.min(micros).over(Window.partitionBy("user_id"))
            ).cast("double")
            / 86400000000.0
        ).alias("x"),
    )
    sums = rebased.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum(dec(F.col("x"))), 4).cast("double").alias("sx"),
        F.round(F.sum(dec(F.col("value"))), 4).cast("double").alias("sy"),
        F.round(F.sum(dec(F.col("x") * F.col("x"))), 4)
        .cast("double")
        .alias("sxx"),
        F.round(F.sum(dec(F.col("x") * F.col("value"))), 4)
        .cast("double")
        .alias("sxy"),
    )
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return (
        sums.where(
            (F.col("n_events") >= 2)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0.0)
        )
        .select(
            "user_id",
            "n_events",
            slope.alias("slope"),
            ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        )
    )


@register(
    name="events_interval_join_attribution",
    survey="J8 ST3 A7",
    doc="Batch analog of the watermarked stream-stream interval join "
    "(streaming/events_stream.py:114 — X13): every 'click' event joins "
    "the 'view' events of the SAME user whose event time falls within "
    "the hour before it, then aggregates per click (view count + "
    "nearest-view lag in microseconds). Identical join predicate to the "
    "streaming form, so the state-eviction test and this oracle row "
    "together pin both halves: semantics here, eviction there. Plan "
    "shape: equi-join on user_id with the time bound as a join-level "
    "range filter — a shuffled hash/SMJ keyed on user_id, never a "
    "cross-product; at 100 TB both sides shard by user.",
    oracle="""
        WITH c AS (
            SELECT event_id AS click_id, user_id, ts AS click_ts
            FROM events WHERE event_type = 'click'),
        v AS (
            SELECT user_id, ts AS view_ts
            FROM events WHERE event_type = 'view')
        SELECT c.click_id,
               c.user_id,
               c.click_ts,
               count(v.view_ts) AS n_views,
               min(date_diff('microsecond', v.view_ts, c.click_ts))
                   AS nearest_view_lag_us
        FROM c LEFT JOIN v
          ON c.user_id = v.user_id
         AND v.view_ts <= c.click_ts
         AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
        GROUP BY c.click_id, c.user_id, c.click_ts
    """,
)
def events_interval_join_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    joined = c.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy("click_id", "user_id", "click_ts").agg(
        F.count("view_ts").alias("n_views"),
        # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP. Both sides cast
        # with the same session offset, so the difference is exact.
        F.min(
            F.unix_micros(F.col("click_ts").cast("timestamp"))
            - F.unix_micros(F.col("view_ts").cast("timestamp"))
        ).alias("nearest_view_lag_us"),
    )


@register(
    name="value_outliers_mad",
    survey="A7 J5 F28",
    doc="Robust outlier detection via median absolute deviation (the "
    "heavy-tail-safe complement to the IQR fences in value_outliers_iqr: "
    "MAD's 50% breakdown point survives corpora where whole sources are "
    "junk): per event type, median value -> median of |value - median| "
    "-> flag events beyond 3 * 1.4826 * MAD. Two grouped exact "
    "percentiles plus one broadcast join back of the tiny per-type "
    "stats row; both engines share the (n-1)*p interpolation contract "
    "and the identical flag expression, so counts match exactly.",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type),
        dev AS (
            SELECT e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS adev
            FROM events e JOIN med m ON e.event_type = m.event_type),
        mad AS (
            SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type)
        SELECT d.event_type,
               COUNT(*) AS n_events,
               min(d.med) AS med,
               min(m.mad) AS mad,
               CAST(sum(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m ON d.event_type = m.event_type
        GROUP BY d.event_type
    """,
)
def value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > 3.0 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


@register(
    name="stream_dedup_pairs",
    survey="ST4 ST5 A8",
    eager=True,
    doc="Stateful streaming deduplication executed AS A STREAM (the "
    "registry-certified ST4 row; the watermarked eviction variant stays "
    "in tests/test_streaming.py): readStream over the events parquet, "
    "dropDuplicates on (user_id, event_type), append-mode memory sink "
    "drained with trigger(availableNow). Only the KEY columns are "
    "projected, so the result — the distinct key set — is deterministic "
    "no matter how the source splits into micro-batches or which "
    "arrival order wins inside a batch; the driver hash-checks it "
    "against a plain DISTINCT. State is one entry per live key, sharded "
    "by the dedup shuffle exactly as at cluster scale.",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib

    qname = f"stream_dedup_{zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF:08x}"
    src, confs = _events_stream(spark, sf_dir)
    deduped = src.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _drain(deduped, qname, "append", confs=confs)


_EWMA_ALPHA = 0.2

# Per-event decayed contribution in micro units. EWMA with init = first
# value: y_N = (1-a)^(N-1) x_1 + sum_{i>=2} a (1-a)^(N-i) x_i. Quantized
# BEFORE summation (floor(w*x*1e6 + 0.5) as BIGINT) so the per-user total
# is an exact bigint sum — power() may differ in the last ulp between
# engines, but a flip needs that ulp to cross a 1e-6 boundary.
_EWMA_TERM_MICRO = f"""
    CAST(floor(
        (CASE WHEN i = 1 THEN power({1.0 - _EWMA_ALPHA!r}, n_ev - 1)
              ELSE {_EWMA_ALPHA!r} * power({1.0 - _EWMA_ALPHA!r}, n_ev - i)
         END) * value * 1000000 + 0.5) AS BIGINT)
"""


@register(
    name="ewma_user_value",
    survey="W1 W2 A7 F15",
    doc="Exponentially-weighted moving average of each user's event value "
    "(time-decayed user state, the feature-engineering form of a "
    "recursive stream accumulator): the recurrence unrolls to a "
    "closed-form weighted sum, so ONE window shuffle on user_id "
    "(row_number + count over the same partition spec) and one hash "
    "agg produce the final EWMA — no iteration, no state store. "
    "Per-term decay weights are micro-quantized before the exact "
    "bigint sum (the tfidf.py ln() contract, applied to power()).",
    oracle=f"""
        WITH ordered AS (
            SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS i,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_ev
            FROM events WHERE value IS NOT NULL)
        SELECT user_id,
               CAST(MAX(n_ev) AS BIGINT) AS n_events,
               CAST(SUM({_EWMA_TERM_MICRO}) AS BIGINT) AS ewma_micro
        FROM ordered
        GROUP BY user_id
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_all = Window.partitionBy("user_id")
    ordered = ev.select(
        "user_id",
        "value",
        F.row_number().over(w_order).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n_ev"),
    )
    return ordered.groupBy("user_id").agg(
        F.max("n_ev").cast("bigint").alias("n_events"),
        F.sum(F.expr(_EWMA_TERM_MICRO)).cast("bigint").alias("ewma_micro"),
    )


@register(
    name="hourly_baseline_outliers",
    survey="A7 J5 F15 F28",
    doc="Seasonal-baseline anomaly detection: each event is z-scored "
    "against the mean/std of ITS OWN hour-of-day (24-row baseline from "
    "exact decimal sums — sum at scale 4, sum-of-squares at scale 2 "
    "per the exact.py scale-budget rule — then identical double "
    "algebra in both engines; sqrt is IEEE-exact so z compares "
    "bit-stably). Baselines broadcast back onto the scan; output is "
    "the |z| > 3 events. The grouped-stats-join-back shape that "
    "seasonal monitoring runs at any scale: one agg shuffle over a "
    "bounded key domain, one map-side join.",
    oracle="""
        WITH base AS (
            SELECT date_part('hour', ts) AS hr,
                   COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(38,8))), 4)
                        AS DOUBLE) AS s,
                   CAST(ROUND(SUM(CAST((value * value) AS DECIMAL(38,8))), 2)
                        AS DOUBLE) AS sq
            FROM events WHERE value IS NOT NULL
            GROUP BY date_part('hour', ts)),
        scored AS (
            SELECT e.event_id, date_part('hour', e.ts) AS hr, e.value,
                   (e.value - b.s / CAST(b.n AS DOUBLE))
                   / sqrt((CAST(b.n AS DOUBLE) * b.sq - b.s * b.s)
                          / (CAST(b.n AS DOUBLE)
                             * (CAST(b.n AS DOUBLE) - 1.0))) AS z
            FROM events e JOIN base b ON date_part('hour', e.ts) = b.hr
            WHERE e.value IS NOT NULL)
        SELECT event_id, hr, value, z
        FROM scored WHERE abs(z) > 3.0
    """,
)
def hourly_baseline_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import dec

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_id", F.hour("ts").alias("hr"), "value")
    )
    base = ev.groupBy("hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(dec("value")), 4).cast("double").alias("s"),
        F.round(F.sum(dec(F.col("value") * F.col("value"))), 2)
        .cast("double")
        .alias("sq"),
    )
    nn = F.col("n").cast("double")
    mean = F.col("s") / nn
    std = F.sqrt((nn * F.col("sq") - F.col("s") * F.col("s")) / (nn * (nn - F.lit(1.0))))
    return (
        ev.join(F.broadcast(base), "hr")
        .select(
            "event_id", "hr", "value", ((F.col("value") - mean) / std).alias("z")
        )
        .where(F.abs(F.col("z")) > 3.0)
    )


@register(
    name="markov_transition_matrix",
    survey="W2 A7 F15 ST2-pattern",
    doc="First-order Markov transition model over per-user event "
    "sequences: lag(event_type) within each user's (ts, event_id)-"
    "ordered stream, transition counts by (prev, next), and row-"
    "normalized probabilities. The lag shuffles once on user_id; the "
    "normalizing window runs on the (prev, next) CONTINGENCY table — "
    "a bounded event-type domain, never row-sized data.",
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events
        ), t AS (
          SELECT prev, event_type AS next, count(*) AS n_trans
          FROM seq WHERE prev IS NOT NULL
          GROUP BY prev, event_type)
        SELECT prev, next, CAST(n_trans AS BIGINT) AS n_trans,
               CAST(SUM(n_trans) OVER (PARTITION BY prev) AS BIGINT)
                   AS total_from,
               CAST(n_trans AS DOUBLE)
                   / CAST(SUM(n_trans) OVER (PARTITION BY prev) AS DOUBLE)
                   AS p_trans
        FROM t
    """,
)
def markov_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    seq = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    t = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_trans"))
    )
    # Bounded domain: one row per (event_type, event_type) pair.
    tot = F.sum("n_trans").over(Window.partitionBy("prev")).cast("bigint")
    return t.select(
        "prev",
        "next",
        "n_trans",
        tot.alias("total_from"),
        (F.col("n_trans").cast("double") / tot.cast("double")).alias("p_trans"),
    )


@register(
    name="cusum_changepoint",
    survey="W3 A7 F15 O4",
    doc="CUSUM changepoint detection over the daily event-count series: "
    "cumulative sum of (D * n_day - N) — the mean-deviation CUSUM "
    "scaled by the day count D so every step stays in exact integer "
    "arithmetic — with the classic argmax-|CUSUM| changepoint estimate "
    "flagged (earliest day on ties). The daily rollup is one linear "
    "hash aggregation; the running sum and the argmax run on the "
    "bounded per-day series, so the plan is scan + one agg at any "
    "event volume.",
    oracle="""
        WITH daily AS (
          SELECT date_trunc('day', ts) AS day, count(*) AS n_events
          FROM events GROUP BY 1
        ), g AS (
          SELECT CAST(count(*) AS BIGINT) AS d_days,
                 CAST(sum(n_events) AS BIGINT) AS n_total
          FROM daily
        ), s AS (
          SELECT day, CAST(n_events AS BIGINT) AS n_events,
                 CAST(SUM(d_days * n_events - n_total)
                          OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
                     AS cusum_scaled,
                 d_days
          FROM daily, g)
        SELECT day, n_events, cusum_scaled,
               CAST(cusum_scaled AS DOUBLE) / CAST(d_days AS DOUBLE)
                   AS cusum,
               (ROW_NUMBER() OVER (ORDER BY abs(cusum_scaled) DESC, day)
                   = 1) AS is_changepoint
        FROM s
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    g = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("d_days"),
        F.sum("n_events").cast("bigint").alias("n_total"),
    )
    # Bounded domain: the running sum and argmax rank run over ONE ROW PER
    # DAY (the daily rollup), so these unpartitioned windows never see
    # row-sized data — same justification as event_type_value_chi2.
    wrun = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = (
        daily.crossJoin(F.broadcast(g))
        .withColumn(
            "cusum_scaled",
            F.sum(
                F.col("d_days") * F.col("n_events") - F.col("n_total")
            )
            .over(wrun)
            .cast("bigint"),
        )
    )
    rk = F.row_number().over(
        Window.orderBy(F.abs(F.col("cusum_scaled")).desc(), "day")
    )
    return s.select(
        "day",
        "n_events",
        "cusum_scaled",
        (F.col("cusum_scaled").cast("double") / F.col("d_days").cast("double")).alias(
            "cusum"
        ),
        (rk == 1).alias("is_changepoint"),
    )


_KS_BINS = 64
_KS_A, _KS_B = "click", "purchase"


@register(
    name="ks_binned_two_sample",
    survey="A7 W3 F28 U1",
    doc=f"Binned two-sample Kolmogorov-Smirnov test between the value "
    f"distributions of '{_KS_A}' and '{_KS_B}' events: {_KS_BINS} "
    "equal-width bins over the pooled [min, max] range, per-bin counts, "
    "cumulative ECDFs, and the KS distance as an EXACT integer "
    "cross-multiplication max |c1*n2 - c2*n1| (no double ECDF "
    "comparisons). Binning makes the statistic computable with one "
    "linear count aggregation plus windows over the fixed 64-bin "
    "domain — the unbinned KS needs a global sort of the pooled "
    "sample, which does not exist at 100 TB.",
    oracle=f"""
        WITH ev AS (
          SELECT event_type, value FROM events
          WHERE value IS NOT NULL
            AND event_type IN ('{_KS_A}', '{_KS_B}')
        ), rng AS (
          SELECT min(value) AS lo, max(value) AS hi FROM ev
        ), binned AS (
          SELECT CAST(least(floor((value - lo) / (hi - lo) * {_KS_BINS}),
                            {_KS_BINS} - 1) AS INT) AS bin,
                 count(*) FILTER (WHERE event_type = '{_KS_A}') AS c1,
                 count(*) FILTER (WHERE event_type = '{_KS_B}') AS c2
          FROM ev, rng GROUP BY 1
        ), bins AS (
          SELECT s.b AS bin,
                 COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2
          FROM (SELECT unnest(range(0, {_KS_BINS})) AS b) s
          LEFT JOIN binned ON binned.bin = s.b
        ), cum AS (
          SELECT bin,
                 CAST(SUM(c1) OVER w AS BIGINT) AS cum1,
                 CAST(SUM(c2) OVER w AS BIGINT) AS cum2,
                 CAST(SUM(c1) OVER () AS BIGINT) AS n1,
                 CAST(SUM(c2) OVER () AS BIGINT) AS n2
          FROM bins
          WINDOW w AS (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), d AS (
          SELECT cum.*, abs(cum1 * n2 - cum2 * n1) AS diff_num
          FROM cum)
        SELECT bin, cum1, cum2, n1, n2, diff_num,
               (ROW_NUMBER() OVER (ORDER BY diff_num DESC, bin) = 1)
                   AS is_ks_argmax,
               CAST(MAX(diff_num) OVER () AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_stat
        FROM d
    """,
)
def ks_binned_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .where(F.col("event_type").isin(_KS_A, _KS_B))
        .select("event_type", "value")
    )
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = (
        ev.crossJoin(F.broadcast(rng))
        .selectExpr(
            "event_type",
            f"CAST(least(floor((value - lo) / (hi - lo) * {_KS_BINS}),"
            f" {_KS_BINS} - 1) AS INT) AS bin",
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("event_type") == _KS_A, 1).otherwise(0)).alias(
                "c1"
            ),
            F.sum(F.when(F.col("event_type") == _KS_B, 1).otherwise(0)).alias(
                "c2"
            ),
        )
    )
    bins = (
        spark.range(_KS_BINS)
        .selectExpr("CAST(id AS INT) AS bin")
        .join(binned, "bin", "left")
        .selectExpr(
            "bin", "COALESCE(c1, 0) AS c1", "COALESCE(c2, 0) AS c2"
        )
    )
    # All windows below run on the FIXED 64-bin domain, never row data.
    wrun = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = bins.select(
        "bin",
        F.sum("c1").over(wrun).cast("bigint").alias("cum1"),
        F.sum("c2").over(wrun).cast("bigint").alias("cum2"),
        F.sum("c1").over(wall).cast("bigint").alias("n1"),
        F.sum("c2").over(wall).cast("bigint").alias("n2"),
    ).withColumn(
        "diff_num",
        F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")),
    )
    rk = F.row_number().over(Window.orderBy(F.desc("diff_num"), "bin"))
    return cum.select(
        "bin",
        "cum1",
        "cum2",
        "n1",
        "n2",
        "diff_num",
        (rk == 1).alias("is_ks_argmax"),
        (
            F.max("diff_num").over(wall).cast("double")
            / (F.col("n1").cast("double") * F.col("n2").cast("double"))
        ).alias("ks_stat"),
    )


# Pointwise-MI micro quantization: same half-up micro-ln contract as
# queries/retrieval.py (_SURPRISAL_MICRO) so integer sums stay exact.
_MI_MICRO = (
    "CAST(floor(ln((CAST(observed AS DOUBLE) * CAST(n AS DOUBLE))"
    " / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))) * 1000000 + 0.5)"
    " AS BIGINT)"
)


@register(
    name="mutual_information_type_band",
    survey="A7 J5 F28",
    doc="Mutual information between event type and value band (the "
    "information-theoretic companion to event_type_value_chi2, the "
    "quantity behind feature selection and drift scoring): observed "
    "cell counts, broadcast marginals, per-cell pointwise MI "
    "micro-quantized (half-up micro-ln contract), and the MI total as "
    "an exact integer window sum over the bounded cell table divided "
    "once by N. Only the initial count aggregation touches row-sized "
    "data.",
    oracle=f"""
        WITH cells AS (
            SELECT event_type,
                   CASE WHEN value < 50.0 THEN 'low' ELSE 'high' END AS band,
                   CAST(count(*) AS BIGINT) AS observed
            FROM events GROUP BY 1, 2),
        rowt AS (SELECT event_type, sum(observed) AS rt FROM cells GROUP BY 1),
        colt AS (SELECT band, sum(observed) AS ct FROM cells GROUP BY 1),
        tot AS (SELECT sum(observed) AS n FROM cells),
        terms AS (
            SELECT c.event_type, c.band, c.observed,
                   {_MI_MICRO} AS pmi_micro,
                   c.observed * {_MI_MICRO} AS contrib
            FROM cells c
            JOIN rowt r ON c.event_type = r.event_type
            JOIN colt t ON c.band = t.band
            CROSS JOIN tot x)
        SELECT event_type, band, observed, pmi_micro,
               CAST(SUM(contrib) OVER () AS DOUBLE)
                   / (CAST(SUM(observed) OVER () AS DOUBLE) * 1000000.0)
                   AS mi_nats
        FROM terms
    """,
)
def mutual_information_type_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cells = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "CASE WHEN value < 50.0 THEN 'low' ELSE 'high' END AS band",
        )
        .groupBy("event_type", "band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("observed"))
    )
    rowt = cells.groupBy("event_type").agg(F.sum("observed").alias("rt"))
    colt = cells.groupBy("band").agg(F.sum("observed").alias("ct"))
    tot = cells.agg(F.sum("observed").alias("n"))
    terms = (
        cells.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "band")
        .crossJoin(F.broadcast(tot))
        .withColumn("pmi_micro", F.expr(_MI_MICRO))
        .withColumn("contrib", F.col("observed") * F.col("pmi_micro"))
    )
    # Bounded domain: one row per (event_type, band) cell.
    wall = Window.partitionBy()
    return terms.select(
        "event_type",
        "band",
        "observed",
        "pmi_micro",
        (
            F.sum("contrib").over(wall).cast("double")
            / (F.sum("observed").over(wall).cast("double") * F.lit(1e6))
        ).alias("mi_nats"),
    )


@register(
    name="stream_stateful_user_totals",
    survey="UD5 ST4 ST5 A7",
    eager=True,
    doc="CUSTOM stateful streaming operator executed AS A STREAM "
    "(applyInPandasWithState — the arbitrary-state API behind "
    "counters, rate limits and per-key online models; the watermarked "
    "variant stays in tests/test_streaming.py): per-user running event "
    "count and micro-quantized value sum whose state survives "
    "micro-batch boundaries, update-mode memory sink drained with "
    "trigger(availableNow). Update mode emits one row per touched key "
    "PER BATCH, so the final answer is recovered batching-invariantly "
    "as the per-user MAX of the (monotone, non-negative) running "
    "totals — deterministic however the source splits into "
    "micro-batches. State is two bigints per user, sharded by the "
    "grouping shuffle exactly as at cluster scale; the driver "
    "hash-checks the result against a plain batch aggregation.",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(COALESCE(SUM(CAST(floor(value * 1000000 + 0.5)
                                      AS BIGINT)), 0) AS BIGINT)
                   AS value_micro_sum
        FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    qname = f"stream_state_{zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF:08x}"

    def totals(key, pdfs, state):
        import numpy as np

        n, vsum = (state.get if state.exists else (0, 0))
        for p in pdfs:
            n += len(p)
            v = p["value"].dropna().to_numpy(dtype="float64")
            # floor(v*1e6 + 0.5): the engine-shared micro contract, as
            # exact int64 — order-independent under any batch split.
            vsum += int(np.floor(v * 1_000_000 + 0.5).astype("int64").sum())
        state.update((n, vsum))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "vsum": [vsum]}
        )

    src, confs = _events_stream(spark, sf_dir)
    running = src.select("user_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        totals,
        "user_id bigint, n bigint, vsum bigint",
        "n bigint, vsum bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return (
        _drain(running, qname, "update", confs=confs)
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max("vsum").cast("bigint").alias("value_micro_sum"),
        )
    )


# Timer/TTL sessionization constants. The fixture's median per-user
# inter-event gap is ~7.3 h, so a 6 h session gap yields many sessions per
# user; the 1 h watermark delay keeps a nonzero set of still-open final
# sessions at stream end, which is exactly the state the TTL path must
# NOT emit. Micro-batch size scales with the file: ~12 batches up to
# 20k rows (max(200, ceil(N/12)) — timer-only closes still occur at the
# driver's sf0.01 gate), 2 batches above (ceil(N/2); r10 — the emitted
# set is batch-count-INVARIANT because the oracle depends only on the
# final watermark max(ts)-delay; sessions still span batches, timers
# still fire mid-stream AND at the trailing no-data drain batch, and
# per-batch overhead of ~1.3-2 s — Python-source prefetch + incremental
# replan + state commit — dominates everything else at local scale:
# 38.6 s at 20 batches -> 13.3 s at 5 -> ~7 s at 2+remainder fix,
# same 56,646-row sf0.1 output).
_TTL_GAP_US = 6 * 3600 * 1_000_000
_TTL_DELAY_US = 3600 * 1_000_000
_TTL_MIN_BATCH = 200
# 12 (r09, was 40): output is batch-count-invariant (monotone replay), and
# 40 micro-batches made the sf0.01 oracle/driver check pay ~40s of pure
# per-batch overhead. At sf0.001 the 200-row floor binds either way (same
# 5 batches); sf0.01 drops 40 -> 12 batches.
_TTL_N_BATCHES = 12
_TTL_BIG_N = 20_000  # above this, 2 batches (output is batch-count-invariant)


@register(
    name="stream_session_ttl_close",
    survey="UD5 ST2 ST3 ST4 ST5",
    eager=True,
    doc="Timer/TTL stateful streaming (the transformWithState timer "
    "semantics, correctness-pinned on the applyInPandasWithState path "
    "since protobuf for the v2 API is absent here): per-user session "
    "windows (6 h gap) over the deterministic events_replay Python "
    "data source, EventTimeTimeout timers close idle sessions when the "
    "1 h-delay watermark passes session_end + gap — final sessions are "
    "emitted ONLY by a firing timer, never by data. Because the "
    "fixture's event time is globally monotone and delay > 0, a timer "
    "can never split a session that gap logic wouldn't (next event's "
    "ts >= watermark + delay >= end + gap + delay), so the emitted set "
    "is SQL-expressible: all gap-split sessions, plus final sessions "
    "whose timer fired before the stream ended. The drain is "
    "DETERMINISTIC (r06 advice): after the offsets drain, the poll "
    "waits for the trailing no-data micro-batch — the one Spark "
    "schedules when the final data batch advances the watermark — to "
    "commit (observed as a progress row whose watermark reaches "
    "max(ts) - delay) before stopping, instead of racing q.stop() "
    "against it. The final watermark is therefore exactly "
    "ts[last event] - delay, and a timer fires iff its timeout is "
    "STRICTLY below it in Spark's millisecond watermark arithmetic "
    "(timeout_ms = end_us//1000 + gap_ms; wm_ms = max_ts_us//1000 - "
    "delay_ms) — the oracle states that inequality digit-for-digit. "
    "State is 3 bigints per user, sharded by the grouping shuffle "
    "exactly as at cluster scale.",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS tsm FROM events),
        m AS (
            SELECT max(tsm) // 1000 - {_TTL_DELAY_US // 1000} AS wm_ms
            FROM e),
        s AS (
            SELECT user_id, event_id, tsm,
                   CASE WHEN tsm - lag(tsm) OVER w > {_TTL_GAP_US}
                        THEN 1 ELSE 0 END AS brk
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id)),
        g AS (
            SELECT user_id, tsm,
                   sum(brk) OVER (PARTITION BY user_id
                                  ORDER BY tsm, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM s),
        sess AS (
            SELECT user_id, sid,
                   min(tsm) AS start_micro, max(tsm) AS end_micro,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM g GROUP BY 1, 2),
        lastx AS (
            SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY 1)
        SELECT user_id, start_micro, end_micro, n_events
        FROM sess JOIN lastx USING (user_id) CROSS JOIN m
        WHERE sid < last_sid
           OR end_micro // 1000 + {_TTL_GAP_US // 1000} < wm_ms
    """,
)
def stream_session_ttl_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from uk_procurement_data_pipeline_spark.sources.events_replay_stream import (
        EventsReplayDataSource,
    )

    try:
        spark.dataSource.register(EventsReplayDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    qname = f"stream_ttl_{zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF:08x}"
    gap_us, delay_s = _TTL_GAP_US, _TTL_DELAY_US // 1_000_000

    import numpy as np

    cols = ["user_id", "start_micro", "end_micro", "n_events"]

    def sessions(key, pdfs, state):
        # Per-group-CALL overhead dominates this operator's wall time
        # (groups are small: ~22 rows/user/batch at sf0.1), so the body is
        # a single numpy pass — no pandas sort, no per-event Python loop,
        # one output-DataFrame construction.
        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield pd.DataFrame([(key[0], s, e, n)], columns=cols)
            return
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        tsm = np.sort(
            pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
        )
        have = state.exists
        if have:
            s0, e0, n0 = state.get
        # Gap-chain breaks on the SORTED array: event i starts a new
        # session iff tsm[i] - chain_max_before_i > gap. Within-chain max
        # of an ascending array is tsm[i-1], except the state's e0 can
        # exceed early events (an event OLDER than the stored session end
        # can arrive across batches when input is not time-monotone;
        # disorder is watermark-bounded to delay=1h < gap=6h, so merging
        # it is correct — the r08 min/max fix). Using max(e0, tsm[i-1])
        # UNCONDITIONALLY is still exact: after any break, tsm values
        # already exceed e0 + gap, so the max degenerates to tsm[i-1].
        prev = np.empty_like(tsm)
        prev[0] = e0 if have else tsm[0]
        prev[1:] = tsm[:-1]
        if have:
            np.maximum(prev, e0, out=prev)
        brk = (tsm - prev) > gap_us
        # Chain BOUNDARIES are breaks at i >= 1 only; brk[0] (the stored
        # session closing before the first event) is handled by the head
        # branch below, never as a boundary — including index 0 here would
        # fabricate a degenerate [0, -1] chain.
        bounds = np.flatnonzero(brk[1:]) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [tsm.size])) - 1
        cs = tsm[starts]
        ce = tsm[ends]
        cn = ends - starts + 1
        head: list[tuple] = []
        if have and bool(brk[0]):
            # first event already breaks: the stored session closes alone
            head.append((s0, e0, n0))
        elif have:
            cs, ce, cn = cs.copy(), ce.copy(), cn.copy()
            cs[0] = min(s0, int(cs[0]))
            ce[0] = max(e0, int(ce[0]))
            cn[0] += n0
        s, e, n = int(cs[-1]), int(ce[-1]), int(cn[-1])
        # Close when the watermark passes session_end + gap. On input
        # whose disorder EXCEEDS the watermark delay the natural timeout
        # can already be BELOW the current watermark (arbitrary stateful
        # ops do NOT auto-drop late rows — that is exactly how the k=5
        # stress replica reached this call with a past timestamp); a timer
        # there is unusable twice over — setTimeoutTimestamp throws
        # INVALID_TIMEOUT_TIMESTAMP for timestamps below the watermark,
        # and the r08 clamp to watermark+1 silently never fired when the
        # watermark had already reached its FINAL value (timers fire
        # strictly BELOW the watermark; ADVICE r08). So emit such sessions
        # INLINE: the oracle's close condition (end+gap < final wm)
        # already holds for them. Under the documented disorder<=delay
        # contract this branch is provably dead (every event in a batch
        # has ts >= wm, so timeout = end+gap >= wm+gap > wm) and the
        # oracle match is exact; beyond the bound it degrades gracefully —
        # session emitted now, a later beyond-bound event starts a fresh
        # session — instead of crashing (pre-r08) or silently dropping the
        # session (r08 clamp). Timers handle the timeout >= watermark
        # case, where they are valid and do fire.
        timeout_ms = e // 1000 + gap_us // 1000
        if timeout_ms < state.getCurrentWatermarkMs():
            tail: list[tuple] = [(s, e, n)]
            state.remove()
        else:
            tail = []
            state.update((s, e, n))
            state.setTimeoutTimestamp(timeout_ms)
        n_closed = len(cs) - 1
        # head/tail parts as int64 ndarrays BEFORE concatenate: an empty
        # Python list concatenates as float64, silently promoting the
        # whole result (exact today only because micro epochs < 2^53;
        # ADVICE r09).
        head_a = np.array(head, dtype=np.int64).reshape(-1, 3)
        tail_a = np.array(tail, dtype=np.int64).reshape(-1, 3)
        out = pd.DataFrame(
            {
                "user_id": np.full(
                    len(head) + n_closed + len(tail), key[0], dtype="int64"
                ),
                "start_micro": np.concatenate(
                    (head_a[:, 0], cs[:-1], tail_a[:, 0])
                ),
                "end_micro": np.concatenate(
                    (head_a[:, 1], ce[:-1], tail_a[:, 1])
                ),
                "n_events": np.concatenate(
                    (head_a[:, 2], cn[:-1], tail_a[:, 2])
                ),
            }
        )
        yield out

    n_rows = _parquet_num_rows(f"{sf_dir}/events.parquet")
    if n_rows <= _TTL_BIG_N:
        # CEIL division: floor left a 1-row remainder micro-batch that
        # cost a full ~1.3 s trigger for nothing (r10).
        batch_rows = max(_TTL_MIN_BATCH, -(-n_rows // _TTL_N_BATCHES))
    else:
        # The emitted set is batch-count-invariant on monotone input (the
        # doc's final-watermark argument depends only on max ts), so above
        # _TTL_BIG_N run the fewest batches that still exercise cross-batch
        # session continuation AND a mid-stream timer fire: 2 (r10, was 3 —
        # a timer set in batch 0 fires in batch 1 once the batch-0
        # watermark publishes; sessions still span the boundary; each
        # micro-batch costs ~1.3-2 s of fixed state-store/commit overhead
        # at bench SFs). Ceil, so there is no 1-row remainder batch.
        batch_rows = -(-n_rows // 2)
    src = (
        spark.readStream.format("events_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batch_rows", str(batch_rows))
        .load()
    )
    closed = (
        src.withWatermark("ts", f"{delay_s} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessions,
            "user_id bigint, start_micro bigint, end_micro bigint, n_events bigint",
            "start_micro bigint, end_micro bigint, n bigint",
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    # Deterministic drain target: the trailing no-data batch — scheduled
    # after the final data batch advances the watermark — must COMMIT
    # before stop(), so its timer-closed sessions are always in the sink.
    # The replay source's offsets are row positions, so "drained" is
    # endOffset.pos == file row count (known from parquet metadata, no job).
    wm_ms = _final_watermark_ms(f"{sf_dir}/events.parquet", _TTL_DELAY_US)
    return _drain(
        closed, qname, "update", rows=n_rows, watermark_ms=wm_ms
    ).select("user_id", "start_micro", "end_micro", "n_events")


@register(
    name="stream_interval_join_live",
    survey="J8 ST3 ST5 F15",
    eager=True,
    doc="TRUE stream-stream interval join executed AS A STREAM (the "
    "registered streaming form of events_interval_join_attribution's "
    "batch analog; state-eviction behavior itself is pinned in "
    "tests/test_streaming.py): two watermarked legs filtered from ONE "
    "shared deterministic events_replay source — read once per "
    "micro-batch, self-joined (clicks, views of the same "
    "user within the preceding hour), inner join with the time bound "
    "as a join-level range condition, append-mode memory sink drained "
    "by offset polling. Because the fixture's event time is globally "
    "monotone and the 1 h watermark delay is nonnegative, no valid "
    "pair's partner is ever evicted before the pair forms (needed "
    "views satisfy v.ts >= wm, eviction only claims v.ts < wm - 1 h), "
    "so the emitted set equals the full relational join whatever the "
    "micro-batching — the oracle is the plain interval join, no batch "
    "reconstruction. State shards by user_id on both sides exactly as "
    "at cluster scale; micro-batch size is a pure cost knob (~4 "
    "batches).",
    oracle="""
        WITH c AS (
            SELECT event_id AS click_id, user_id, ts AS click_ts
            FROM events WHERE event_type = 'click'),
        v AS (
            SELECT event_id AS view_id, user_id, ts AS view_ts
            FROM events WHERE event_type = 'view')
        SELECT c.click_id, v.view_id, c.user_id,
               date_diff('microsecond', v.view_ts, c.click_ts) AS lag_us
        FROM c JOIN v
          ON c.user_id = v.user_id
         AND v.view_ts <= c.click_ts
         AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
    """,
)
def stream_interval_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib

    from uk_procurement_data_pipeline_spark.sources.events_replay_stream import (
        EventsReplayDataSource,
    )

    try:
        spark.dataSource.register(EventsReplayDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    qname = f"stream_ssj_{zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF:08x}"
    path = f"{sf_dir}/events.parquet"
    n_rows = _parquet_num_rows(path)
    # Exactly 3 batches (ceil; r10 — floor's 2-row remainder batch burned
    # a full ~1 s trigger): the emitted set is batching-invariant (see
    # doc), and per-batch overhead of a two-leg stateful join (~2x the
    # single-leg ~1.2 s) dominated — 16.3 s at 8 batches, 8.5 s at 4,
    # ~7 s at 3. Three keeps cross-batch join state (a left-leg row
    # matching a right-leg row from an EARLIER batch) genuinely
    # exercised, which 1-2 batches would not.
    batch_rows = max(500, -(-n_rows // 3))

    # ONE source, self-joined (r10; was two independent reader instances):
    # micro-batch execution reads the shared source once per batch and
    # feeds both join legs, halving driver-side Python-source prefetch
    # (the two-reader form paid ~0.4-1.1 s latestOffset per batch twice)
    # while the join itself remains a true two-leg stateful stream-stream
    # join — measured ~11-13 s -> ~7 s warm at sf0.1, same 370-row output.
    src = (
        spark.readStream.format("events_replay")
        .option("path", path)
        .option("batch_rows", str(batch_rows))
        .load()
    )

    clicks = (
        src.where("event_type = 'click'")
        .selectExpr("event_id AS click_id", "user_id", "ts AS click_ts")
        .withWatermark("click_ts", "1 hour")
    )
    views = (
        src.where("event_type = 'view'")
        .selectExpr("event_id AS view_id", "user_id AS v_user", "ts AS view_ts")
        .withWatermark("view_ts", "1 hour")
    )
    pairs = clicks.join(
        views,
        F.expr(
            "user_id = v_user AND view_ts <= click_ts"
            " AND view_ts >= click_ts - INTERVAL 1 HOUR"
        ),
        "inner",
    ).select(
        "click_id",
        "view_id",
        "user_id",
        (
            F.unix_micros(F.col("click_ts").cast("timestamp"))
            - F.unix_micros(F.col("view_ts").cast("timestamp"))
        ).alias("lag_us"),
    )

    # r13 (guide §1/VERDICT r12 item 4): RocksDB state store for THIS query
    # only. Interleaved best-of-3 A/B over the 4 streaming queries:
    # RocksDB was a wash on the single-store queries (session_ttl +0.03,
    # late_drop +0.11, datasource_feed -0.03) but -0.82 s (6.88 -> 6.06)
    # on this two-leg stream-stream join, which keeps four state stores
    # (two per join side) per partition per batch — RocksDB's native
    # commit path beats HDFSBackedStateStore's JVM map snapshot+fsync
    # exactly where store count x state size is highest. The conf is read
    # at .start() and scoped to this drain like the shuffle width.
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    return _drain(
        pairs,
        qname,
        "append",
        rows=n_rows,
        confs={"spark.sql.streaming.stateStore.providerClass": rocksdb},
    ).select("click_id", "view_id", "user_id", "lag_us")


_PATH_TOPK = 20


@register(
    name="session_path_topk",
    survey="W2 A10 O4 F17",
    doc="Top-20 most common 3-step event paths (the navigation n-gram "
    "analysis behind funnel discovery): lead(event_type) x2 within each "
    "user's (ts, event_id)-ordered stream, '>'-joined trigram paths, "
    "global count with TakeOrderedAndProject top-K and full "
    "(count desc, path asc) tiebreak. One user-keyed window shuffle "
    "plus one path-keyed count — both linear.",
    oracle=f"""
        WITH seq AS (
          SELECT event_type AS e1,
                 lead(event_type, 1) OVER w AS e2,
                 lead(event_type, 2) OVER w AS e3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT e1 || '>' || e2 || '>' || e3 AS path,
               CAST(count(*) AS BIGINT) AS n_paths
        FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1
        ORDER BY n_paths DESC, path
        LIMIT {_PATH_TOPK}
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(_PATH_TOPK)
    )


@register(
    name="percentiles_per_type_banded",
    survey="W1 A7 F28",
    doc="Exact p50/p95 of value per event type WITHOUT sorting any "
    "type's full partition: rank within (type, integer value band) — "
    "parallel across bands even when one type holds billions of rows — "
    "plus broadcast strictly-lower-band offsets per type (the "
    "equidepth_value_bins rewrite applied per group), then pick the "
    "ceil(p*n) ranks. The oracle keeps the literal per-type "
    "row_number over a full sort, certifying the banded rewrite "
    "against textbook percentile semantics.",
    oracle="""
        WITH ev AS (
          SELECT event_type, event_id, value FROM events
          WHERE value IS NOT NULL
        ), n AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM ev GROUP BY event_type
        ), ranked AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value, event_id) AS rn
          FROM ev)
        SELECT n.event_type, n.n,
               MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
               MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS p95
        FROM ranked JOIN n USING (event_type)
        GROUP BY n.event_type, n.n
    """,
)
def percentiles_per_type_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            "value",
            F.floor("value").alias("band"),
        )
    )
    in_band = F.row_number().over(
        Window.partitionBy("event_type", "band").orderBy("value", "event_id")
    )
    sizes = ev.groupBy("event_type", "band").agg(
        F.count(F.lit(1)).alias("bn")
    )
    lo = sizes.select(
        F.col("event_type").alias("lt"),
        F.col("band").alias("lband"),
        F.col("bn").alias("ln"),
    )
    offsets = (
        sizes.join(
            F.broadcast(lo),
            (F.col("lt") == F.col("event_type"))
            & (F.col("lband") < F.col("band")),
            "left",
        )
        .groupBy("event_type", "band")
        .agg(F.coalesce(F.sum("ln"), F.lit(0)).alias("off"))
    )
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (
        ev.withColumn("rk", in_band)
        .join(F.broadcast(offsets), ["event_type", "band"])
        .join(F.broadcast(n), "event_type")
        .withColumn("rn", F.col("off") + F.col("rk"))
    )
    r50 = F.expr("(n + 1) div 2")
    r95 = F.expr("(19 * n + 19) div 20")
    return (
        ranked.groupBy("event_type", "n")
        .agg(
            F.max(F.when(F.col("rn") == r50, F.col("value"))).alias("p50"),
            F.max(F.when(F.col("rn") == r95, F.col("value"))).alias("p95"),
        )
        .select("event_type", "n", "p50", "p95")
    )


@register(
    name="abtest_proportions_ztest",
    survey="A7 F28 J7",
    doc="Two-proportion z-test over a deterministic md5 user split (the "
    "A/B experiment readout): variant = md5(user_id) mod 2, a user "
    "converts on a high-value purchase (value > 300 — rare by "
    "construction; ANY purchase is degenerate in this fixture, every "
    "user has one, making pool*(1-pool) = 0), pooled-variance z "
    "computed from the four integer counts in one fixed-order double "
    "expression (sqrt is IEEE-exact, so the statistic is bit-identical "
    "across engines). Two hash aggregations over row data, then a "
    "1x1 arithmetic join — nothing else touches row-sized data.",
    oracle="""
        WITH users AS (
          SELECT user_id,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 2 AS variant,
                 max(CASE WHEN event_type = 'purchase' AND value > 300
                          THEN 1 ELSE 0 END) AS converted
          FROM events GROUP BY user_id
        ), agg AS (
          SELECT CAST(count(*) FILTER (WHERE variant = 0) AS BIGINT) AS n_a,
                 CAST(SUM(converted) FILTER (WHERE variant = 0) AS BIGINT)
                     AS x_a,
                 CAST(count(*) FILTER (WHERE variant = 1) AS BIGINT) AS n_b,
                 CAST(SUM(converted) FILTER (WHERE variant = 1) AS BIGINT)
                     AS x_b
          FROM users)
        SELECT n_a, x_a, n_b, x_b,
               CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
               CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
               CASE WHEN x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN
                 (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / sqrt((CAST(x_a + x_b AS DOUBLE)
                         / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 - CAST(x_a + x_b AS DOUBLE)
                                 / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / CAST(n_a AS DOUBLE)
                           + 1.0 / CAST(n_b AS DOUBLE)))
               END AS z
        FROM agg
    """,
)
def abtest_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    users = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 300),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .selectExpr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT) % 2 AS variant",
            "converted",
        )
    )
    agg = users.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("x_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("x_b"),
    )
    na, xa = F.col("n_a").cast("double"), F.col("x_a").cast("double")
    nb, xb = F.col("n_b").cast("double"), F.col("x_b").cast("double")
    pa, pb = xa / na, xb / nb
    pool = (xa + xb) / (na + nb)
    # Degenerate pools (all or none converted) leave z undefined; the
    # CASE keeps the ANSI division from firing on sqrt(0).
    z = F.when(
        (F.col("x_a") + F.col("x_b") > 0)
        & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b")),
        (pa - pb) / F.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)),
    )
    return agg.select(
        "n_a", "x_a", "n_b", "x_b",
        pa.alias("p_a"), pb.alias("p_b"), z.alias("z"),
    )


@register(
    name="lognormal_fit_values",
    survey="A7 F28",
    doc="Log-normal distribution fit of positive event values (the "
    "heavy-tail model behind revenue/value distributions): per-event "
    "ln(value) quantized to micro (first moment) and milli (second "
    "moment) BEFORE summation, so both moment sums are exact "
    "order-independent bigints — the milli scale keeps the squared "
    "sum under 2^63 out to ~1e11 rows (the micro square would "
    "overflow at ~1e5). mu and the unbiased sigma^2 come out as two "
    "fixed-order double expressions over the integer moments.",
    oracle="""
        WITH lv AS (
          SELECT CAST(floor(ln(value) * 1000000 + 0.5) AS BIGINT) AS l_mic,
                 CAST(floor(ln(value) * 1000 + 0.5) AS BIGINT) AS l_mil
          FROM events WHERE value IS NOT NULL AND value > 0
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(l_mic) AS BIGINT) AS s1_micro,
                 CAST(SUM(l_mil * l_mil) AS BIGINT) AS s2_milli2
          FROM lv)
        SELECT n, s1_micro, s2_milli2,
               CAST(s1_micro AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                   AS mu,
               (CAST(n AS DOUBLE) * (CAST(s2_milli2 AS DOUBLE) / 1000000.0)
                - (CAST(s1_micro AS DOUBLE) / 1000000.0)
                  * (CAST(s1_micro AS DOUBLE) / 1000000.0))
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                   AS sigma2
        FROM m
    """,
)
def lognormal_fit_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    lv = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & (F.col("value") > 0))
        .selectExpr(
            "CAST(floor(ln(value) * 1000000 + 0.5) AS BIGINT) AS l_mic",
            "CAST(floor(ln(value) * 1000 + 0.5) AS BIGINT) AS l_mil",
        )
    )
    m = lv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("l_mic").cast("bigint").alias("s1_micro"),
        F.sum(F.col("l_mil") * F.col("l_mil")).cast("bigint").alias(
            "s2_milli2"
        ),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1_micro").cast("double") / F.lit(1e6)
    s2 = F.col("s2_milli2").cast("double") / F.lit(1e6)
    return m.select(
        "n",
        "s1_micro",
        "s2_milli2",
        (F.col("s1_micro").cast("double") / (n * F.lit(1e6))).alias("mu"),
        ((n * s2 - s1 * s1) / (n * (n - F.lit(1.0)))).alias("sigma2"),
    )


@register(
    name="ols2_regression_per_type",
    survey="A7 F15 F28",
    doc="Closed-form two-feature OLS per event type (value ~ hour + "
    "day-of-week — the in-engine regression a feature pipeline runs "
    "before reaching for MLlib): the X'X moment matrix is EXACT "
    "bigints (features are small integers), X'y moments go through "
    "the exact-decimal fold, and the 3x3 normal equations are solved "
    "by Cramer's rule as fixed-order arithmetic — an exact-integer "
    "determinant dividing exact-double numerators, so coefficients "
    "and R^2 are bit-identical across engines. One hash aggregation "
    "over row data; the solve runs on one row per type. Spark "
    "dayofweek is 1=Sunday..7; the oracle shifts DuckDB's 0-based "
    "form to match.",
    oracle="""
        WITH x AS (
          SELECT event_type,
                 CAST(hour(ts) AS BIGINT) AS x1,
                 CAST(dayofweek(ts) + 1 AS BIGINT) AS x2,
                 value AS y
          FROM events WHERE value IS NOT NULL
        ), m AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x1) AS BIGINT) AS s1,
                 CAST(SUM(x2) AS BIGINT) AS s2,
                 CAST(SUM(x1 * x1) AS BIGINT) AS s11,
                 CAST(SUM(x2 * x2) AS BIGINT) AS s22,
                 CAST(SUM(x1 * x2) AS BIGINT) AS s12,
                 CAST(ROUND(SUM(CAST(y AS DECIMAL(38,8))), 4) AS DOUBLE)
                     AS sy,
                 CAST(ROUND(SUM(CAST(x1 * y AS DECIMAL(38,8))), 4)
                      AS DOUBLE) AS s1y,
                 CAST(ROUND(SUM(CAST(x2 * y AS DECIMAL(38,8))), 4)
                      AS DOUBLE) AS s2y,
                 CAST(ROUND(SUM(CAST(y * y AS DECIMAL(38,8))), 2)
                      AS DOUBLE) AS syy
          FROM x GROUP BY event_type
        ), solved AS (
          SELECT m.*,
                 CAST(n * (s11 * s22 - s12 * s12)
                      - s1 * (s1 * s22 - s12 * s2)
                      + s2 * (s1 * s12 - s11 * s2) AS DOUBLE) AS det,
                 (sy * CAST(s11 * s22 - s12 * s12 AS DOUBLE)
                  - s1y * CAST(s1 * s22 - s2 * s12 AS DOUBLE)
                  + s2y * CAST(s1 * s12 - s2 * s11 AS DOUBLE)) AS num0,
                 (CAST(n AS DOUBLE) * (s1y * CAST(s22 AS DOUBLE)
                                       - s2y * CAST(s12 AS DOUBLE))
                  - sy * CAST(s1 * s22 - s2 * s12 AS DOUBLE)
                  + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y
                                          - s1y * CAST(s2 AS DOUBLE)))
                     AS num1,
                 (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y
                                       - CAST(s12 AS DOUBLE) * s1y)
                  - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y
                                          - s1y * CAST(s2 AS DOUBLE))
                  + sy * CAST(s1 * s12 - s11 * s2 AS DOUBLE)) AS num2
          FROM m)
        SELECT event_type, n,
               num0 / det AS b0,
               num1 / det AS b1,
               num2 / det AS b2,
               1.0 - (syy - (num0 / det) * sy - (num1 / det) * s1y
                      - (num2 / det) * s2y)
                   / (syy - sy * sy / CAST(n AS DOUBLE)) AS r2
        FROM solved
    """,
)
def ols2_regression_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import dec

    x = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.hour("ts").cast("bigint").alias("x1"),
            F.dayofweek("ts").cast("bigint").alias("x2"),
            F.col("value").alias("y"),
        )
    )
    m = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.round(F.sum(dec("y")), 4).cast("double").alias("sy"),
        F.round(F.sum(dec(F.col("x1") * F.col("y"))), 4)
        .cast("double")
        .alias("s1y"),
        F.round(F.sum(dec(F.col("x2") * F.col("y"))), 4)
        .cast("double")
        .alias("s2y"),
        F.round(F.sum(dec(F.col("y") * F.col("y"))), 2)
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n")
    s1, s2 = F.col("s1"), F.col("s2")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    sy, s1y, s2y, syy = (
        F.col("sy"), F.col("s1y"), F.col("s2y"), F.col("syy")
    )
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    ).cast("double")
    b0 = (
        sy * (s11 * s22 - s12 * s12).cast("double")
        - s1y * (s1 * s22 - s2 * s12).cast("double")
        + s2y * (s1 * s12 - s2 * s11).cast("double")
    ) / det
    b1 = (
        n.cast("double") * (s1y * s22.cast("double") - s2y * s12.cast("double"))
        - sy * (s1 * s22 - s2 * s12).cast("double")
        + s2.cast("double") * (s1.cast("double") * s2y - s1y * s2.cast("double"))
    ) / det
    b2 = (
        n.cast("double") * (s11.cast("double") * s2y - s12.cast("double") * s1y)
        - s1.cast("double")
          * (s1.cast("double") * s2y - s1y * s2.cast("double"))
        + sy * (s1 * s12 - s11 * s2).cast("double")
    ) / det
    r2 = F.lit(1.0) - (syy - b0 * sy - b1 * s1y - b2 * s2y) / (
        syy - sy * sy / n.cast("double")
    )
    return m.select(
        "event_type", "n",
        b0.alias("b0"), b1.alias("b1"), b2.alias("b2"), r2.alias("r2"),
    )


_SS_B = 32  # deterministic half-samples


@register(
    name="subsample_stability_ci",
    survey="A7 F28 U1",
    doc=f"Deterministic subsample-stability confidence interval for the "
    f"mean event value: {_SS_B} coordinated half-samples (replicate b "
    "keeps the events whose md5(event_id, b) draw falls in the lower "
    "half), each half-sample mean from exact-decimal sums, and the "
    "between-replicate variance of those means — the subsampling "
    "estimator of the mean's sampling error, with zero randomness "
    "(same replicas on every engine, every cluster, every re-run). "
    "One scan explodes each event into its replicate memberships; "
    "everything after runs on B rows.",
    oracle=f"""
        WITH reps AS (
          SELECT b.b, e.value
          FROM events e,
               LATERAL (SELECT unnest(range(0, {_SS_B})) AS b) b
          WHERE e.value IS NOT NULL
            AND CAST('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || '-'
                     || CAST(b.b AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
        ), means AS (
          SELECT b, CAST(count(*) AS BIGINT) AS n,
                 CAST(ROUND(SUM(CAST(value AS DECIMAL(38,8))), 4) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS m
          FROM reps GROUP BY b)
        SELECT CAST(count(*) AS BIGINT) AS n_replicates,
               CAST(ROUND(SUM(CAST(m AS DECIMAL(38,8))), 4) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS mean_of_means,
               (CAST(count(*) AS DOUBLE)
                * (CAST(ROUND(SUM(CAST(m * m AS DECIMAL(38,8))), 4)
                        AS DOUBLE))
                - (CAST(ROUND(SUM(CAST(m AS DECIMAL(38,8))), 4) AS DOUBLE))
                  * (CAST(ROUND(SUM(CAST(m AS DECIMAL(38,8))), 4)
                          AS DOUBLE)))
               / (CAST(count(*) AS DOUBLE)
                  * (CAST(count(*) AS DOUBLE) - 1.0)) AS var_of_means
        FROM means
    """,
)
def subsample_stability_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import dec

    reps = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_id", "value")
        .selectExpr(
            "event_id", "value", f"explode(sequence(0, {_SS_B} - 1)) AS b"
        )
        .where(
            F.expr(
                "CAST(conv(substr(md5(concat(CAST(event_id AS STRING), '-',"
                " CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0"
            )
        )
        .drop("event_id")
    )
    means = reps.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.round(F.sum(dec("value")), 4).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m"),
    )
    nb = F.count(F.lit(1)).cast("double")
    sm = F.round(F.sum(dec("m")), 4).cast("double")
    smm = F.round(F.sum(dec(F.col("m") * F.col("m"))), 4).cast("double")
    return means.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        (sm / nb).alias("mean_of_means"),
        ((nb * smm - sm * sm) / (nb * (nb - F.lit(1.0)))).alias(
            "var_of_means"
        ),
    )


_STUMP_BINS = 64


@register(
    name="decision_stump_value_split",
    survey="A7 W3 F28",
    doc=f"Decision-stump training in-engine: the best single threshold "
    f"on value for predicting a purchase event, from {_STUMP_BINS} "
    "equal-width candidate cuts. Per-bin (n, positives) counts are "
    "one linear aggregation; cumulative left/right class counts and "
    "the weighted Gini impurity of every cut then run on the fixed "
    "bin domain, with the argmin flagged (first bin on ties). The "
    "exhaustive-threshold stump needs a global sort; the binned form "
    "is the one that exists at scale — and is exactly how histogram-"
    "based gradient boosting (LightGBM-style) finds splits.",
    oracle=f"""
        WITH ev AS (
          SELECT value,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events WHERE value IS NOT NULL
        ), rng AS (
          SELECT min(value) AS lo, max(value) AS hi FROM ev
        ), binned AS (
          SELECT CAST(least(floor((value - lo) / (hi - lo)
                                  * {_STUMP_BINS}),
                            {_STUMP_BINS} - 1) AS INT) AS bin,
                 count(*) AS n, SUM(y) AS pos
          FROM ev, rng GROUP BY 1
        ), bins AS (
          SELECT s.b AS bin, COALESCE(n, 0) AS n, COALESCE(pos, 0) AS pos
          FROM (SELECT unnest(range(0, {_STUMP_BINS})) AS b) s
          LEFT JOIN binned ON binned.bin = s.b
        ), cum AS (
          SELECT bin,
                 CAST(SUM(n) OVER w AS BIGINT) AS nl,
                 CAST(SUM(pos) OVER w AS BIGINT) AS pl,
                 CAST(SUM(n) OVER () AS BIGINT) AS nt,
                 CAST(SUM(pos) OVER () AS BIGINT) AS pt
          FROM bins
          WINDOW w AS (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), cuts AS (
          SELECT bin AS cut_after_bin, nl, pl, nt - nl AS nr, pt - pl AS pr,
                 (CAST(nl AS DOUBLE) * (1.0
                      - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                        * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                      - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE))
                        * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)))
                  + CAST(nt - nl AS DOUBLE) * (1.0
                      - (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
                        * (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
                      - (CAST((nt - nl) - (pt - pl) AS DOUBLE)
                         / CAST(nt - nl AS DOUBLE))
                        * (CAST((nt - nl) - (pt - pl) AS DOUBLE)
                           / CAST(nt - nl AS DOUBLE))))
                 / CAST(nt AS DOUBLE) AS weighted_gini
          FROM cum
          WHERE nl > 0 AND nt - nl > 0)
        SELECT cut_after_bin, nl, pl, nr, pr, weighted_gini,
               (ROW_NUMBER() OVER (ORDER BY weighted_gini, cut_after_bin)
                   = 1) AS is_best_split
        FROM cuts
    """,
)
def decision_stump_value_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "value",
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
                "y"
            ),
        )
    )
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = (
        ev.crossJoin(F.broadcast(rng))
        .selectExpr(
            f"CAST(least(floor((value - lo) / (hi - lo) * {_STUMP_BINS}),"
            f" {_STUMP_BINS} - 1) AS INT) AS bin",
            "y",
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    bins = (
        spark.range(_STUMP_BINS)
        .selectExpr("CAST(id AS INT) AS bin")
        .join(binned, "bin", "left")
        .selectExpr("bin", "COALESCE(n, 0) AS n", "COALESCE(pos, 0) AS pos")
    )
    # Bounded domain: the fixed 64-bin table.
    wrun = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = bins.select(
        "bin",
        F.sum("n").over(wrun).cast("bigint").alias("nl"),
        F.sum("pos").over(wrun).cast("bigint").alias("pl"),
        F.sum("n").over(wall).cast("bigint").alias("nt"),
        F.sum("pos").over(wall).cast("bigint").alias("pt"),
    )
    nl, pl = F.col("nl").cast("double"), F.col("pl").cast("double")
    nr = (F.col("nt") - F.col("nl")).cast("double")
    pr = (F.col("pt") - F.col("pl")).cast("double")
    nt = F.col("nt").cast("double")
    gini_l = (
        F.lit(1.0) - (pl / nl) * (pl / nl)
        - ((nl - pl) / nl) * ((nl - pl) / nl)
    )
    gini_r = (
        F.lit(1.0) - (pr / nr) * (pr / nr)
        - ((nr - pr) / nr) * ((nr - pr) / nr)
    )
    cuts = (
        cum.where((F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0))
        .select(
            F.col("bin").alias("cut_after_bin"),
            "nl",
            "pl",
            (F.col("nt") - F.col("nl")).alias("nr"),
            (F.col("pt") - F.col("pl")).alias("pr"),
            ((nl * gini_l + nr * gini_r) / nt).alias("weighted_gini"),
        )
    )
    rk = F.row_number().over(
        Window.orderBy("weighted_gini", "cut_after_bin")
    )
    return cuts.select(
        "cut_after_bin", "nl", "pl", "nr", "pr", "weighted_gini",
        (rk == 1).alias("is_best_split"),
    )


@register(
    name="daily_autocorr_lag1",
    survey="A7 W2 W3 F15 F28",
    doc="Lag-1 autocorrelation of the daily event-count series (the "
    "first diagnostic of temporal structure — near zero for memoryless "
    "traffic, high for trending/bursty load): daily rollup, lag() over "
    "the calendar-bounded day series, then Pearson over the EXACT "
    "integer (x_t, x_t-1) moments in one fixed-order expression. The "
    "only row-sized work is the daily aggregation.",
    oracle="""
        WITH daily AS (
          SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1
        ), lagged AS (
          SELECT n AS x,
                 lag(n) OVER (ORDER BY day) AS xp
          FROM daily
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(xp) AS BIGINT) AS sp,
                 CAST(SUM(x * xp) AS BIGINT) AS sxp,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(xp * xp) AS BIGINT) AS spp
          FROM lagged WHERE xp IS NOT NULL)
        SELECT k AS n_pairs,
               (CAST(k AS DOUBLE) * CAST(sxp AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sp AS DOUBLE))
               / sqrt((CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(k AS DOUBLE) * CAST(spp AS DOUBLE)
                         - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))
                   AS autocorr_lag1
        FROM m
    """,
)
def daily_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # Bounded domain: one row per calendar day (the cusum justification).
    lagged = daily.select(
        F.col("n").alias("x"),
        F.lag("n").over(Window.orderBy("day")).alias("xp"),
    ).where(F.col("xp").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("xp").cast("bigint").alias("sp"),
        F.sum(F.col("x") * F.col("xp")).cast("bigint").alias("sxp"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("xp") * F.col("xp")).cast("bigint").alias("spp"),
    )
    k = F.col("k").cast("double")
    sx, sp = F.col("sx").cast("double"), F.col("sp").cast("double")
    sxp = F.col("sxp").cast("double")
    sxx, spp = F.col("sxx").cast("double"), F.col("spp").cast("double")
    return m.select(
        F.col("k").alias("n_pairs"),
        (
            (k * sxp - sx * sp)
            / F.sqrt((k * sxx - sx * sx) * (k * spp - sp * sp))
        ).alias("autocorr_lag1"),
    )


@register(
    name="theil_sen_daily_trend",
    survey="A7 J6 W1 F15 F28",
    doc="Theil-Sen robust trend per event type: the median of all "
    "pairwise slopes of the daily event-count series (Sen 1968; the "
    "outlier-resistant alternative to the OLS slope in "
    "ols2_regression_per_type - one corrupted day cannot move it). "
    "Slopes are integer-difference ratios (one IEEE division each, "
    "engine-identical), and the median is an explicit order statistic "
    "- row_number over (slope, day_i, day_j) picking floor((m+1)/2) "
    "and floor(m/2)+1, averaged - not an engine median() whose "
    "interpolation rule could differ. The pairwise self-join is on "
    "the DAILY rollup (calendar-bounded: m = O(days^2) pairs per "
    "type regardless of row count), so the only row-sized work is "
    "the first aggregation; the pair stage is a broadcast-sized "
    "bounded domain at any SF.",
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '2024-01-01',
                                CAST(date_trunc('day', ts) AS DATE))
                      AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ), pairs AS (
          SELECT a.event_type,
                 (CAST(b.n AS DOUBLE) - CAST(a.n AS DOUBLE))
                 / (CAST(b.d AS DOUBLE) - CAST(a.d AS DOUBLE)) AS slope,
                 a.d AS di, b.d AS dj
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.d < b.d
        ), ranked AS (
          SELECT event_type, slope,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY slope, di, dj) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS m
          FROM pairs
        )
        SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
               SUM(slope) / CAST(count(*) AS DOUBLE) AS theil_sen_slope
        FROM ranked
        WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            .cast("bigint")
            .alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    # Daily rollup is calendar-bounded, so the pair expansion is a small
    # broadcast-sized self-join no matter the row count underneath.
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.n").cast("double") - F.col("a.n").cast("double"))
            / (F.col("b.d").cast("double") - F.col("a.d").cast("double"))
        ).alias("slope"),
        F.col("a.d").alias("di"),
        F.col("b.d").alias("dj"),
    )
    w = Window.partitionBy("event_type").orderBy("slope", "di", "dj")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("m"),
    )
    mid = ranked.where(
        (F.col("rn") == F.expr("(m + 1) div 2")) | (F.col("rn") == F.expr("m div 2 + 1"))
    )
    return (
        mid.groupBy("event_type")
        .agg(
            F.max("m").cast("bigint").alias("n_pairs"),
            (F.sum("slope") / F.count(F.lit(1)).cast("double")).alias("theil_sen_slope"),
        )
        .orderBy("event_type")
    )


@register(
    name="winsorized_stats_per_type",
    survey="W1 A7 F28",
    doc="Winsorized (5%/95%-clipped) value statistics per event type - "
    "the robust-mean preprocessing step run before feeding heavy-"
    "tailed metrics to a model: exact p05/p95 thresholds via the "
    "banded global-rank construction (percentiles_per_type_banded's "
    "rewrite - rank within (type, integer band) plus broadcast "
    "lower-band offsets, so no type ever sorts in one task), values "
    "clipped with greatest/least, and raw vs winsorized means as "
    "exact decimal sums. The oracle certifies against the textbook "
    "full-sort percentile definition.",
    oracle=f"""
        WITH ev AS (
          SELECT event_type, event_id, value FROM events
          WHERE value IS NOT NULL
        ), n AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM ev GROUP BY event_type
        ), ranked AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value, event_id) AS rn
          FROM ev
        ), thr AS (
          SELECT n.event_type,
                 MAX(CASE WHEN rn = (n + 19) // 20 THEN value END) AS p05,
                 MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN value END)
                     AS p95
          FROM ranked JOIN n USING (event_type)
          GROUP BY n.event_type)
        SELECT ev.event_type,
               CAST(count(*) AS BIGINT) AS n,
               MAX(t.p05) AS p05,
               MAX(t.p95) AS p95,
               CAST(SUM(CASE WHEN ev.value < t.p05 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped_lo,
               CAST(SUM(CASE WHEN ev.value > t.p95 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped_hi,
               {oracle_sum('ev.value')} / CAST(count(*) AS DOUBLE)
                   AS mean_raw,
               {oracle_sum('GREATEST(t.p05, LEAST(t.p95, ev.value))')}
                   / CAST(count(*) AS DOUBLE) AS mean_winsorized
        FROM ev JOIN thr t USING (event_type)
        GROUP BY ev.event_type
        ORDER BY ev.event_type
    """,
)
def winsorized_stats_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from uk_procurement_data_pipeline_spark.functions.exact import dec

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type", "event_id", "value", F.floor("value").alias("band")
        )
    )
    in_band = F.row_number().over(
        Window.partitionBy("event_type", "band").orderBy("value", "event_id")
    )
    sizes = ev.groupBy("event_type", "band").agg(F.count(F.lit(1)).alias("bn"))
    lo = sizes.select(
        F.col("event_type").alias("lt"),
        F.col("band").alias("lband"),
        F.col("bn").alias("ln"),
    )
    offsets = (
        sizes.join(
            F.broadcast(lo),
            (F.col("lt") == F.col("event_type")) & (F.col("lband") < F.col("band")),
            "left",
        )
        .groupBy("event_type", "band")
        .agg(F.coalesce(F.sum("ln"), F.lit(0)).alias("off"))
    )
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (
        ev.withColumn("rk", in_band)
        .join(F.broadcast(offsets), ["event_type", "band"])
        .join(F.broadcast(n), "event_type")
        .withColumn("rn", F.col("off") + F.col("rk"))
    )
    thr = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("value"))).alias(
            "p05"
        ),
        F.max(
            F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("value"))
        ).alias("p95"),
    )
    clipped = F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("value")))
    return (
        ev.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("p05").alias("p05"),
            F.max("p95").alias("p95"),
            F.sum(F.when(F.col("value") < F.col("p05"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_lo"),
            F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_hi"),
            (
                F.round(F.sum(dec("value")), 4).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_raw"),
            (
                F.round(F.sum(dec(clipped)), 4).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_winsorized"),
        )
        .orderBy("event_type")
    )


@register(
    name="stream_static_enrich",
    survey="ST1 ST5 J5 A7 F15",
    eager=True,
    doc="Stream-static enrichment join executed AS A STREAM: the "
    "events stream (availableNow file source) joins the BATCH-"
    "computed per-user first-seen-day dimension - the canonical "
    "pattern for enriching a live stream with a warehouse dim table "
    "(Spark plans the static side as a regular batch subtree under "
    "the streaming aggregation, re-broadcast per micro-batch) - and "
    "aggregates (event_type, is_first_day) counts plus exact value "
    "sums, complete-mode memory sink. Deterministic however the "
    "source splits into micro-batches; hash-checked against the "
    "pure-batch join.",
    oracle=f"""
        WITH first_seen AS (
            SELECT user_id, MIN(date_trunc('day', ts)) AS d0
            FROM events GROUP BY user_id)
        SELECT e.event_type,
               (date_trunc('day', e.ts) = f.d0) AS is_first_day,
               CAST(count(*) AS BIGINT) AS n_events,
               {oracle_sum('e.value')} AS sum_value
        FROM events e JOIN first_seen f USING (user_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib

    qname = f"stream_enrich_{zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF:08x}"
    static_dim = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    )
    src, confs = _events_stream(spark, sf_dir)
    enriched = src.join(static_dim, "user_id").select(
        "event_type",
        (F.date_trunc("day", "ts") == F.col("d0")).alias("is_first_day"),
        "value",
    )
    agg = enriched.groupBy("event_type", "is_first_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        exact_sum("value", "sum_value"),
    )
    return _drain(agg, qname, "complete", confs=confs).orderBy(
        "event_type", "is_first_day"
    )


@register(
    name="markov_prediction_accuracy",
    survey="W2 W1 J5 A7 F28",
    doc="Backtest of the first-order Markov model: per previous event "
    "type the predictor is the argmax-probability next type (the "
    "markov_transition_matrix row maximum, tiebroken by next type "
    "ascending - deterministic), evaluated on the SAME transition "
    "stream it was fit on (the in-sample skill ceiling: compare "
    "against the global-mode baseline to see whether sequence "
    "context helps at all). Per prev type: transition count, hits "
    "under the Markov predictor, hits under the context-free global "
    "mode, and both accuracies as single int/int divisions. The lag "
    "shuffles once on user_id; everything after runs on the bounded "
    "type-pair contingency table.",
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events
        ), t AS (
          SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE prev IS NOT NULL
          GROUP BY prev, event_type
        ), pred AS (
          SELECT prev, next AS predicted
          FROM (SELECT prev, next,
                       row_number() OVER (PARTITION BY prev
                                          ORDER BY n DESC, next) AS rk
                FROM t)
          WHERE rk = 1
        ), gmode AS (
          SELECT next AS global_mode
          FROM (SELECT next, SUM(n) AS n FROM t GROUP BY next)
          ORDER BY n DESC, next LIMIT 1
        )
        SELECT t.prev,
               CAST(SUM(t.n) AS BIGINT) AS n_transitions,
               CAST(SUM(CASE WHEN t.next = p.predicted
                             THEN t.n ELSE 0 END) AS BIGINT)
                   AS n_markov_hits,
               CAST(SUM(CASE WHEN t.next = g.global_mode
                             THEN t.n ELSE 0 END) AS BIGINT)
                   AS n_mode_hits,
               CAST(SUM(CASE WHEN t.next = p.predicted
                             THEN t.n ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(t.n) AS DOUBLE) AS markov_accuracy,
               CAST(SUM(CASE WHEN t.next = g.global_mode
                             THEN t.n ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(t.n) AS DOUBLE) AS mode_accuracy
        FROM t
        JOIN pred p USING (prev)
        CROSS JOIN gmode g
        GROUP BY t.prev
        ORDER BY t.prev
    """,
)
def markov_prediction_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    seq = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    t = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # Bounded domain from here on: one row per (type, type) pair.
    pred = (
        t.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("prev").orderBy(F.col("n").desc(), "next")
            ),
        )
        .where(F.col("rk") == 1)
        .select("prev", F.col("next").alias("predicted"))
    )
    gmode = (
        t.groupBy("next")
        .agg(F.sum("n").alias("gn"))
        .orderBy(F.col("gn").desc(), "next")
        .limit(1)
        .select(F.col("next").alias("global_mode"))
    )
    hits_m = F.sum(
        F.when(F.col("next") == F.col("predicted"), F.col("n")).otherwise(0)
    ).cast("bigint")
    hits_g = F.sum(
        F.when(F.col("next") == F.col("global_mode"), F.col("n")).otherwise(0)
    ).cast("bigint")
    tot = F.sum("n").cast("bigint")
    return (
        t.join(F.broadcast(pred), "prev")
        .join(F.broadcast(gmode))
        .groupBy("prev")
        .agg(
            tot.alias("n_transitions"),
            hits_m.alias("n_markov_hits"),
            hits_g.alias("n_mode_hits"),
            (hits_m.cast("double") / tot.cast("double")).alias("markov_accuracy"),
            (hits_g.cast("double") / tot.cast("double")).alias("mode_accuracy"),
        )
        .orderBy("prev")
    )


@register(
    name="daily_gap_interpolation",
    survey="W2 F14 F15 A7 J7",
    doc="Linear gap-fill of a sparse daily series (the imputation step "
    "before feeding calendar-aligned features to a model): the "
    "high-value event subset (value > 280) leaves missing days, the "
    "full calendar comes from one sequence() explode between the "
    "observed bounds, and each gap day interpolates between its "
    "nearest observed neighbors via last/first IGNORE NULLS frames "
    "over the calendar-bounded day axis - prev + (next - prev) * "
    "(day - prev_day) / (next_day - prev_day), integer operands, one "
    "IEEE division. Every window runs on ONE ROW PER CALENDAR DAY "
    "(bounded domain); the only row-sized work is the first "
    "filtered aggregation.",
    oracle="""
        WITH obs AS (
          SELECT CAST(date_diff('day', DATE '2024-01-01',
                                CAST(date_trunc('day', ts) AS DATE))
                      AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS n
          FROM events WHERE value > 280 GROUP BY 1
        ), cal AS (
          SELECT unnest(range((SELECT min(d) FROM obs),
                              (SELECT max(d) FROM obs) + 1)) AS d
        ), j AS (
          SELECT cal.d, obs.n FROM cal LEFT JOIN obs USING (d)
        ), ctx AS (
          SELECT d, n,
                 last_value(n IGNORE NULLS) OVER (
                     ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS prev_n,
                 last_value(CASE WHEN n IS NOT NULL THEN d END IGNORE NULLS)
                     OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS prev_d,
                 first_value(n IGNORE NULLS) OVER (
                     ORDER BY d ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS next_n,
                 first_value(CASE WHEN n IS NOT NULL THEN d END IGNORE NULLS)
                     OVER (ORDER BY d ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING) AS next_d
          FROM j)
        SELECT d AS day_idx, n AS n_observed,
               CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                    ELSE CAST(prev_n AS DOUBLE)
                         + CAST(next_n - prev_n AS DOUBLE)
                           * CAST(d - prev_d AS DOUBLE)
                           / CAST(next_d - prev_d AS DOUBLE)
               END AS n_filled,
               n IS NULL AS is_interpolated
        FROM ctx
        ORDER BY d
    """,
)
def daily_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    obs = (
        load(spark, sf_dir, "events")
        .where(F.col("value") > 280)
        .groupBy(
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    bounds = obs.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cal = bounds.selectExpr("explode(sequence(d0, d1)) AS d")
    j = cal.join(obs, "d", "left")
    # Calendar-bounded axis: one row per day — the cusum/autocorr
    # justification for the unpartitioned frames below.
    wb = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    known_d = F.when(F.col("n").isNotNull(), F.col("d"))
    ctx = j.select(
        "d",
        "n",
        F.last("n", ignorenulls=True).over(wb).alias("prev_n"),
        F.last(known_d, ignorenulls=True).over(wb).alias("prev_d"),
        F.first("n", ignorenulls=True).over(wf).alias("next_n"),
        F.first(known_d, ignorenulls=True).over(wf).alias("next_d"),
    )
    filled = F.when(F.col("n").isNotNull(), F.col("n").cast("double")).otherwise(
        F.col("prev_n").cast("double")
        + (F.col("next_n") - F.col("prev_n")).cast("double")
        * (F.col("d") - F.col("prev_d")).cast("double")
        / (F.col("next_d") - F.col("prev_d")).cast("double")
    )
    return ctx.select(
        F.col("d").alias("day_idx"),
        F.col("n").alias("n_observed"),
        filled.alias("n_filled"),
        F.col("n").isNull().alias("is_interpolated"),
    ).orderBy("day_idx")


@register(
    name="moving_forecast_backtest",
    survey="W2 W3 A7 F15 F28",
    doc="Backtest of the 7-day moving-average forecaster on the daily "
    "event-count series per type (the capacity-planning sanity loop: "
    "before shipping any fancier model, beat the naive seasonal-free "
    "baseline): forecast(day) = mean of the 7 PRECEDING days "
    "(integer sum / 7, strictly out-of-sample), scored only where "
    "the full lookback exists, reporting per type the mean absolute "
    "error in micro units (exact bigint sum of |actual*7 - sum7| "
    "scaled once - no per-row double rounding), the mean actual, "
    "and the relative MAE. All windows run on the calendar-bounded "
    "daily rollup partitioned by type.",
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '2024-01-01',
                                CAST(date_trunc('day', ts) AS DATE))
                      AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ), win AS (
          SELECT event_type, d, n,
                 SUM(n) OVER (PARTITION BY event_type ORDER BY d
                              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                     AS sum7,
                 COUNT(n) OVER (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                     AS k7
          FROM daily)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_scored_days,
               CAST(SUM(abs(n * 7 - sum7)) AS BIGINT) AS abs_err7_sum,
               CAST(SUM(abs(n * 7 - sum7)) AS DOUBLE)
               / (7.0 * CAST(count(*) AS DOUBLE)) AS mae,
               CAST(SUM(n) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS mean_actual,
               (CAST(SUM(abs(n * 7 - sum7)) AS DOUBLE)
                / (7.0 * CAST(count(*) AS DOUBLE)))
               / (CAST(SUM(n) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                   AS relative_mae
        FROM win
        WHERE k7 = 7
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def moving_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    win = daily.select(
        "event_type",
        "d",
        "n",
        F.sum("n").over(w).alias("sum7"),
        F.count("n").over(w).alias("k7"),
    )
    err = F.sum(F.abs(F.col("n") * 7 - F.col("sum7"))).cast("bigint")
    cnt = F.count(F.lit(1)).cast("bigint")
    mae = err.cast("double") / (F.lit(7.0) * cnt.cast("double"))
    mean_actual = F.sum("n").cast("double") / cnt.cast("double")
    return (
        win.where(F.col("k7") == 7)
        .groupBy("event_type")
        .agg(
            cnt.alias("n_scored_days"),
            err.alias("abs_err7_sum"),
            mae.alias("mae"),
            mean_actual.alias("mean_actual"),
            (mae / mean_actual).alias("relative_mae"),
        )
        .orderBy("event_type")
    )


@register(
    name="conformal_interval_backtest",
    survey="W1 W3 A7 F28",
    doc="Split-conformal prediction interval for the 7-day moving-"
    "average forecaster (the distribution-free uncertainty wrapper "
    "modern forecast pipelines ship instead of parametric bands): "
    "per event type, the absolute residuals of the out-of-sample "
    "7-day-mean forecast form the calibration set, the interval "
    "half-width is their ceil(0.9*(m+1))-th order statistic (exact "
    "rank over the calendar-bounded residual set - no interpolated "
    "quantile), and the reported empirical coverage is the fraction "
    "of days whose actual lands within the band. Residuals are "
    "integer micro units (|actual*7 - sum7| scaled), so ranking and "
    "coverage comparisons are exact in both engines.",
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '2024-01-01',
                                CAST(date_trunc('day', ts) AS DATE))
                      AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ), win AS (
          SELECT event_type, d, n,
                 SUM(n) OVER (PARTITION BY event_type ORDER BY d
                              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                     AS sum7,
                 COUNT(n) OVER (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                     AS k7
          FROM daily
        ), resid AS (
          SELECT event_type, d, abs(n * 7 - sum7) AS r7
          FROM win WHERE k7 = 7
        ), ranked AS (
          SELECT event_type, d, r7,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY r7, d) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS m
          FROM resid
        ), q AS (
          SELECT event_type, CAST(max(m) AS BIGINT) AS m,
                 CAST(MAX(CASE WHEN rk = CAST(ceil(0.9 * (m + 1)) AS BIGINT)
                               THEN r7 END) AS BIGINT) AS q90_r7
          FROM ranked
          WHERE rk = CAST(ceil(0.9 * (m + 1)) AS BIGINT)
          GROUP BY event_type
        )
        SELECT r.event_type, q.m AS n_calibration_days,
               CAST(q.q90_r7 AS DOUBLE) / 7.0 AS half_width,
               CAST(SUM(CASE WHEN r.r7 <= q.q90_r7 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_covered,
               CAST(SUM(CASE WHEN r.r7 <= q.q90_r7 THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS empirical_coverage
        FROM resid r JOIN q ON r.event_type = q.event_type
        GROUP BY r.event_type, q.m, q.q90_r7
        ORDER BY r.event_type
    """,
)
def conformal_interval_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wma = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    resid = (
        daily.select(
            "event_type",
            "d",
            "n",
            F.sum("n").over(wma).alias("sum7"),
            F.count("n").over(wma).alias("k7"),
        )
        .where(F.col("k7") == 7)
        .select(
            "event_type", "d", F.abs(F.col("n") * 7 - F.col("sum7")).alias("r7")
        )
    )
    wr = Window.partitionBy("event_type").orderBy("r7", "d")
    ranked = resid.select(
        "event_type",
        "r7",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("m"),
    )
    q = (
        ranked.where(F.col("rk") == F.ceil(0.9 * (F.col("m") + 1)).cast("bigint"))
        .groupBy("event_type")
        .agg(
            F.max("m").cast("bigint").alias("m"),
            F.max("r7").cast("bigint").alias("q90_r7"),
        )
    )
    covered = F.sum(
        F.when(F.col("r7") <= F.col("q90_r7"), 1).otherwise(0)
    ).cast("bigint")
    return (
        resid.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "m", "q90_r7")
        .agg(
            covered.alias("n_covered"),
            (covered.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "empirical_coverage"
            ),
        )
        .select(
            "event_type",
            F.col("m").alias("n_calibration_days"),
            (F.col("q90_r7").cast("double") / F.lit(7.0)).alias("half_width"),
            "n_covered",
            "empirical_coverage",
        )
        .orderBy("event_type")
    )


@register(
    name="target_encoding_oof",
    survey="A7 J5 F28 UD4",
    doc="Leakage-free out-of-fold target encoding of event_type "
    "against value (the categorical-feature workhorse of tabular "
    "ML: each fold's encoding uses only the OTHER folds' rows, so "
    "the feature never sees its own target): md5-bucket 5-fold "
    "assignment (engine-portable, the stratified_split rule), per "
    "(type, fold) exact-decimal value sums, and the OOF mean as "
    "(sum_type - sum_fold) / (n_type - n_fold) - a subtraction of "
    "exact decimals then ONE IEEE division, never a re-aggregation. "
    "Two bounded-domain aggregates over one linear keyed pass; the "
    "global prior mean is reported beside each encoding for the "
    "smoothing step downstream.",
    oracle="""
        WITH f AS (
          SELECT event_type, value,
                 CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 5 AS fold
          FROM events WHERE value IS NOT NULL
        ), per_fold AS (
          SELECT event_type, fold,
                 CAST(count(*) AS BIGINT) AS n_fold,
                 SUM(CAST(value AS DECIMAL(38,8))) AS s_fold
          FROM f GROUP BY event_type, fold
        ), per_type AS (
          SELECT event_type,
                 CAST(SUM(n_fold) AS BIGINT) AS n_type,
                 SUM(s_fold) AS s_type
          FROM per_fold GROUP BY event_type
        ), g AS (
          SELECT CAST(ROUND(SUM(s_fold), 4) AS DOUBLE)
                 / CAST(SUM(n_fold) AS DOUBLE) AS prior_mean
          FROM per_fold
        )
        SELECT pf.event_type, pf.fold, pf.n_fold,
               CAST(ROUND(pt.s_type - pf.s_fold, 4) AS DOUBLE)
               / CAST(pt.n_type - pf.n_fold AS DOUBLE) AS oof_mean,
               g.prior_mean
        FROM per_fold pf
        JOIN per_type pt USING (event_type)
        CROSS JOIN g
        ORDER BY pf.event_type, pf.fold
    """,
)
def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import dec

    f = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .selectExpr(
            "event_type",
            "value",
            "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT) % 5 AS fold",
        )
    )
    per_fold = f.groupBy("event_type", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fold"),
        F.sum(dec("value")).alias("s_fold"),
    )
    per_type = per_fold.groupBy("event_type").agg(
        F.sum("n_fold").cast("bigint").alias("n_type"),
        F.sum("s_fold").alias("s_type"),
    )
    g = per_fold.agg(
        (
            F.round(F.sum("s_fold"), 4).cast("double")
            / F.sum("n_fold").cast("double")
        ).alias("prior_mean")
    )
    return (
        per_fold.join(F.broadcast(per_type), "event_type")
        .join(F.broadcast(g))
        .select(
            "event_type",
            "fold",
            "n_fold",
            (
                F.round(F.col("s_type") - F.col("s_fold"), 4).cast("double")
                / (F.col("n_type") - F.col("n_fold")).cast("double")
            ).alias("oof_mean"),
            "prior_mean",
        )
        .orderBy("event_type", "fold")
    )


@register(
    name="position_attribution_credit",
    survey="J6 W1 A7 F15 F28",
    doc="U-shaped (position-based) multi-touch attribution: every "
    "purchase distributes 1.0 of credit over the SAME user's view/"
    "click touches in the preceding 60 minutes - 40% to the first "
    "touch, 40% to the last, the middle 20% split evenly (single "
    "touch takes all, a pair splits 50/50) - complementing the "
    "last-touch-style events_interval_join_attribution. Credits "
    "live in exact integer micro units (the middle share is one "
    "floor division, identical in both engines), positions come "
    "from row_number within each (user, purchase) touch window, and "
    "the output is credit mass per touch type. The only row-sized "
    "work is the user-keyed time-bounded join; windows partition by "
    "(user_id, purchase event).",
    oracle="""
        WITH purch AS (
          SELECT event_id AS pid, user_id, ts AS pts
          FROM events WHERE event_type = 'purchase'
        ), touch AS (
          SELECT p.pid, p.user_id, e.event_id, e.event_type, e.ts
          FROM purch p JOIN events e
            ON e.user_id = p.user_id
           AND e.event_type IN ('view', 'click')
           AND e.ts >= p.pts - INTERVAL 60 MINUTE
           AND e.ts < p.pts
        ), ranked AS (
          SELECT pid, event_type,
                 row_number() OVER (PARTITION BY pid
                                    ORDER BY ts, event_id) AS rn,
                 count(*) OVER (PARTITION BY pid) AS k
          FROM touch
        ), credited AS (
          SELECT event_type,
                 CASE WHEN k = 1 THEN 1000000
                      WHEN rn = 1 OR rn = k
                           THEN CASE WHEN k = 2 THEN 500000 ELSE 400000 END
                      ELSE 200000 // (k - 2)
                 END AS credit_micro
          FROM ranked
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(SUM(credit_micro) AS BIGINT) AS credit_micro_sum,
               CAST(SUM(credit_micro) AS DOUBLE) / 1000000.0
                   AS credited_conversions
        FROM credited
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def position_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    touch = purch.join(
        ev.where(F.col("event_type").isin("view", "click")).select(
            "user_id", "event_id", "event_type", "ts"
        ),
        ["user_id"],
    ).where(
        (F.col("ts") >= F.col("pts") - F.expr("INTERVAL 60 MINUTE"))
        & (F.col("ts") < F.col("pts"))
    )
    wp = Window.partitionBy("pid").orderBy("ts", "event_id")
    ranked = touch.select(
        "pid",
        "event_type",
        F.row_number().over(wp).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("pid")).alias("k"),
    )
    credit = (
        F.when(F.col("k") == 1, F.lit(1000000))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("k")),
            F.when(F.col("k") == 2, F.lit(500000)).otherwise(F.lit(400000)),
        )
        .otherwise(F.expr("200000 div (k - 2)"))
    )
    return (
        ranked.select("event_type", credit.alias("credit_micro"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum("credit_micro").cast("bigint").alias("credit_micro_sum"),
            (F.sum("credit_micro").cast("double") / F.lit(1000000.0)).alias(
                "credited_conversions"
            ),
        )
        .orderBy("event_type")
    )


@register(
    name="mann_kendall_trend",
    survey="A7 J6 F15 F28",
    doc="Mann-Kendall nonparametric trend test per event type - the "
    "significance companion to theil_sen_daily_trend (same pairwise "
    "construction, but the statistic is the exact integer "
    "S = sum sign(n_j - n_i) over day pairs i < j, with the normal "
    "approximation z = (S -+ 1)/sqrt(n(n-1)(2n+5)/18) and the no-"
    "ties variance in exact integer arithmetic). The pairwise join "
    "runs on the calendar-bounded daily rollup; sqrt of an exact "
    "integer is IEEE-identical in both engines.",
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '2024-01-01',
                                CAST(date_trunc('day', ts) AS DATE))
                      AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ), s AS (
          SELECT a.event_type,
                 CAST(SUM(CASE WHEN b.n > a.n THEN 1
                               WHEN b.n < a.n THEN -1 ELSE 0 END)
                      AS BIGINT) AS s_stat
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.d < b.d
          GROUP BY a.event_type
        ), m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
          FROM daily GROUP BY event_type)
        SELECT m.event_type, m.n_days, s.s_stat,
               CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
                    WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
                    ELSE 0.0 END
               / sqrt(CAST(m.n_days * (m.n_days - 1) * (2 * m.n_days + 5)
                           AS DOUBLE) / 18.0) AS z_stat
        FROM m JOIN s USING (event_type)
        ORDER BY m.event_type
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    s = (
        a.join(
            F.broadcast(b),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.n") > F.col("a.n"), 1)
                .when(F.col("b.n") < F.col("a.n"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    nd = F.col("n_days")
    corrected = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double"))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    )
    var = (nd * (nd - 1) * (2 * nd + 5)).cast("double") / F.lit(18.0)
    return (
        m.join(s, "event_type")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            (corrected / F.sqrt(var)).alias("z_stat"),
        )
        .orderBy("event_type")
    )


@register(
    name="dow_anova_eta2",
    survey="A7 F15 F28",
    doc="Day-of-week seasonality strength per event type as one-way "
    "ANOVA eta^2: the fraction of daily-count variance explained by "
    "the weekday factor (between-group SS over total SS, both from "
    "EXACT integer moments of the calendar-bounded daily rollup - "
    "the decomposition feeding 'is there weekly seasonality worth "
    "modeling'). All sums are bigint - the per-weekday s^2/k terms "
    "are floor-quantized at 1e-4 via pure integer arithmetic before "
    "summation (order-independent) - and eta^2 is one final "
    "division.",
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 date_trunc('day', ts) AS day,
                 CAST(dayofweek(date_trunc('day', ts)) AS BIGINT) AS dow,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2, 3
        ), g AS (
          SELECT event_type, dow,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST(SUM(n) AS BIGINT) AS s
          FROM daily GROUP BY event_type, dow
        ), tot AS (
          SELECT event_type,
                 CAST(SUM(k) AS BIGINT) AS m,
                 CAST(SUM(s) AS BIGINT) AS st,
                 (SELECT CAST(SUM(n * n) AS BIGINT) FROM daily d
                  WHERE d.event_type = g.event_type) AS sqt
          FROM g GROUP BY event_type)
        SELECT t.event_type, t.m AS n_days,
               CAST(SUM((g.s * g.s * 10000) // g.k) AS DOUBLE) / 10000.0
               - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE)
                 / CAST(t.m AS DOUBLE) AS ss_between,
               CAST(t.sqt AS DOUBLE)
               - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE)
                 / CAST(t.m AS DOUBLE) AS ss_total,
               (CAST(SUM((g.s * g.s * 10000) // g.k) AS DOUBLE) / 10000.0
                - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE)
                  / CAST(t.m AS DOUBLE))
               / (CAST(t.sqt AS DOUBLE)
                  - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE)
                    / CAST(t.m AS DOUBLE)) AS eta2
        FROM g JOIN tot t USING (event_type)
        GROUP BY t.event_type, t.m, t.st, t.sqt
        ORDER BY t.event_type
    """,
)
def dow_anova_eta2(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.dayofweek(F.date_trunc("day", "ts")).cast("bigint").alias("dow"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    g = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("s"),
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("n").cast("bigint").alias("st"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sqt"),
    )
    # Each s^2/k term is floor-quantized at 1e-4 via pure INTEGER
    # arithmetic before summation (7 double terms would sum in
    # engine-dependent order); s^2*1e4 stays far below 2^63.
    between_term = (
        F.sum(F.expr("(s * s * 10000) div k")).cast("double") / F.lit(10000.0)
    )
    grand = (
        F.col("st").cast("double")
        * F.col("st").cast("double")
        / F.col("m").cast("double")
    )
    ss_between = between_term - F.max(grand)
    ss_total = F.max(F.col("sqt").cast("double")) - F.max(grand)
    return (
        g.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("m").alias("n_days"),
            ss_between.alias("ss_between"),
            ss_total.alias("ss_total"),
            (ss_between / ss_total).alias("eta2"),
        )
        .orderBy("event_type")
    )


@register(
    name="skew_kurtosis_per_type",
    survey="A7 F28",
    doc="Exact skewness and excess kurtosis of value per event type "
    "from raw power sums (the shape diagnostics beside mean/stddev "
    "in any profiling pass): sums of v, v^2, v^3, v^4 as exact "
    "decimals (scale-8 terms; output scales sized per the exact.py "
    "scale-budget rule - v^4 sums round at scale 0), central "
    "moments via the standard raw-to-central identities in ONE "
    "fixed-order double expression each, g1 = m3/m2^1.5, g2 = "
    "m4/m2^2 - 3. One partial+final hash aggregate; no second "
    "pass, no window.",
    oracle="""
        WITH m AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(ROUND(SUM(CAST(value AS DECIMAL(38,8))), 4)
                      AS DOUBLE) AS s1,
                 CAST(ROUND(SUM(CAST(value * value AS DECIMAL(38,8))), 2)
                      AS DOUBLE) AS s2,
                 CAST(ROUND(SUM(CAST(value * value * value
                                     AS DECIMAL(38,8))), 1)
                      AS DOUBLE) AS s3,
                 CAST(ROUND(SUM(CAST(value * value * value * value
                                     AS DECIMAL(38,8))), 0)
                      AS DOUBLE) AS s4
          FROM events WHERE value IS NOT NULL
          GROUP BY event_type)
        SELECT event_type, n,
               s1 / CAST(n AS DOUBLE) AS mean,
               (s2 / CAST(n AS DOUBLE)
                - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                   AS m2,
               (s3 / CAST(n AS DOUBLE)
                - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
                + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                      * (s1 / CAST(n AS DOUBLE)))
               / ((s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                  * sqrt(s2 / CAST(n AS DOUBLE)
                         - (s1 / CAST(n AS DOUBLE))
                           * (s1 / CAST(n AS DOUBLE)))) AS skewness,
               (s4 / CAST(n AS DOUBLE)
                - 4.0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
                + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                      * (s2 / CAST(n AS DOUBLE))
                - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                      * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
               / ((s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                  * (s2 / CAST(n AS DOUBLE)
                     - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))))
               - 3.0 AS excess_kurtosis
        FROM m
        ORDER BY event_type
    """,
)
def skew_kurtosis_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import dec

    v = F.col("value")
    m = (
        load(spark, sf_dir, "events")
        .where(v.isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(dec(v)), 4).cast("double").alias("s1"),
            F.round(F.sum(dec(v * v)), 2).cast("double").alias("s2"),
            F.round(F.sum(dec(v * v * v)), 1).cast("double").alias("s3"),
            F.round(F.sum(dec(v * v * v * v)), 0).cast("double").alias("s4"),
        )
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3.0 * mu * (F.col("s2") / n) + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4.0 * mu * (F.col("s3") / n)
        + 6.0 * mu * mu * (F.col("s2") / n)
        - 3.0 * mu * mu * mu * mu
    )
    return m.select(
        "event_type",
        "n",
        mu.alias("mean"),
        m2.alias("m2"),
        # m2 * sqrt(m2), not pow(m2, 1.5): sqrt is IEEE-correctly-rounded
        # in both engines, pow is a libm hazard (the ln() contract).
        (m3 / (m2 * F.sqrt(m2))).alias("skewness"),
        (m4 / (m2 * m2) - F.lit(3.0)).alias("excess_kurtosis"),
    ).orderBy("event_type")


_MRE_STEPS = 12
_MRE_CHANNELS = ("click", "error", "signup", "view")


def _mre_transitions_sql() -> str:
    """Shared transition-extraction CTEs (journeys absorb at purchase)."""
    return """
        seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) = 1
                     AS is_last
          FROM events),
        raw_t AS (
          SELECT prev, event_type AS next FROM seq
          WHERE prev IS NOT NULL AND prev <> 'purchase'
          UNION ALL
          SELECT event_type AS prev, 'END' AS next FROM seq
          WHERE is_last AND event_type <> 'purchase'),
        starts AS (
          SELECT event_type AS s, CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE prev IS NULL GROUP BY event_type),
        nstart AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM starts)"""


def _mre_scenario_sql(tag: str, removed: str | None) -> str:
    """One scenario: redirect transitions into `removed` to END, build
    micro-probabilities, unroll absorption steps. v holds only transient
    states; purchase contributes p(s->purchase)*1e6 each step."""
    redirect = (
        f"CASE WHEN next = '{removed}' THEN 'END' ELSE next END"
        if removed
        else "next"
    )
    sql = f"""
        t_{tag} AS (
          SELECT prev, {redirect} AS next, CAST(count(*) AS BIGINT) AS n
          FROM raw_t GROUP BY prev, {redirect}),
        p_{tag} AS (
          SELECT prev, next,
                 (n * 1000000) // SUM(n) OVER (PARTITION BY prev)
                     AS p_micro
          FROM t_{tag}),
        v_{tag}_0 AS (
          SELECT prev AS s, CAST(0 AS BIGINT) AS v
          FROM p_{tag} GROUP BY prev)"""
    for k in range(1, _MRE_STEPS + 1):
        sql += f""",
        v_{tag}_{k} AS (
          SELECT p.prev AS s,
                 CAST(SUM(p.p_micro
                          * (CASE WHEN p.next = 'purchase' THEN 1000000
                                  WHEN p.next = 'END' THEN 0
                                  ELSE COALESCE(v.v, 0) END)) // 1000000
                      AS BIGINT) AS v
          FROM p_{tag} p LEFT JOIN v_{tag}_{k - 1} v ON p.next = v.s
          GROUP BY p.prev)"""
    sql += f""",
        conv_{tag} AS (
          SELECT CAST(SUM(st.n * COALESCE(v.v,
                      CASE WHEN st.s = 'purchase' THEN 1000000 END))
                      // (SELECT tot FROM nstart) AS BIGINT) AS conv_micro
          FROM starts st LEFT JOIN v_{tag}_{_MRE_STEPS} v ON st.s = v.s)"""
    return sql


def _mre_oracle() -> str:
    parts = ["WITH" + _mre_transitions_sql()]
    parts.append(_mre_scenario_sql("base", None))
    for c in _MRE_CHANNELS:
        parts.append(_mre_scenario_sql(c, c))
    effects = " UNION ALL ".join(
        f"""SELECT '{c}' AS channel,
               (SELECT conv_micro FROM conv_base) AS base_conv_micro,
               (SELECT conv_micro FROM conv_{c}) AS removed_conv_micro,
               CAST((SELECT conv_micro FROM conv_base)
                    - (SELECT conv_micro FROM conv_{c}) AS DOUBLE)
               / CAST((SELECT conv_micro FROM conv_base) AS DOUBLE)
                   AS removal_effect"""
        for c in _MRE_CHANNELS
    )
    return (
        ",".join(parts)
        + f""",
        eff AS ({effects})
        SELECT channel, base_conv_micro, removed_conv_micro, removal_effect,
               removal_effect / SUM(removal_effect) OVER () AS credit_share
        FROM eff
        ORDER BY channel"""
    )


@register(
    name="markov_removal_attribution",
    survey="W2 J6 A7 F28 J5",
    doc="Markov removal-effect attribution (the data-driven multi-touch "
    "model of Anderl et al.: a channel's credit is how much the "
    "journey-level conversion probability DROPS when that channel is "
    "deleted from the transition graph and its traffic falls to the "
    "null absorber): per-user journeys absorb at purchase, "
    "transition probabilities are integer micro units (floor "
    "(n*1e6)/row-total), absorption probabilities come from 12 "
    "unrolled value-iteration steps in PURE integer arithmetic "
    "(products div 1e6 - engine-identical, geometrically converged "
    "at the bounded state domain), and each of the five scenarios "
    "(base + 4 removals) re-runs the same bounded-matrix iteration. "
    "The only row-sized work is the one lag() pass; everything "
    "after lives on a <=6x6 transition table. Output: per channel "
    "the removal effect and its normalized credit share.",
    oracle=_mre_oracle(),
    eager=True,  # fn materializes the bounded transition table once
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    # r12 batch 2 (guide §2.4): ONE window ordering. The old plan computed
    # is_last with a SECOND row_number window ordered DESC, forcing a
    # second full sort of every user partition; lead(event_id) over the
    # same ASC window is NULL exactly at the last row (event_id is
    # non-null), so both columns now come out of one exchange + one sort.
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w_seq).alias("prev"),
        F.lead("event_id").over(w_seq).isNull().alias("is_last"),
    )
    raw_t = (
        seq.where(F.col("prev").isNotNull() & (F.col("prev") != "purchase"))
        .select("prev", F.col("event_type").alias("next"))
        .unionByName(
            seq.where(F.col("is_last") & (F.col("event_type") != "purchase")).select(
                F.col("event_type").alias("prev"), F.lit("END").alias("next")
            )
        )
    )
    starts = (
        seq.where(F.col("prev").isNull())
        .groupBy(F.col("event_type").alias("s"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    nstart = starts.agg(F.sum("n").cast("bigint").alias("tot"))

    # r12 batch 2 (guide §2.3 aggregate before you shuffle): aggregate the
    # row-scale transitions to the bounded (prev, next) table FIRST, then
    # fan the <=36-row table out to the 5 scenarios. The old plan joined
    # every transition row against the 6-row scenario table (6x the
    # events-scale rows through the redirect projection) before
    # aggregating.
    base_t = raw_t.groupBy("prev", "next").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    scen = spark.createDataFrame(
        [("base", None)] + [(c, c) for c in _MRE_CHANNELS],
        "scenario string, removed string",
    )
    t = (
        base_t.join(F.broadcast(scen))
        .select(
            "scenario",
            "prev",
            F.when(F.col("next") == F.col("removed"), F.lit("END"))
            .otherwise(F.col("next"))
            .alias("next"),
            "n",
        )
        .groupBy("scenario", "prev", "next")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    # bounded (<=5 x 6 x 6) domain: the per-(scenario, prev) window is
    # aggregate-sized
    p = t.select(
        "scenario",
        "prev",
        "next",
        F.expr(
            "(n * 1000000) div SUM(n) OVER (PARTITION BY scenario, prev)"
        ).alias("p_micro"),
    )

    # r12 batch 2 (guide §4.2): the 12-step value iteration used to run as
    # 12 chained broadcast-join + aggregate jobs — pure scheduler overhead
    # on a <=5x6x6 table. One applyInPandas over the 5 scenario groups
    # runs the identical integer recurrence (products div 1e6 on exact
    # Python ints; SQL `div` == Python `//` on the non-negative domain)
    # in a single job; ~180 rows cross the Python boundary once.
    def _mre_value_iteration(pdf):
        import pandas as pd

        rows = []
        for scen_name, g in pdf.groupby("scenario"):
            trans = [
                (str(pv), str(nx), int(pm))
                for pv, nx, pm in zip(g["prev"], g["next"], g["p_micro"])
            ]
            states = sorted({pv for pv, _, _ in trans})
            v = {s: 0 for s in states}
            for _ in range(_MRE_STEPS):
                v = {
                    s: sum(
                        pm
                        * (
                            1000000
                            if nx == "purchase"
                            else 0 if nx == "END" else v.get(nx, 0)
                        )
                        for pv, nx, pm in trans
                        if pv == s
                    )
                    // 1000000
                    for s in states
                }
            rows += [(scen_name, s, v[s]) for s in states]
        return pd.DataFrame(rows, columns=["scenario", "s", "v"])

    v = p.groupBy("scenario").applyInPandas(
        _mre_value_iteration, "scenario string, s string, v long"
    )
    conv = (
        scen.select("scenario")
        .join(starts)
        .join(
            F.broadcast(
                v.select(F.col("scenario").alias("vscen"), F.col("s").alias("vs"), "v")
            ),
            (F.col("scenario") == F.col("vscen")) & (F.col("s") == F.col("vs")),
            "left",
        )
        .join(F.broadcast(nstart))
        .groupBy("scenario")
        .agg(
            F.expr(
                "CAST(SUM(n * COALESCE(v, CASE WHEN s = 'purchase'"
                " THEN 1000000 END)) div MAX(tot) AS BIGINT)"
            ).alias("conv_micro")
        )
        .localCheckpoint(eager=True)
    )
    base = conv.where(F.col("scenario") == "base").select(
        F.col("conv_micro").alias("base_conv_micro")
    )
    out = (
        conv.where(F.col("scenario") != "base")
        .select(
            F.col("scenario").alias("channel"),
            F.col("conv_micro").alias("removed_conv_micro"),
        )
        .join(F.broadcast(base))
        .select(
            "channel",
            "base_conv_micro",
            "removed_conv_micro",
            (
                (F.col("base_conv_micro") - F.col("removed_conv_micro")).cast(
                    "double"
                )
                / F.col("base_conv_micro").cast("double")
            ).alias("removal_effect"),
        )
    )
    wall = Window.partitionBy()
    return out.select(
        "channel",
        "base_conv_micro",
        "removed_conv_micro",
        "removal_effect",
        (F.col("removal_effect") / F.sum("removal_effect").over(wall)).alias(
            "credit_share"
        ),
    ).orderBy("channel")


@register(
    name="session_bounce_dwell",
    survey="W2 A7 F28 ST2",
    doc="Per-entry-point session quality: sessionize each user's stream "
    "with a 30-minute inactivity gap (the window-function twin of "
    "events_session_window's session_window operator), then roll "
    "sessions up by the event_type of their FIRST event — n_sessions, "
    "bounce rate (single-event sessions), and mean dwell time. All "
    "session stats are exact integer microsecond arithmetic; the only "
    "doubles are the two final divisions, written identically in both "
    "engines. Scale shape: one user-keyed window shuffle, a (user, "
    "session) hash agg that reuses the same key prefix, and a "
    "bounded-domain final rollup. The first-event pick is a row_number "
    "with a total (u, event_id) tiebreak, never an engine-specific "
    "first()/arg_min.",
    oracle="""
        WITH ord AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS u,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                         > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ), sess AS (
          SELECT user_id, event_id, event_type, u,
                 SUM(new_s) OVER (PARTITION BY user_id
                                  ORDER BY u, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM ord
        ), firsts AS (
          SELECT user_id, sid, event_type FROM (
            SELECT user_id, sid, event_type,
                   row_number() OVER (PARTITION BY user_id, sid
                                      ORDER BY u, event_id) AS rn
            FROM sess) t
          WHERE rn = 1
        ), stats AS (
          SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
                 MAX(u) - MIN(u) AS dur_us
          FROM sess GROUP BY 1, 2
        )
        SELECT f.event_type AS first_type,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN s.n_events = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bounce,
               CAST(SUM(CASE WHEN s.n_events = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bounce_rate,
               CAST(SUM(s.dur_us) AS BIGINT) AS total_dwell_us,
               CAST(SUM(s.dur_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / 1000000.0 AS avg_dwell_s
        FROM stats s
        JOIN firsts f ON s.user_id = f.user_id AND s.sid = f.sid
        GROUP BY f.event_type
        ORDER BY first_type
    """,
)
def session_bounce_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("u")
    )
    w = Window.partitionBy("user_id").orderBy("u", "event_id")
    ord_ = ev.withColumn(
        "new_s",
        F.when(
            F.lag("u").over(w).isNull()
            | (F.col("u") - F.lag("u").over(w) > 1_800_000_000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = ord_.withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("u", "event_id")
    firsts = (
        sess.withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") == 1)
        .select("user_id", "sid", "event_type")
    )
    stats = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("u") - F.min("u")).alias("dur_us"),
    )
    n_bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("bigint")
    return (
        stats.join(firsts, ["user_id", "sid"])
        .groupBy(F.col("event_type").alias("first_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            n_bounce.alias("n_bounce"),
            (
                n_bounce.cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("bounce_rate"),
            F.sum("dur_us").cast("bigint").alias("total_dwell_us"),
            (
                F.sum("dur_us").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1000000.0)
            ).alias("avg_dwell_s"),
        )
        .orderBy("first_type")
    )


@register(
    name="twap_user_value",
    survey="W2 A7 F28",
    doc="Time-weighted average value per user (the TWAP/metering "
    "semantics: each observation's value holds until the next event, so "
    "long-lived readings weigh more than bursts — the corrective twin of "
    "the plain arithmetic mean). Each hold interval is exact bigint "
    "microseconds from lead(); the value x duration term is a "
    "decimal(24,8) x decimal(13,0) product in value-microsecond units — "
    "exact in BOTH engines (precision 38 exactly, hugeint storage in the "
    "oracle engine, no reduction) because "
    "values are 2-dp-quantized and intervals are microsecond integers. "
    "Per-user sums are order-independent decimal adds rounded at scale "
    "0 (budget: max_value x calendar span ~ 1.5e15 < 2^53 at ANY SF — "
    "the span is calendar-bounded, so more rows never widen the sum), "
    "and the TWAP is one IEEE division written identically in both "
    "engines; the microseconds cancel in the ratio. One user-keyed window "
    "shuffle + a same-key hash agg; linear at any SF.",
    oracle="""
        WITH ord AS (
          SELECT user_id, value, epoch_us(ts) AS u,
                 lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY epoch_us(ts), event_id)
                     - epoch_us(ts) AS dt_us
          FROM events
        ), terms AS (
          SELECT user_id, dt_us,
                 CAST(value AS DECIMAL(24,8))
                   * CAST(dt_us AS DECIMAL(13,0)) AS term
          FROM ord WHERE dt_us IS NOT NULL
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(SUM(dt_us) AS BIGINT) AS span_us,
               CAST(ROUND(SUM(term), 0) AS DOUBLE)
                   / CAST(SUM(dt_us) AS DOUBLE) AS twap_value
        FROM terms
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("u", "event_id")
    ord_ = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "value", F.unix_micros(F.col("ts").cast("timestamp")).alias("u"))
        .withColumn("dt_us", F.lead("u").over(w) - F.col("u"))
        .where(F.col("dt_us").isNotNull())
    )
    # decimal(12,8) x decimal(13,6): Spark result precision 12+13+1=26,
    # DuckDB 12+13=25(+scale) — both under 38, so the product is exact and
    # the per-user decimal sum is order-independent (functions/exact.py).
    terms = ord_.select(
        "user_id",
        "dt_us",
        (
            F.col("value").cast("decimal(24,8)")
            * F.col("dt_us").cast("decimal(13,0)")
        ).alias("term"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum("dt_us").cast("bigint").alias("span_us"),
            (
                F.round(F.sum("term"), 0).cast("double")
                / F.sum("dt_us").cast("double")
            ).alias("twap_value"),
        )
        .orderBy("user_id")
    )


@register(
    name="sequence_pattern_match",
    survey="A1 W1 F9 F17 A7",
    doc="MATCH_RECOGNIZE-style sequence pattern detection without the "
    "clause (Spark lacks it): encode each user's event stream as a "
    "character string (one letter per event type, order pinned by "
    "(ts, event_id)) and count NON-OVERLAPPING regex matches — the "
    "conversion funnel 'VC+P' (view, 1+ clicks, purchase) and the "
    "error-burst 'EE+' — then roll up match statistics per pattern. "
    "Both engines use leftmost-first non-overlapping greedy matching "
    "for these patterns, so counts are engine-exact. The per-user "
    "string is bounded by per-key activity (the same per-key memory "
    "contract as any collect_list sequence op; at cluster scale, "
    "window the sequence by month first). One user-keyed sort-agg "
    "shuffle, then a bounded per-pattern rollup.",
    oracle="""
        WITH seq AS (
          SELECT user_id,
                 string_agg(CASE event_type
                              WHEN 'click' THEN 'C'
                              WHEN 'error' THEN 'E'
                              WHEN 'purchase' THEN 'P'
                              WHEN 'signup' THEN 'S'
                              ELSE 'V' END, ''
                            ORDER BY epoch_us(ts), event_id) AS s
          FROM events GROUP BY user_id
        ), counts AS (
          SELECT user_id,
                 CAST(len(regexp_extract_all(s, 'VC+P')) AS BIGINT)
                     AS funnel_vcp,
                 CAST(len(regexp_extract_all(s, 'EE+')) AS BIGINT)
                     AS error_burst
          FROM seq
        ), unp AS (
          SELECT user_id, 'funnel_vcp' AS pattern, funnel_vcp AS n
          FROM counts
          UNION ALL
          SELECT user_id, 'error_burst', error_burst FROM counts
        )
        SELECT pattern,
               CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_users_matched,
               CAST(SUM(n) AS BIGINT) AS total_matches,
               CAST(MAX(n) AS BIGINT) AS max_matches_per_user
        FROM unp
        GROUP BY pattern
        ORDER BY pattern
    """,
)
def sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("u"),
        F.when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "error", "E")
        .when(F.col("event_type") == "purchase", "P")
        .when(F.col("event_type") == "signup", "S")
        .otherwise("V")
        .alias("ch"),
    )
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.struct("u", "event_id", "ch"))).ch, ""
        ).alias("s")
    )
    counts = seq.select(
        "user_id",
        F.regexp_count("s", F.lit("VC+P")).cast("bigint").alias("funnel_vcp"),
        F.regexp_count("s", F.lit("EE+")).cast("bigint").alias("error_burst"),
    )
    unp = counts.selectExpr(
        "user_id",
        "stack(2, 'funnel_vcp', funnel_vcp, 'error_burst', error_burst)"
        " AS (pattern, n)",
    )
    return (
        unp.groupBy("pattern")
        .agg(
            F.sum(F.when(F.col("n") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_users_matched"),
            F.sum("n").cast("bigint").alias("total_matches"),
            F.max("n").cast("bigint").alias("max_matches_per_user"),
        )
        .orderBy("pattern")
    )


@register(
    name="wasserstein_value_distance",
    survey="A7 J6 W3 F28 U1",
    doc="EXACT 1-Wasserstein (earth-mover) distance between the value "
    "distributions of every event-type pair — the drift metric that, "
    "unlike KS/PSI/KL (all registered), weighs HOW FAR mass moved, "
    "not just whether it did. Key scale move: values are 2-dp "
    "quantized, so the first aggregation collapses the row-sized "
    "input onto the bounded (type, cent) domain (<=56k cents); the "
    "CDF windows, grid gaps, and pair joins all run on that bounded "
    "domain and cost the same at any SF. W1 = sum over the merged "
    "grid of |cumA*nB - cumB*nA| * gap, cross-multiplied in "
    "decimal(18,0) products (exact, order-independent sum), divided "
    "once by nA*nB*100 at the end — no per-row IEEE arithmetic "
    "anywhere. Ten output rows (5 choose 2 type pairs). Final-cast "
    "budget: the decimal sum stays ~1e11 at sf0.1, far under the 2^53 "
    "double-cast bound (functions/exact.py rule); at cluster scale "
    "divide by nA*nB inside decimal first.",
    oracle="""
        WITH cnt AS (
          SELECT event_type AS t,
                 CAST(ROUND(value * 100) AS BIGINT) AS cent,
                 CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2
        ), tot AS (
          SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY t
        ), grid AS (
          SELECT DISTINCT cent FROM cnt
        ), gaps AS (
          SELECT cent,
                 lead(cent) OVER (ORDER BY cent) - cent AS gap
          FROM grid
        ), expanded AS (
          SELECT tt.t, g.cent, COALESCE(cnt.c, 0) AS c
          FROM grid g CROSS JOIN (SELECT DISTINCT t FROM cnt) tt
          LEFT JOIN cnt ON cnt.t = tt.t AND cnt.cent = g.cent
        ), cum AS (
          SELECT t, cent,
                 SUM(c) OVER (PARTITION BY t ORDER BY cent
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM expanded
        ), paired AS (
          SELECT a.t AS type_a, b.t AS type_b, a.cent,
                 ABS(CAST(a.cum AS DECIMAL(18,0))
                     * CAST(tb.n AS DECIMAL(18,0))
                   - CAST(b.cum AS DECIMAL(18,0))
                     * CAST(ta.n AS DECIMAL(18,0)))
                 * CAST(g.gap AS DECIMAL(18,0)) AS term
          FROM cum a
          JOIN cum b ON a.cent = b.cent AND a.t < b.t
          JOIN gaps g ON g.cent = a.cent
          JOIN tot ta ON ta.t = a.t
          JOIN tot tb ON tb.t = b.t
          WHERE g.gap IS NOT NULL
        )
        SELECT p.type_a, p.type_b, ta.n AS n_a, tb.n AS n_b,
               CAST(SUM(p.term) AS DOUBLE)
                 / (CAST(ta.n AS DOUBLE) * CAST(tb.n AS DOUBLE) * 100.0)
                   AS w1_distance
        FROM paired p
        JOIN tot ta ON ta.t = p.type_a
        JOIN tot tb ON tb.t = p.type_b
        GROUP BY p.type_a, p.type_b, ta.n, tb.n
        ORDER BY type_a, type_b
    """,
)
def wasserstein_value_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cnt = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("t"),
            F.round(F.col("value") * 100).cast("bigint").alias("cent"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = cnt.groupBy("t").agg(F.sum("c").cast("bigint").alias("n"))
    grid = cnt.select("cent").distinct()
    gaps = grid.withColumn(
        "gap", F.lead("cent").over(Window.orderBy("cent")) - F.col("cent")
    )
    types = cnt.select("t").distinct()
    expanded = (
        grid.crossJoin(F.broadcast(types))
        .join(cnt, ["t", "cent"], "left")
        .select("t", "cent", F.coalesce("c", F.lit(0)).alias("c"))
    )
    cum = expanded.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("t")
            .orderBy("cent")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    a = cum.alias("a")
    b = cum.alias("b")
    ta = tot.select(F.col("t").alias("type_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("t").alias("type_b"), F.col("n").alias("n_b"))
    paired = (
        a.join(
            b,
            (F.col("a.cent") == F.col("b.cent")) & (F.col("a.t") < F.col("b.t")),
        )
        .select(
            F.col("a.t").alias("type_a"),
            F.col("b.t").alias("type_b"),
            F.col("a.cent").alias("cent"),
            F.col("a.cum").alias("cum_a"),
            F.col("b.cum").alias("cum_b"),
        )
        .join(gaps.where(F.col("gap").isNotNull()), "cent")
        .join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            (
                F.abs(
                    F.col("cum_a").cast("decimal(18,0)")
                    * F.col("n_b").cast("decimal(18,0)")
                    - F.col("cum_b").cast("decimal(18,0)")
                    * F.col("n_a").cast("decimal(18,0)")
                )
                * F.col("gap").cast("decimal(18,0)")
            ).alias("term"),
        )
    )
    return (
        paired.groupBy("type_a", "type_b", "n_a", "n_b")
        .agg(
            (
                F.sum("term").cast("double")
                / (
                    F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                    * F.lit(100.0)
                )
            ).alias("w1_distance")
        )
        .select("type_a", "type_b", "n_a", "n_b", "w1_distance")
        .orderBy("type_a", "type_b")
    )


@register(
    name="shapley_channel_attribution",
    survey="A7 J5 F28 W2 U1",
    doc="EXACT Shapley-value channel attribution (Shapley 1953) — "
    "completing the attribution family (position/U-shaped/Markov "
    "removal are registered) with the one game-theoretically fair "
    "scheme: channels are the 4 pre-conversion event types, each "
    "user's touch COALITION is the bit-or mask of types seen before "
    "their first purchase, the characteristic function v(S) is the "
    "conversion rate among users whose touches fit inside S, and "
    "Shapley_i = sum over S not containing i of w(|S|)*(v(S+i)-v(S)). "
    "The scale trick: users collapse onto the 16-row mask domain "
    "FIRST (one user-keyed agg), so the entire coalition lattice — "
    "subset sums, v values, the 2^4 Shapley expansion — lives on "
    "broadcast-sized tables. v is integer-micro quantized "
    "((c*1e6) div n) BEFORE the weighted sum, and the factorial "
    "weights ride the common denominator 24 as exact integers "
    "(6,2,2,6), so the only IEEE op is the final /24e6 display "
    "division.",
    oracle="""
        WITH first_p AS (
          SELECT user_id, min(epoch_us(ts)) AS pu
          FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ), touches AS (
          SELECT e.user_id,
                 bit_or(CASE e.event_type
                          WHEN 'click' THEN 1
                          WHEN 'error' THEN 2
                          WHEN 'signup' THEN 4
                          WHEN 'view' THEN 8
                          ELSE 0 END) AS mask,
                 MAX(CASE WHEN f.user_id IS NOT NULL
                          THEN 1 ELSE 0 END) AS converted
          FROM events e LEFT JOIN first_p f ON e.user_id = f.user_id
          WHERE e.event_type <> 'purchase'
            AND (f.pu IS NULL OR epoch_us(e.ts) < f.pu)
          GROUP BY e.user_id
        ), mask_stats AS (
          SELECT mask, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(converted) AS BIGINT) AS c
          FROM touches WHERE mask <> 0 GROUP BY mask
        ), coal AS (
          SELECT CAST(s.s AS BIGINT) AS s
          FROM (SELECT unnest(range(0, 16)) AS s) s
        ), v AS (
          SELECT co.s,
                 CASE WHEN COALESCE(SUM(m.n), 0) > 0
                      THEN (COALESCE(SUM(m.c), 0) * 1000000)
                           // SUM(m.n)
                      ELSE 0 END AS v_micro
          FROM coal co
          LEFT JOIN mask_stats m ON (m.mask & ~co.s) = 0
          GROUP BY co.s
        ), chan AS (
          SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)),
                                ('error', CAST(2 AS BIGINT)),
                                ('signup', CAST(4 AS BIGINT)),
                                ('view', CAST(8 AS BIGINT)))
                   AS t(channel, bit)
        ), terms AS (
          SELECT ch.channel,
                 CASE bit_count(co.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                                      WHEN 2 THEN 2 ELSE 6 END
                 * (vi.v_micro - vs.v_micro) AS term24
          FROM chan ch
          JOIN coal co ON (co.s & ch.bit) = 0
          JOIN v vs ON vs.s = co.s
          JOIN v vi ON vi.s = co.s + ch.bit
        )
        SELECT channel,
               CAST(SUM(term24) AS BIGINT) AS shapley_micro24,
               CAST(SUM(term24) AS DOUBLE) / 24000000.0 AS shapley_value
        FROM terms
        GROUP BY channel
        ORDER BY channel
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("u"),
    )
    first_p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("u").alias("pu"))
    )
    touches = (
        ev.where(F.col("event_type") != "purchase")
        .join(first_p, "user_id", "left")
        .where(F.col("pu").isNull() | (F.col("u") < F.col("pu")))
        .groupBy("user_id")
        .agg(
            F.expr(
                "bit_or(CASE event_type WHEN 'click' THEN 1"
                " WHEN 'error' THEN 2 WHEN 'signup' THEN 4"
                " WHEN 'view' THEN 8 ELSE 0 END)"
            ).alias("mask"),
            F.max(
                F.when(F.col("pu").isNotNull(), 1).otherwise(0)
            ).alias("converted"),
        )
    )
    mask_stats = (
        touches.where(F.col("mask") != 0)
        .groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("converted").cast("bigint").alias("c"),
        )
    )
    coal = spark.range(0, 16).select(F.col("id").cast("bigint").alias("s"))
    v = (
        coal.join(
            F.broadcast(mask_stats),
            F.expr("(mask & ~s) = 0"),
            "left",
        )
        .groupBy("s")
        .agg(
            F.expr(
                "CASE WHEN COALESCE(SUM(n), 0) > 0"
                " THEN (COALESCE(SUM(c), 0) * 1000000) div SUM(n)"
                " ELSE 0 END"
            ).alias("v_micro")
        )
    )
    chan = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, bit bigint",
    )
    vs = v.select(F.col("s").alias("s0"), F.col("v_micro").alias("v0"))
    vi = v.select(F.col("s").alias("s1"), F.col("v_micro").alias("v1"))
    terms = (
        chan.join(F.broadcast(coal), F.expr("(s & bit) = 0"))
        .join(F.broadcast(vs), F.col("s0") == F.col("s"))
        .join(F.broadcast(vi), F.col("s1") == F.col("s") + F.col("bit"))
        .select(
            "channel",
            (
                F.expr(
                    "CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2"
                    " WHEN 2 THEN 2 ELSE 6 END"
                )
                * (F.col("v1") - F.col("v0"))
            ).alias("term24"),
        )
    )
    return (
        terms.groupBy("channel")
        .agg(
            F.sum("term24").cast("bigint").alias("shapley_micro24"),
            (F.sum("term24").cast("double") / F.lit(24000000.0)).alias(
                "shapley_value"
            ),
        )
        .orderBy("channel")
    )


@register(
    name="dispersion_index_per_type",
    survey="A7 F15 F28",
    doc="Count overdispersion screen per event type — the Poisson "
    "sanity check a capacity planner runs before trusting a mean-rate "
    "model: the variance-to-mean ratio (index of dispersion) of the "
    "DAILY count series, plus the chi-square statistic (n-1)*VMR "
    "whose large values reject equidispersion. Daily counts are "
    "exact integers on the calendar-bounded day domain, the moments "
    "are integer sums (counts and squared counts), and VMR/chi2 are "
    "fixed-order double expressions on those integers — no "
    "per-row floating point anywhere. One row-sized agg, then "
    "everything on the bounded (type, day) domain.",
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '2024-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
                     AS d,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ), m AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_days,
                 CAST(SUM(n) AS BIGINT) AS s1,
                 CAST(SUM(n * n) AS BIGINT) AS s2
          FROM daily GROUP BY event_type
        )
        SELECT event_type, n_days, s1 AS total_events,
               (CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n_days AS DOUBLE) * CAST(s1 AS DOUBLE))
                   AS dispersion_index,
               (CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n_days AS DOUBLE) * CAST(s1 AS DOUBLE))
               * (CAST(n_days AS DOUBLE) - 1.0) AS chi2_stat
        FROM m
        ORDER BY event_type
    """,
)
def dispersion_index_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
    )
    vmr = (
        "(CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        " / (CAST(n_days AS DOUBLE) * CAST(s1 AS DOUBLE))"
    )
    return m.select(
        "event_type",
        "n_days",
        F.col("s1").alias("total_events"),
        F.expr(vmr).alias("dispersion_index"),
        F.expr(f"{vmr} * (CAST(n_days AS DOUBLE) - 1.0)").alias("chi2_stat"),
    ).orderBy("event_type")


def _stationary_cte_chain(rounds: int) -> str:
    """pi_0 .. pi_R CTEs: micro-int power iteration on the 5x5 chain."""
    ctes = [
        "pi_0 AS (SELECT t AS st, CAST(200000 AS BIGINT) AS pi_micro"
        " FROM (SELECT DISTINCT prev AS t FROM p) s)"
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"pi_{r} AS ("
            f" SELECT p.next AS st,"
            f" CAST(SUM(pi.pi_micro * p.p_micro) // 1000000 AS BIGINT)"
            f" AS pi_micro"
            f" FROM pi_{r - 1} pi JOIN p ON p.prev = pi.st"
            f" GROUP BY p.next)"
        )
    return ",\n        ".join(ctes)


@register(
    name="markov_stationary_distribution",
    survey="A7 J5 W2 F28",
    doc="Stationary distribution of the user-behavior Markov chain — "
    "the long-run state occupancy that markov_transition_matrix's "
    "one-step probabilities imply, computed by TEN unrolled "
    "power-iteration rounds entirely in integer micro arithmetic "
    "(row-stochastic probabilities and the pi vector both live in "
    "1e-6 units; each round is a 5x5 join + floor-div — "
    "deterministic, no IEEE accumulation). The chain lives on the "
    "bounded event-type domain, so every iteration costs a 5-row "
    "join regardless of SF; the only row-sized work is the one "
    "transition-count pass. Each CTE references its predecessor "
    "exactly once (the iterative-oracle inlining contract). Output "
    "compares the fixed point against the empirical state frequency "
    "— agreement is the chain's ergodicity check.",
    oracle=f"""
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id)
                     AS prev
          FROM events
        ), c AS (
          SELECT prev, event_type AS next,
                 CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
        ), rowtot AS (
          SELECT prev, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY prev
        ), p AS (
          SELECT c.prev, c.next,
                 (c.n * 1000000) // r.tot AS p_micro
          FROM c JOIN rowtot r ON r.prev = c.prev
        ),
        {{CHAIN}},
        emp AS (
          SELECT event_type AS st, CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1
        ), etot AS (
          SELECT CAST(SUM(n) AS BIGINT) AS tot FROM emp
        )
        SELECT f.st AS event_type,
               f.pi_micro AS stationary_micro,
               CAST(f.pi_micro AS DOUBLE) / 1000000.0 AS stationary_prob,
               CAST(e.n AS DOUBLE) / CAST(t.tot AS DOUBLE)
                   AS empirical_share
        FROM pi_10 f
        JOIN emp e ON e.st = f.st
        CROSS JOIN etot t
        ORDER BY event_type
    """.replace("{CHAIN}", _stationary_cte_chain(10)),
)
def markov_stationary_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("u"),
    )
    w = Window.partitionBy("user_id").orderBy("u", "event_id")
    seq = ev.withColumn("prev", F.lag("event_type").over(w))
    c = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    rowtot = c.groupBy("prev").agg(F.sum("n").cast("bigint").alias("tot"))
    p = c.join(rowtot, "prev").select(
        "prev", "next", F.expr("(n * 1000000) div tot").alias("p_micro")
    )
    # r12 (guide §4.2): the ten power-iteration rounds used to run as ten
    # chained join + aggregate jobs over the <=6x6 (prev, next, p_micro)
    # table — a 2,200-line physical plan of pure scheduler/plan-compile
    # overhead (plans/r12/markov_stationary_distribution_before.txt). One
    # applyInPandas task over that bounded table runs the identical
    # integer recurrence: per round, pi'(next) = SUM(pi(prev) * p_micro)
    # div 1e6 over the rows whose prev is in the current pi — exact
    # Python ints, `//` == SQL `div` on this non-negative domain, and the
    # inner-join semantics (states appear next round iff >= 1 matching
    # row) are reproduced by the membership guard. The transition table
    # is |event_type|^2-bounded REGARDLESS of corpus size, so the
    # single-group stage cannot grow with data (same argument as
    # power_iteration_top_pc / markov_removal_attribution).
    def _stationary_iterate(pdf):
        import pandas as pd

        trans = [
            (str(pv), str(nx), int(pm))
            for pv, nx, pm in zip(pdf["prev"], pdf["next"], pdf["p_micro"])
        ]
        pi = {pv: 200000 for pv, _, _ in trans}
        for _ in range(10):
            acc: dict = {}
            for pv, nx, pm in trans:
                if pv in pi:
                    acc[nx] = acc.get(nx, 0) + pi[pv] * pm
            pi = {s: v // 1000000 for s, v in acc.items()}
        return pd.DataFrame(
            {"st": list(pi.keys()), "pi_micro": list(pi.values())}
        )

    pi = p.groupBy(F.lit(1).alias("_g")).applyInPandas(
        _stationary_iterate, "st string, pi_micro bigint"
    )
    emp = load(spark, sf_dir, "events").groupBy(
        F.col("event_type").alias("st")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    etot = emp.agg(F.sum("n").cast("bigint").alias("tot"))
    return (
        pi.join(emp, "st")
        .crossJoin(F.broadcast(etot))
        .select(
            F.col("st").alias("event_type"),
            F.col("pi_micro").alias("stationary_micro"),
            (F.col("pi_micro").cast("double") / 1000000.0).alias("stationary_prob"),
            (F.col("n").cast("double") / F.col("tot").cast("double")).alias(
                "empirical_share"
            ),
        )
        .orderBy("event_type")
    )


@register(
    name="huber_mean_per_type",
    survey="A7 F28 J5",
    doc="Huber M-estimator of location per event type — the 1-D "
    "counterpart of geometric_median_embedding and the principled "
    "middle ground between the mean (efficient, fragile) and the "
    "median (robust, noisy), via two unrolled IRLS rounds ENTIRELY "
    "in integer arithmetic: values are exact cents, the Huber weight "
    "min(1, k/|residual|) is micro-quantized by integer division "
    "(k = $50 tuning constant), and each round's weighted center is "
    "one integer-ratio division. Budget: w_micro x cents x rows ~ "
    "5.6e15 < 2^63 at sf0.1 (decimal(38,0) at cluster scale). Each "
    "round is a broadcast of 5 centers + a linear scan with map-side "
    "partial agg onto the event-type domain.",
    oracle="""
        WITH v AS (
          SELECT event_type,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ), m0 AS (
          SELECT event_type,
                 CAST(SUM(cents) AS BIGINT) // CAST(count(*) AS BIGINT)
                     AS mu,
                 CAST(SUM(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / 100.0 AS mean_dollars
          FROM v GROUP BY event_type
        ), r1 AS (
          SELECT v.event_type, v.cents,
                 CASE WHEN abs(v.cents - m.mu) <= 5000 THEN 1000000
                      ELSE 5000000000 // abs(v.cents - m.mu) END
                     AS w_micro
          FROM v JOIN m0 m ON m.event_type = v.event_type
        ), m1 AS (
          SELECT event_type,
                 CAST(SUM(w_micro * cents) AS BIGINT)
                   // CAST(SUM(w_micro) AS BIGINT) AS mu
          FROM r1 GROUP BY event_type
        ), r2 AS (
          SELECT v.event_type, v.cents,
                 CASE WHEN abs(v.cents - m.mu) <= 5000 THEN 1000000
                      ELSE 5000000000 // abs(v.cents - m.mu) END
                     AS w_micro
          FROM v JOIN m1 m ON m.event_type = v.event_type
        ), m2 AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(w_micro * cents) AS BIGINT)
                   // CAST(SUM(w_micro) AS BIGINT) AS mu,
                 CAST(SUM(CASE WHEN w_micro < 1000000 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_downweighted
          FROM r2 GROUP BY event_type
        )
        SELECT m2.event_type, m2.n,
               m0.mean_dollars,
               CAST(m2.mu AS DOUBLE) / 100.0 AS huber_mean_dollars,
               m2.n_downweighted
        FROM m2 JOIN m0 ON m0.event_type = m2.event_type
        ORDER BY m2.event_type
    """,
)
def huber_mean_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(ROUND(value * 100) AS BIGINT) AS cents"
    )
    m0 = v.groupBy("event_type").agg(
        F.expr(
            "CAST(SUM(cents) AS BIGINT) div CAST(count(*) AS BIGINT)"
        ).alias("mu"),
        F.expr(
            "CAST(SUM(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0"
        ).alias("mean_dollars"),
    )

    def irls(mus: DataFrame):
        return (
            v.join(F.broadcast(mus.select("event_type", "mu")), "event_type")
            .selectExpr(
                "event_type",
                "cents",
                "CASE WHEN abs(cents - mu) <= 5000 THEN 1000000"
                " ELSE CAST(5000000000 AS BIGINT) div abs(cents - mu) END"
                " AS w_micro",
            )
        )

    m1 = irls(m0).groupBy("event_type").agg(
        F.expr(
            "CAST(SUM(w_micro * cents) AS BIGINT)"
            " div CAST(SUM(w_micro) AS BIGINT)"
        ).alias("mu")
    )
    m2 = irls(m1).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST(SUM(w_micro * cents) AS BIGINT)"
            " div CAST(SUM(w_micro) AS BIGINT)"
        ).alias("mu"),
        F.sum(F.when(F.col("w_micro") < 1000000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_downweighted"),
    )
    return (
        m2.join(m0.select("event_type", "mean_dollars"), "event_type")
        .select(
            "event_type",
            "n",
            "mean_dollars",
            (F.col("mu").cast("double") / 100.0).alias("huber_mean_dollars"),
            "n_downweighted",
        )
        .orderBy("event_type")
    )


@register(
    name="user_day_bitmap_activity",
    survey="A7 A8 F15 F28",
    doc="Roaring-bitmap-style presence aggregation with plain BIGINT "
    "masks: each user's January activity collapses to ONE 30-bit mask "
    "via bit_or(shiftleft(1, day-1)) — the map-side combine is a single "
    "OR per partition, so the shuffle carries 8 bytes per (user, "
    "partition) regardless of event count (the exact trick bitmap "
    "indexes use for distinct-day semantics at 100 TB). active_days = "
    "bit_count(mask); weekend_days = bit_count(mask & the Jan-2024 "
    "weekend literal mask). Output: users histogrammed by (active_days, "
    "weekend_days) — all integers end to end; DuckDB runs the identical "
    "bit algebra.",
    oracle="""
        WITH m AS (
          SELECT user_id,
                 bit_or(CAST(1 AS BIGINT)
                        << (CAST(date_part('day', ts) AS INTEGER) - 1))
                     AS mask
          FROM events GROUP BY user_id
        ), per_user AS (
          SELECT CAST(bit_count(mask) AS BIGINT) AS active_days,
                 CAST(bit_count(mask & CAST(202911840 AS BIGINT))
                      AS BIGINT) AS weekend_days
          FROM m
        )
        SELECT active_days, weekend_days,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM per_user
        GROUP BY active_days, weekend_days
        ORDER BY active_days, weekend_days
    """,
)
def user_day_bitmap_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Jan-2024 weekends are the 6/7, 13/14, 20/21, 27/28 => mask
    # sum(1<<(d-1)) = 202911840 (pinned as a literal in BOTH engines so
    # the contract is auditable, not derived at runtime).
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr("day(ts)").alias("d")
    )
    masks = ev.groupBy("user_id").agg(
        F.expr("bit_or(shiftleft(1L, d - 1))").alias("mask")
    )
    per_user = masks.select(
        F.expr("CAST(bit_count(mask) AS BIGINT)").alias("active_days"),
        F.expr(
            "CAST(bit_count(mask & CAST(202911840 AS BIGINT)) AS BIGINT)"
        ).alias("weekend_days"),
    )
    return (
        per_user.groupBy("active_days", "weekend_days")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("active_days", "weekend_days")
    )


@register(
    name="longest_streak_bitops",
    survey="A7 W3 F28",
    doc="Longest consecutive-day activity streak per user, computed "
    "entirely in integer bit algebra on the 30-bit January mask: "
    "iterate x -> x & (x << 1) (each step erases the tail bit of every "
    "run, so run lengths drop by one) and count non-zero iterates — "
    "the streak pops out with NO sort, NO window over the row "
    "population, NO gaps-and-islands join: one 8-byte mask per user "
    "carries everything. Each iterate references its predecessor "
    "TWICE, so naive alias/CTE chaining inlines 2^30 expression copies "
    "(measured: DuckDB lateral aliases hang); the oracle pins each "
    "step AS MATERIALIZED and the Spark side chains withColumn "
    "projections, which CollapseProject refuses to inline for "
    "multiply-referenced non-trivial aliases. Output: streak-length "
    "histogram.",
    oracle="""
        WITH it0 AS MATERIALIZED (
          SELECT user_id, x AS x,
                 CASE WHEN x <> 0 THEN 1 ELSE 0 END AS s
          FROM (SELECT user_id,
                       bit_or(CAST(1 AS BIGINT)
                              << (CAST(date_part('day', ts) AS INTEGER)
                                  - 1)) AS x
                FROM events GROUP BY user_id)
        ),
        it1 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it0
        ),
        it2 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it1
        ),
        it3 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it2
        ),
        it4 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it3
        ),
        it5 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it4
        ),
        it6 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it5
        ),
        it7 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it6
        ),
        it8 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it7
        ),
        it9 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it8
        ),
        it10 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it9
        ),
        it11 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it10
        ),
        it12 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it11
        ),
        it13 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it12
        ),
        it14 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it13
        ),
        it15 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it14
        ),
        it16 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it15
        ),
        it17 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it16
        ),
        it18 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it17
        ),
        it19 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it18
        ),
        it20 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it19
        ),
        it21 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it20
        ),
        it22 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it21
        ),
        it23 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it22
        ),
        it24 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it23
        ),
        it25 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it24
        ),
        it26 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it25
        ),
        it27 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it26
        ),
        it28 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it27
        ),
        it29 AS MATERIALIZED (
          SELECT user_id, x & (x << 1) AS x,
                 s + CASE WHEN (x & (x << 1)) <> 0 THEN 1 ELSE 0 END AS s
          FROM it28
        )
        SELECT CAST(s AS BIGINT) AS streak,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM it29 GROUP BY s ORDER BY streak
    """,
)
def longest_streak_bitops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr("day(ts)").alias("d")
    )
    cur = ev.groupBy("user_id").agg(
        F.expr("bit_or(shiftleft(1L, d - 1))").alias("x0")
    )
    for k in range(1, 30):
        cur = cur.withColumn(f"x{k}", F.expr(f"x{k - 1} & (x{k - 1} << 1)"))
    streak = " + ".join(
        f"CASE WHEN x{k} <> 0 THEN 1 ELSE 0 END" for k in range(30)
    )
    return (
        cur.select(F.expr(f"CAST({streak} AS BIGINT)").alias("streak"))
        .groupBy("streak")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("streak")
    )


@register(
    name="user_active_coverage_micros",
    survey="W2 A7 F16 F28",
    doc="Interval-union coverage (the sweep-line 'how long was each "
    "user actually active' measure): every event opens a 5-minute "
    "activity interval; per user, overlapping intervals merge and the "
    "UNION length is the active time. One pass, no interval "
    "self-join: order events per user (keyed window), lag() the "
    "previous timestamp, and each event contributes "
    "min(gap_to_previous, 5min) microseconds (the first event a full "
    "window) — algebraically identical to merging islands then "
    "summing lengths, but it never materializes the islands. All "
    "arithmetic in exact µs BIGINTs from unix_micros. Output: "
    "distribution of per-user active minutes (bounded domain).",
    oracle="""
        WITH e AS (
          SELECT user_id,
                 CAST(epoch_us(ts) AS BIGINT) AS us,
                 LAG(CAST(epoch_us(ts) AS BIGINT)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events
        ), per_user AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN prev IS NULL THEN 300000000
                               ELSE LEAST(us - prev, 300000000) END)
                      AS BIGINT) AS active_us
          FROM e GROUP BY user_id
        )
        SELECT CAST(active_us // 60000000 AS BIGINT) AS active_minutes,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM per_user
        GROUP BY active_us // 60000000
        ORDER BY active_minutes
    """,
)
def user_active_coverage_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    contrib = e.withColumn("prev", F.lag("us").over(w)).select(
        "user_id",
        F.expr(
            "CASE WHEN prev IS NULL THEN 300000000"
            " ELSE LEAST(us - prev, 300000000) END"
        ).alias("c"),
    )
    per_user = contrib.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("active_us")
    )
    return (
        per_user.selectExpr(
            "CAST(active_us div 60000000 AS BIGINT) AS active_minutes"
        )
        .groupBy("active_minutes")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("active_minutes")
    )


@register(
    name="incremental_agg_maintenance",
    survey="A7 U1 J7 F15",
    doc="Incremental materialized-view maintenance: a per-user aggregate "
    "built from the first half of the month (the 'existing view') is "
    "REFRESHED with the second half's rows by merging PARTIAL "
    "aggregates — counts and micro-quantized sums add, no rescan of "
    "the old half — via one full-outer coalesce-combine. The oracle is "
    "the full recompute over all events, pinning the algebraic "
    "identity partial-merge == recompute that every incremental "
    "pipeline (streaming upsert views, medallion silver->gold) relies "
    "on. Scale shape: the delta shuffle is delta-sized, the merge is "
    "keyed on user_id; a refresh touches O(delta + touched keys), "
    "never O(view).",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(COALESCE(SUM(CAST(floor(value * 1000000 + 0.5)
                                      AS BIGINT)), 0) AS BIGINT)
                   AS value_micro_sum
        FROM events GROUP BY user_id
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").selectExpr(
        "user_id",
        "ts",
        "CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro",
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.coalesce(F.sum("v_micro"), F.lit(0))
            .cast("bigint")
            .alias("value_micro_sum"),
        )

    view = partial(ev.where(F.dayofmonth("ts") <= 15))
    delta = partial(ev.where(F.dayofmonth("ts") > 15))
    merged = view.alias("a").join(
        delta.alias("b"), on="user_id", how="full_outer"
    )
    z = F.lit(0).cast("bigint")
    return merged.select(
        "user_id",
        (
            F.coalesce(F.col("a.n_events"), z)
            + F.coalesce(F.col("b.n_events"), z)
        ).alias("n_events"),
        (
            F.coalesce(F.col("a.value_micro_sum"), z)
            + F.coalesce(F.col("b.value_micro_sum"), z)
        ).alias("value_micro_sum"),
    )


@register(
    name="seasonal_decompose_daily",
    survey="W3 A7 F15 J5",
    doc="Classical seasonal decomposition of the daily event series "
    "(trend + day-of-week seasonal + residual, the moving-average STL "
    "ancestor): trend is a centered 7-day frame average, the seasonal "
    "term is the mean detrended deviation per weekday slot, residual "
    "is what remains. ALL integer arithmetic — trend and seasonal are "
    "micro-scaled truncated quotients (DuckDB // and Spark div both "
    "truncate toward zero, verified including negatives), the weekday "
    "slot is (epoch_day - anchor) % 7 computed from the day integer "
    "(never an engine dayofweek(), whose week origin differs across "
    "engines) — so the decomposition is bit-identical everywhere. "
    "Plan: one day-keyed agg (linear), one frame window and one "
    "7-slot agg over the CALENDAR-BOUNDED daily table, a broadcast "
    "join back. The unpartitioned window is over one row per calendar "
    "day — aggregate-sized by construction.",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) - DATE '2024-01-01'
                       AS d,
                   count(*) AS n
            FROM events GROUP BY 1),
        tr AS (
            SELECT d, d % 7 AS dow, n,
                   1000000 * sum(n) OVER w // count(*) OVER w AS trend_micro
            FROM daily
            WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING
                                             AND 3 FOLLOWING)),
        dev AS (
            SELECT *, n * 1000000 - trend_micro AS dev_micro FROM tr),
        seas AS (
            SELECT dow, sum(dev_micro) // count(*) AS seasonal_micro
            FROM dev GROUP BY dow)
        SELECT CAST(dev.d AS BIGINT) AS d, CAST(dev.dow AS BIGINT) AS dow,
               CAST(n AS BIGINT) AS n,
               CAST(trend_micro AS BIGINT) AS trend_micro,
               CAST(seasonal_micro AS BIGINT) AS seasonal_micro,
               CAST(dev_micro - seasonal_micro AS BIGINT) AS resid_micro
        FROM dev JOIN seas ON dev.dow = seas.dow
    """,
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as SqlWindow

    daily = (
        load(spark, sf_dir, "events")
        .selectExpr("datediff(date_trunc('day', ts), DATE '2024-01-01') AS d")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = SqlWindow.orderBy("d").rowsBetween(-3, 3)
    dev = daily.select(
        "d",
        (F.col("d") % 7).alias("dow"),
        "n",
        ((F.lit(1000000) * F.sum("n").over(w)).cast("bigint"))
        .alias("_num"),
        F.count(F.lit(1)).over(w).alias("_cnt"),
    ).selectExpr(
        "d", "dow", "n", "_num div _cnt AS trend_micro"
    ).selectExpr(
        "d", "dow", "n", "trend_micro",
        "n * 1000000 - trend_micro AS dev_micro"
    )
    seas = dev.groupBy("dow").agg(
        F.expr("sum(dev_micro) div count(*)").alias("seasonal_micro")
    )
    return dev.join(F.broadcast(seas), "dow").select(
        F.col("d").cast("bigint").alias("d"),
        F.col("dow").cast("bigint").alias("dow"),
        F.col("n").cast("bigint").alias("n"),
        F.col("trend_micro").cast("bigint").alias("trend_micro"),
        F.col("seasonal_micro").cast("bigint").alias("seasonal_micro"),
        (F.col("dev_micro") - F.col("seasonal_micro"))
        .cast("bigint")
        .alias("resid_micro"),
    )


@register(
    name="rolling_7d_active_users",
    survey="A8 F14 F15 J5",
    doc="Rolling 7-day active users (the WAU curve, per calendar day "
    "with events): the scale-correct rewrite of a sliding "
    "count-distinct — instead of a range self-join or a distinct "
    "inside a window frame (which Spark cannot do), each distinct "
    "(day, user) pair fans out map-side to the <= 7 window-end days it "
    "contributes to (explode(sequence(d, d+6))), and one "
    "distinct-count per target day finishes it. Cost is 7x the "
    "distinct pair list — linear, shuffle on the day key — versus the "
    "quadratic day-range join a naive formulation pays. Window-end "
    "days are restricted to days that actually have events (inner "
    "join to the observed-day table), so the output domain is "
    "data-defined in both engines.",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
                       - DATE '2024-01-01' AS d,
                   user_id
            FROM events),
        cal AS (SELECT DISTINCT d FROM pairs),
        contrib AS (
            SELECT s.td, p.user_id
            FROM pairs p,
                 LATERAL (SELECT unnest(range(p.d, p.d + 7)) AS td) s)
        SELECT CAST(c.d AS BIGINT) AS d,
               CAST(count(DISTINCT ct.user_id) AS BIGINT) AS wau
        FROM cal c JOIN contrib ct ON ct.td = c.d
        GROUP BY c.d
    """,
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "datediff(date_trunc('day', ts), DATE '2024-01-01') AS d",
            "user_id",
        )
        .distinct()
    )
    cal = pairs.select("d").distinct()
    contrib = pairs.selectExpr(
        "explode(sequence(d, d + 6)) AS td", "user_id"
    )
    return (
        contrib.join(
            F.broadcast(cal), contrib["td"] == cal["d"]
        )
        .groupBy(F.col("d").cast("bigint").alias("d"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )


_LD_DELAY_US = 2 * 3600 * 1_000_000  # watermark delay: 2 hours
_LD_WIN_US = 3600 * 1_000_000  # tumbling window: 1 hour
_LD_MIN_BATCH = 200
# 4 batches (r10, was 6, was 10) with CEIL division (floor's 4-row
# remainder batch burned a full ~0.5s trigger): per-micro-batch overhead
# dominates wall at bench SFs (~0.6s/batch), and the drop semantics only
# needs ENOUGH batches for the lag-2 cummax watermark to pass some
# scrambled rows' windows — verified after the change: ~50% of rows
# still dropped and oracle-exact at all three SFs (the oracle restates
# this same batch formula, so both engines move together by
# construction).
_LD_N_BATCHES = 3  # r11: was 4 (and 6 pre-r10); 3 is the minimum that still
# exercises the drop — the watermark publishes with a one-batch lag
# (cummax through batch N-2), so batch 2 is the first that can drop, and
# the trailing no-data batch still flushes the final windows. The oracle's
# batching formula moves in lockstep via this constant.


@register(
    name="stream_late_drop_windows",
    survey="ST1 ST3 ST5 A7",
    eager=True,
    doc="Watermark LATE-DATA DROP, exercised for real (ST3's hard half): "
    "the replay source's order=scramble option feeds events in a "
    "deterministic md5 permutation, so event time is genuinely "
    "out-of-order and the 2-hour watermark actually discards late rows "
    "from the 1-hour tumbling count — something the fixture's monotone "
    "disk order can never trigger. APPEND mode emits exactly the "
    "windows the final watermark passed; their counts EXCLUDE every "
    "dropped row, so the oracle pins the drop semantics row-for-row: "
    "a row in micro-batch N is dropped iff its window end (ms) <= "
    "cummax(batch max event time through batch N-2) - delay (ms) — the "
    "one-batch publication lag of Spark's watermark tracker, verified "
    "empirically with exact per-window equality at all three SFs and "
    "stable across repeated runs; a window emits iff its end (ms) <= "
    "final watermark. Batching is the deterministic replay formula "
    "(rows in md5 order, batch size max(200, ceil(n/4))) restated by "
    "the oracle. The drain waits for the trailing no-data batch that "
    "flushes the final windows to COMMIT before stop() — the same "
    "deterministic-drain contract as stream_session_ttl_close. State "
    "is one count per open window, sharded by the grouping shuffle.",
    oracle=f"""
        WITH e AS (
            SELECT epoch_us(ts) AS tsu,
                   row_number() OVER (ORDER BY md5(CAST(event_id AS VARCHAR)))
                       - 1 AS rn,
                   count(*) OVER () AS n
            FROM events),
        b AS (
            SELECT tsu,
                   rn // GREATEST({_LD_MIN_BATCH},
                                  (n + {_LD_N_BATCHES} - 1)
                                      // {_LD_N_BATCHES})
                       AS bid
            FROM e),
        bm AS (SELECT bid, max(tsu) AS bmax FROM b GROUP BY bid),
        wmv AS (
            SELECT bid,
                   max(bmax) OVER (ORDER BY bid
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 2 PRECEDING) AS m2
            FROM bm),
        surv AS (
            SELECT b.tsu
            FROM b JOIN wmv USING (bid)
            WHERE wmv.m2 IS NULL
               OR ((b.tsu // {_LD_WIN_US}) * {_LD_WIN_US} + {_LD_WIN_US})
                      // 1000
                  > (wmv.m2 - {_LD_DELAY_US}) // 1000),
        fin AS (
            SELECT (max(tsu) - {_LD_DELAY_US}) // 1000 AS fwm FROM e),
        win AS (
            SELECT (tsu // {_LD_WIN_US}) * {_LD_WIN_US} AS w_start_us,
                   count(*) AS n_events
            FROM surv GROUP BY 1)
        SELECT CAST(w_start_us AS BIGINT) AS w_start_us,
               CAST(n_events AS BIGINT) AS n_events
        FROM win, fin
        WHERE (w_start_us + {_LD_WIN_US}) // 1000 <= fwm
    """,
)
def stream_late_drop_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib

    from uk_procurement_data_pipeline_spark.sources.events_replay_stream import (
        EventsReplayDataSource,
    )

    try:
        spark.dataSource.register(EventsReplayDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    qname = f"stream_ld_{zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF:08x}"
    n_rows = _parquet_num_rows(f"{sf_dir}/events.parquet")
    batch_rows = max(_LD_MIN_BATCH, -(-n_rows // _LD_N_BATCHES))
    src = (
        spark.readStream.format("events_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batch_rows", str(batch_rows))
        .option("order", "scramble")
        .load()
    )
    win_s = _LD_WIN_US // 1_000_000
    delay_s = _LD_DELAY_US // 1_000_000
    agg = (
        src.withWatermark("ts", f"{delay_s} seconds")
        .groupBy(F.window("ts", f"{win_s} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "n_events")
    )
    wm_ms = _final_watermark_ms(f"{sf_dir}/events.parquet", _LD_DELAY_US)
    return _drain(agg, qname, "append", rows=n_rows, watermark_ms=wm_ms).select(
        F.unix_micros(F.col("w_start").cast("timestamp")).alias("w_start_us"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )
