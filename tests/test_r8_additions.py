"""Round-8 regression pins for the ADVICE r07 fixes.

1. Short-document guard: the 3-token shingle expressions (dedup._SHINGLES,
   phrase_search_positional's trigram explode) used sequence(1,
   greatest(n-2, 0)), which for n<3 DESCENDS ([1,0] — Spark steps -1 when
   start>stop) so element_at(arr, 0) threw INVALID_ARRAY_INDEX. Short docs
   must now yield ZERO shingles, not a runtime error.
2. _progress_wm_ms must be exact integer ms (float .timestamp()*1000 could
   truncate 1 ms and leave the streaming drain condition unsatisfiable).
3. The replay source's scramble permutation must be keyed on the event_id
   COLUMN BY NAME — a parquet column reorder must not change the order.
"""

from __future__ import annotations


def test_shingles_guard_short_docs(spark):
    from uk_procurement_data_pipeline_spark.queries.dedup import _SHINGLES

    df = spark.createDataFrame(
        [("one",), ("two words",), ("exactly three words",),
         ("four words in here",), ("",)],
        "text string",
    )
    rows = df.selectExpr(f"{_SHINGLES} AS sh", "text").collect()
    by_text = {r["text"]: r["sh"] for r in rows}
    assert by_text["one"] == []
    assert by_text["two words"] == []
    assert by_text[""] == []
    assert by_text["exactly three words"] == ["exactly three words"]
    assert sorted(by_text["four words in here"]) == [
        "four words in", "words in here",
    ]


def test_phrase_search_trigrams_skip_short_docs(spark, tmp_path):
    """phrase_search_positional's whole plan must survive a corpus that
    contains <3-token documents (the ADVICE failure scenario)."""
    from uk_procurement_data_pipeline_spark.queries.base import registry

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    template = src.limit(1).collect()[0].asDict()
    short_rows = []
    for doc_id, text in ((900001, "tiny"), (900002, "a b")):
        row = dict(template, doc_id=doc_id, text=text)
        short_rows.append(tuple(row[c] for c in src.columns))
    merged = src.unionByName(spark.createDataFrame(short_rows, src.schema))
    out_dir = str(tmp_path / "docs_with_short")
    merged.write.mode("overwrite").parquet(out_dir + "/documents.parquet")
    fn = registry()["phrase_search_positional"].fn
    rows = fn(spark, out_dir).collect()  # must not raise INVALID_ARRAY_INDEX
    assert rows  # the sf0.001 top phrase still matches somewhere


def test_progress_wm_ms_exact():
    from uk_procurement_data_pipeline_spark.queries.events import (
        _progress_wm_ms,
    )

    # 2^53-adjacent float rounding: 1 ms below an exact second boundary.
    lp = {"eventTime": {"watermark": "2024-03-01T00:59:59.999Z"}}
    import datetime as dt

    want = int(
        dt.datetime(2024, 3, 1, 0, 59, 59, 999000, tzinfo=dt.timezone.utc)
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    ) * 1000 + 999
    assert _progress_wm_ms(lp) == want
    assert _progress_wm_ms(None) == -1
    assert _progress_wm_ms({}) == -1
    # sweep a day of ms values for exactness vs integer arithmetic
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    for off_ms in (0, 1, 999, 1000, 86_399_999, 123_456_789):
        t = base + dt.timedelta(milliseconds=off_ms)
        iso = t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"
        want = (t - epoch) // dt.timedelta(milliseconds=1)
        assert _progress_wm_ms({"eventTime": {"watermark": iso}}) == want


def test_scramble_keys_by_name_not_position(tmp_path):
    """Reordering parquet columns must not change the scramble permutation
    (the oracle contract is md5(CAST(event_id AS VARCHAR)))."""
    import pyarrow.parquet as pq

    from uk_procurement_data_pipeline_spark.sources.events_replay_stream import (
        EventsReplayStreamReader,
    )

    path = "/root/testdata/sf0.001/events.parquet"
    t = pq.read_table(path)
    reordered = t.select(list(reversed(t.column_names)))
    rpath = str(tmp_path / "events_reordered.parquet")
    pq.write_table(reordered, rpath)

    orig = EventsReplayStreamReader({"path": path, "order": "scramble"})
    swapped = EventsReplayStreamReader({"path": rpath, "order": "scramble"})
    got_o, _ = orig.read({"pos": 0})
    got_s, _ = swapped.read({"pos": 0})
    idx_o = t.column_names.index("event_id")
    idx_s = reordered.column_names.index("event_id")
    ids_o = [row[idx_o] for row in list(got_o)[:100]]
    ids_s = [row[idx_s] for row in list(got_s)[:100]]
    assert ids_o == ids_s


def test_heavy_hitters_mg_state_bounded(spark):
    """Phase 1 is real Misra-Gries: the candidate emission per partition
    is capped at K counters even when distinct terms far exceed K.
    Drives the PRODUCTION merge (sketches.mg_merge_batches, the exact
    function the mapInPandas stage calls) — ADVICE r08: a copied mirror
    here could not catch drift in sketches.py."""
    import pandas as pd

    from uk_procurement_data_pipeline_spark.queries import sketches as sk

    # 10k distinct singletons + 2 true heavy terms, streamed in 4 batches
    batches = []
    for b in range(4):
        terms = [f"u{b}_{i}" for i in range(2500)] + ["hot"] * 400 + ["warm"] * 300
        batches.append(pd.DataFrame({"term": terms}))

    cands = set(sk.mg_merge_batches(iter(batches), sk._HH_K))
    assert len(cands) <= sk._HH_K
    n = sum(len(b) for b in batches)
    for t in ("hot", "warm"):
        true_count = sum((b["term"] == t).sum() for b in batches)
        if true_count * (sk._HH_K + 1) > n:
            assert t in cands
    # And through the real distributed path: per-partition emission from
    # a skewed DataFrame stays <= K rows whatever the partitioning.
    from pyspark.sql import functions as F

    df = (
        spark.range(12_000)
        .select(
            F.when(F.col("id") % 3 == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("u"), F.col("id")))
            .alias("term")
        )
        .repartition(4)
    )
    per_part = (
        df.mapInPandas(
            lambda it: iter(
                [pd.DataFrame({"term": list(sk.mg_merge_batches(it, sk._HH_K))})]
            ),
            schema="term string",
        )
        .withColumn("part", F.spark_partition_id())
        .groupBy("part")
        .count()
        .collect()
    )
    assert per_part and all(r["count"] <= sk._HH_K for r in per_part)


def test_two_stage_pq_maxsim_prunes_and_agrees(spark, sf_dir):
    """The composed serving query must (a) actually PRUNE — candidate
    sets strictly smaller than the corpus — and (b) rerank with the
    exact MaxSim contract: every emitted (query, doc) score equals the
    late_interaction-style brute-force score for that pair."""
    from pyspark.sql import functions as F

    from uk_procurement_data_pipeline_spark.functions.vec import dot
    from uk_procurement_data_pipeline_spark.queries.base import registry

    rows = registry()["two_stage_pq_maxsim"].fn(spark, sf_dir).collect()
    assert rows
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_docs = emb.selectExpr("vec_id div 4 AS d").distinct().count()
    for r in rows:
        assert 0 < r["n_candidates"] <= n_docs
        assert 1 <= r["rank"] <= 5
        assert r["doc_id"] != r["query_id"]
    # exact rerank contract: recompute MaxSim brute-force for emitted pairs
    tok = emb.selectExpr("vec_id div 4 AS doc_id", "vec_id % 4 AS tok_idx",
                         "embedding")
    qt = tok.where("doc_id < 2").selectExpr(
        "doc_id AS query_id", "tok_idx AS q_tok", "embedding AS qe")
    brute = (
        tok.crossJoin(F.broadcast(qt))
        .where("doc_id != query_id")
        .selectExpr(
            "query_id", "doc_id", "q_tok",
            f"CAST(floor({dot('qe', 'embedding')}"
            " * 1000000 + 0.5) AS BIGINT) AS dm")
        .groupBy("query_id", "doc_id", "q_tok").agg(F.max("dm").alias("m"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("m").cast("bigint").alias("s"))
        .collect()
    )
    exact = {(r["query_id"], r["doc_id"]): r["s"] for r in brute}
    for r in rows:
        assert r["maxsim_micro"] == exact[(r["query_id"], r["doc_id"])]


def test_ttl_stream_survives_out_of_order_input(spark, tmp_path):
    """stream_session_ttl_close must not die on non-monotone event time
    (the k=5 stress replica caught setTimeoutTimestamp throwing
    INVALID_TIMEOUT_TIMESTAMP when a late session's natural timeout was
    already below the watermark; such sessions are now emitted inline)."""
    import pyarrow.parquet as pq

    from uk_procurement_data_pipeline_spark.queries.base import registry

    src = "/root/testdata/sf0.001/events.parquet"
    t = pq.read_table(src)
    # deterministic non-monotone order: reverse the rows — every batch
    # after the first delivers events older than the watermark
    rev = t.take(list(range(t.num_rows - 1, -1, -1)))
    out = tmp_path / "ooo"
    out.mkdir()
    pq.write_table(rev, str(out / "events.parquet"))
    rows = registry()["stream_session_ttl_close"].fn(spark, str(out)).collect()
    # must complete without the stream dying; emitted sessions must be
    # well-formed (the exact set differs from the monotone oracle: the
    # watermark trajectory sees max-ts in batch 1, so late batches are
    # subject to real late-data semantics)
    for r in rows:
        assert r["start_micro"] <= r["end_micro"]
        assert r["n_events"] >= 1


def test_ttl_stream_emits_session_when_watermark_already_final(spark, tmp_path):
    """ADVICE r08 (medium): a session whose natural timeout is already
    below the watermark must still be EMITTED even when the watermark has
    reached its final value at that moment — the r08 clamp set a timer at
    wm+1, which never fires once no batch with a strictly greater
    watermark follows, silently dropping the session. The fix emits such
    sessions inline in the update path.

    Construction (2 replay batches of 200 rows): batch 1 carries a
    sentinel user's 200 events at the GLOBAL max event time, driving the
    watermark straight to its final value; batch 2 then delivers a quiet
    user's 200 events >7h older — their session's end+gap(6h) sits below
    the (final) watermark, so only the inline-emit path can surface it."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from uk_procurement_data_pipeline_spark.queries.base import registry

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    hi = t0 + dt.timedelta(days=30)
    rows_ts, rows_uid, rows_eid = [], [], []
    # batch 1 (rows 0-199): sentinel user 999 at the global max time
    for i in range(200):
        rows_ts.append(hi + dt.timedelta(seconds=i))
        rows_uid.append(999)
        rows_eid.append(i)
    # batch 2 (rows 200-399): quiet user 1, one contiguous session
    # (1-minute spacing, no >6h intra-batch break), 30 days older
    for i in range(200):
        rows_ts.append(t0 + dt.timedelta(minutes=i))
        rows_uid.append(1)
        rows_eid.append(1000 + i)
    table = pa.table(
        {
            "event_id": pa.array(rows_eid, pa.int64()),
            "ts": pa.array(rows_ts, pa.timestamp("us")),
            "user_id": pa.array(rows_uid, pa.int64()),
            "event_type": pa.array(["view"] * 400),
            "value": pa.array([1.0] * 400),
            "props": pa.array(["{}"] * 400),
        }
    )
    out = tmp_path / "wmfinal"
    out.mkdir()
    pq.write_table(table, str(out / "events.parquet"))
    got = registry()["stream_session_ttl_close"].fn(spark, str(out)).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    # the quiet user's whole session must be emitted (old clamp: dropped)
    assert 1 in by_user, f"late-closed session silently dropped: {got}"
    assert sum(r["n_events"] for r in by_user[1]) == 200
    assert min(r["start_micro"] for r in by_user[1]) == int(
        t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
    )
    # the sentinel's session is still open (timeout >= final watermark)
    assert 999 not in by_user
