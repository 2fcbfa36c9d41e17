"""top_k_per_group and global_rank against DuckDB's ``row_number() OVER
(... ORDER BY ...)`` on random frames with NULL, NaN, ±inf and ±0.0 in the
order columns and ties on the leading key. DuckDB reads the frame through
Arrow: its pandas scan reads a NaN produced by ``toPandas()`` as NULL,
which would hide the very cases this test exists for."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from uk_procurement_data_pipeline_spark.functions.topk import global_rank, top_k_per_group

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

_SCHEMA = "g1 int, g2 int, x double, n bigint, s string, id bigint"
_NAN, _INF = float("nan"), float("inf")

_ROW = st.tuples(
    st.integers(0, 2),
    st.integers(0, 1),
    st.sampled_from([None, _NAN, _INF, -_INF, 0.0, -0.0, 1.5, -2.25]),
    st.sampled_from([None, -(2**63), -1, 0, 7, 2**63 - 1]),
    st.sampled_from([None, "", "a", "b"]),
)
_KEYS = st.sampled_from([[], ["g1"], ["g1", "g2"]])
# leading terms over the tie-heavy columns, then the unique id tiebreak
_ORDER = st.tuples(
    st.lists(
        st.tuples(st.sampled_from(["x", "n", "s"]), st.booleans()),
        min_size=1,
        max_size=3,
        unique_by=lambda t: t[0],
    ),
    st.booleans(),
).map(
    lambda t: [f"{c} DESC" if d else c for c, d in t[0]]
    + ["id DESC" if t[1] else "id"]
)


def _canon(rows):
    """Rows as tuples ordered by the unique id, NaN as a comparable token."""
    return sorted(
        (
            tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
            for r in rows
        ),
        key=lambda r: r[5],
    )


def _duckdb_top_k(rows, keys, order, k):
    cols = list(zip(*rows)) if rows else [[]] * 6
    frame = pa.table(
        {
            "g1": pa.array(cols[0], pa.int32()),
            "g2": pa.array(cols[1], pa.int32()),
            "x": pa.array(cols[2], pa.float64()),
            "n": pa.array(cols[3], pa.int64()),
            "s": pa.array(cols[4], pa.string()),
            "id": pa.array(cols[5], pa.int64()),
        }
    )
    part = f"PARTITION BY {', '.join(keys)}" if keys else ""
    con = duckdb.connect()
    try:
        con.register("frame", frame)
        return con.sql(
            f"SELECT * FROM (SELECT *, row_number() OVER ({part} ORDER BY"
            f" {', '.join(order)}) AS rank FROM frame) WHERE rank <= {k}"
        ).fetchall()
    finally:
        con.close()


@pytest.mark.parametrize("k", [1, 2, 5])
def test_top_k_per_group_matches_duckdb_order_by(spark, k):
    @settings(max_examples=30, deadline=None, derandomize=True, database=None)
    @given(st.lists(_ROW, max_size=30), _KEYS, _ORDER)
    @example([(0, 0, 0.5, 0, "a"), (0, 0, _NAN, 0, "a"), (0, 0, None, 0, "a")],
             ["g1"], ["x DESC", "id"])
    @example([], [], ["x DESC", "id"])
    def check(rows, keys, order):
        rows = [(*r, i) for i, r in enumerate(rows)]
        df = spark.createDataFrame(rows, _SCHEMA)
        got = top_k_per_group(df, keys, order, k, rank="rank")
        assert got.columns == [*df.columns, "rank"]
        want = _duckdb_top_k(rows, keys, order, k)
        assert _canon(got.collect()) == _canon(want), (keys, order)

    check()


_RANK_SCHEMA = "g1 int, x double, n bigint, s string, w int, id bigint"
# No NULL in a leading term (out of global_rank's contract); NULL keys are in.
_RANK_ROW = st.tuples(
    st.sampled_from([None, 0, 1]),
    st.sampled_from([_NAN, _INF, -_INF, 0.0, -0.0, 1.5, -2.25, 3.0]),
    st.sampled_from([-(2**63), -1, 0, 7, 2**63 - 1]),
    st.sampled_from(["", "a", "b"]),
    st.integers(-3, 5),
)


def _duckdb_global_rank(rows, keys, order):
    cols = list(zip(*rows)) if rows else [[]] * 6
    frame = pa.table(
        {
            "g1": pa.array(cols[0], pa.int32()),
            "x": pa.array(cols[1], pa.float64()),
            "n": pa.array(cols[2], pa.int64()),
            "s": pa.array(cols[3], pa.string()),
            "w": pa.array(cols[4], pa.int32()),
            "id": pa.array(cols[5], pa.int64()),
        }
    )
    part = f"PARTITION BY {', '.join(keys)}" if keys else ""
    over = f"{part} ORDER BY {', '.join(order)}"
    con = duckdb.connect()
    try:
        con.register("frame", frame)
        return con.sql(
            f"SELECT *, row_number() OVER ({over}) AS rn,"
            f" SUM(w) OVER ({over} ROWS UNBOUNDED PRECEDING) AS cum,"
            f" count(*) OVER ({part}) AS size FROM frame"
        ).fetchall()
    finally:
        con.close()


@settings(max_examples=30, deadline=None, derandomize=True, database=None)
@given(
    st.lists(_RANK_ROW, max_size=30),
    st.sampled_from([[], ["g1"]]),
    st.sampled_from(["x", "n", "s"]),
    st.booleans(),
    st.sampled_from([None, 2, 3]),
)
@example([(0, _NAN, 0, "a", 1), (0, _INF, 0, "a", 2), (0, 1.5, 0, "a", 3)], [], "x", False, 2)
@example([(0, _NAN, 0, "a", 1), (0, _INF, 0, "a", 2), (1, -_INF, 0, "a", 3)], ["g1"], "x", True, 3)
@example([], [], "x", False, 2)
def test_global_rank_matches_duckdb_row_number(spark, rows, keys, lead, desc, width):
    """Rank, running sum and group size equal DuckDB's row_number, ROWS
    UNBOUNDED PRECEDING sum and count over (PARTITION BY keys ORDER BY
    lead, id), banded by the term itself or by floor(term / width)."""
    width = None if lead == "s" else width
    order = [f"{lead} DESC" if desc else lead, "id"]
    rows = [(*r, i) for i, r in enumerate(rows)]
    df = spark.createDataFrame(rows, _RANK_SCHEMA)
    got = global_rank(df, order, keys=keys, width=width, running={"cum": "w"}, size="size")
    assert got.columns == [*df.columns, "rn", "cum", "size"]
    want = _duckdb_global_rank(rows, keys, order)
    assert _canon(got.collect()) == _canon(want), (keys, order, width)


def test_top_1_reduces_without_a_window_unless_a_desc_term_has_no_negation(spark):
    """k = 1 plans an aggregate (no Window) for numeric keys in either
    direction; a DESC string key falls back to the window."""
    df = spark.createDataFrame([(0, 0, 1.0, 1, "a", 0)], _SCHEMA)

    def plan(order):
        return top_k_per_group(df, ["g1"], order, 1)._jdf.queryExecution().toString()

    for order in (["x DESC", "n DESC", "id"], ["x", "n", "s", "id DESC"]):
        assert "Window" not in plan(order), order
    assert "Window" in plan(["s DESC", "id"])


def test_hard_negatives_lsh_matches_oracle_on_nan_and_null_cosines(spark, sf_dir, tmp_path):
    """One embedding gets a NaN element and one in another LSH bucket a
    NULL element, so every cosine through the first is NaN and through the
    second NULL. The oracle's ORDER BY cosine DESC takes a NaN candidate
    first and a NULL one last; the query must pick the same negatives."""
    from oracle_check import check_one, duckdb_conn

    from uk_procurement_data_pipeline_spark.queries import registry

    for f in Path(sf_dir).iterdir():
        if f.name != "embeddings.parquet":
            (tmp_path / f.name).symlink_to(f)
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    vecs = emb.column("embedding").to_pylist()

    def bucket(v):  # the queries' sign-bit key over the first 4 dims
        return [x >= 0 for x in v[:4]]

    nan_row = 0
    null_row = next(i for i, v in enumerate(vecs) if bucket(v) != bucket(vecs[0]))
    vecs[nan_row][10] = float("nan")
    vecs[null_row][10] = None
    col = emb.schema.get_field_index("embedding")
    pq.write_table(
        emb.set_column(col, emb.schema.field(col), pa.array(vecs, emb.schema.field(col).type)),
        tmp_path / "embeddings.parquet",
    )

    spec = registry()["hard_negatives_lsh"]
    nan_id = emb.column("vec_id")[nan_row].as_py()
    picked = spec.fn(spark, str(tmp_path)).where(f"anchor_id <> {nan_id}")
    assert picked.where(f"negative_id = {nan_id}").count() > 0  # NaN ranks first
    con = duckdb_conn(str(tmp_path))
    try:
        ok, msg, _ = check_one(spark, con, spec, str(tmp_path))
    finally:
        con.close()
    assert ok, msg


# The queries that divide a dot product by a product of norms.
_COSINE_QUERIES = (
    "mmr_diversified_rerank", "semdedup_prune", "embedding_near_dup",
    "cosine_topk_bruteforce", "ann_lsh_multiprobe", "ann_ivf_probed",
    "ann_lsh_bucketed", "hard_negatives_lsh", "rrf_fusion_ann",
    "ann_ndcg_report", "ann_recall_report",
)


def _zero_vector_copy(sf_dir, tmp_path, ids=(7, 200)):
    """``sf_dir`` in ``tmp_path`` with the embeddings of ``ids`` all zero
    and every other table symlinked."""
    for f in Path(sf_dir).iterdir():
        if f.name != "embeddings.parquet":
            (tmp_path / f.name).symlink_to(f)
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    vec_ids = emb.column("vec_id").to_pylist()
    assert set(ids) <= set(vec_ids)
    vecs = [
        [0.0] * len(v) if i in ids else v
        for i, v in zip(vec_ids, emb.column("embedding").to_pylist())
    ]
    col = emb.schema.get_field_index("embedding")
    pq.write_table(
        emb.set_column(col, emb.schema.field(col), pa.array(vecs, emb.schema.field(col).type)),
        tmp_path / "embeddings.parquet",
    )
    return tmp_path


@pytest.fixture(scope="module")
def zero_vector_dir(sf_dir, tmp_path_factory):
    # vec_id 200 is also a query vector (vec_id % 100 = 0)
    return str(_zero_vector_copy(sf_dir, tmp_path_factory.mktemp("zero_vectors")))


@pytest.mark.parametrize("name", _COSINE_QUERIES)
def test_cosine_queries_match_oracle_on_zero_vectors(spark, zero_vector_dir, name):
    """A zero vector's cosines are NULL (vec.cosine), ranked last and
    dropped by thresholds, which is what the oracles do with DuckDB's
    NULL for x / 0.0. Under ANSI a plain Spark division would raise."""
    from oracle_check import check_one, duckdb_conn

    from uk_procurement_data_pipeline_spark.queries import registry

    con = duckdb_conn(zero_vector_dir)
    try:
        ok, msg, _ = check_one(spark, con, registry()[name], zero_vector_dir)
    finally:
        con.close()
    assert ok, msg


def _nan_value_copy(sf_dir, tmp_path):
    """``sf_dir`` in ``tmp_path`` with ``events.value`` of event_id 0 (an
    ``error`` event) NaN and every other table symlinked."""
    for f in Path(sf_dir).iterdir():
        if f.name != "events.parquet":
            (tmp_path / f.name).symlink_to(f)
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    ids = ev.column("event_id").to_pylist()
    assert 0 in ids
    vals = [_NAN if i == 0 else v for i, v in zip(ids, ev.column("value").to_pylist())]
    col = ev.schema.get_field_index("value")
    pq.write_table(
        ev.set_column(col, ev.schema.field(col), pa.array(vals, ev.schema.field(col).type)),
        tmp_path / "events.parquet",
    )
    return tmp_path


def test_banded_percentiles_match_oracle_on_a_nan_value(spark, sf_dir, tmp_path):
    """Spark's floor(NaN) is 0 under ANSI, while NaN sorts above every
    number: a band taken from floor(value) would rank the NaN row in band
    0 and shift every other rank of its type by one. global_rank puts it
    in the top band."""
    from oracle_check import check_one, duckdb_conn

    from uk_procurement_data_pipeline_spark.queries import registry

    nan_dir = str(_nan_value_copy(sf_dir, tmp_path))
    con = duckdb_conn(nan_dir)
    try:
        ok, msg, _ = check_one(spark, con, registry()["percentiles_per_type_banded"], nan_dir)
    finally:
        con.close()
    assert ok, msg
