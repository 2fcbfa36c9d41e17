"""Focused pins for the r13 optimization-round internal rewrites.

Each r13 rewrite changed HOW an operator computes (never what): these
tests pin the internal equivalences the oracle can only see end-to-end —
the count-based percentile extraction, the basket-array canonical pair
enumeration, the dedup-then-attach AllPairs verify, and the hoisted
flatten subexpressions.
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tests.conftest import SF_DIR  # noqa: E402
from uk_procurement_data_pipeline_spark.catalog import load  # noqa: E402


def test_shipping_delay_count_based_percentiles_match_rank_based(spark):
    """shipping_delay_percentiles r13 rewrite: the delay at global rank r
    under (delay, uid) ordering is min{v : cum(v) >= r} — the count-based
    extraction must reproduce the row_number-based percentiles exactly."""
    from pyspark.sql import Window

    li = load(spark, SF_DIR, "lineitem")
    o = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("delay"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
    )
    # Old shape: literal row_number rank over every row.
    ranked = d.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("priority").orderBy("delay", "uid")
        ),
    ).join(
        d.groupBy("priority").agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        "priority",
    )
    old = (
        ranked.groupBy("priority", "n")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("delay"))
            ).alias("p50_days"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("delay")
                )
            ).alias("p90_days"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(99 * n + 99) div 100"),
                    F.col("delay"),
                )
            ).alias("p99_days"),
        )
        .select("priority", "n", "p50_days", "p90_days", "p99_days")
    )
    # New shape: the registered query itself.
    from uk_procurement_data_pipeline_spark.queries import registry

    new = registry()["shipping_delay_percentiles"].fn(spark, SF_DIR)
    assert sorted(map(tuple, old.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_recommender_basket_array_pairs_match_self_join(spark):
    """recommender_hitrate_backtest r13 rewrite: enumerating i < j pairs
    from the per-order sorted part array must produce EXACTLY the
    a.part < b.part self-join pair multiset (and therefore identical
    co-purchase counts)."""
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    basket = li.distinct().selectExpr(
        "l_orderkey AS o_orderkey", "l_partkey AS part"
    )
    a, b = basket.alias("a"), basket.alias("b")
    old = (
        a.join(
            b,
            (F.col("a.o_orderkey") == F.col("b.o_orderkey"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(F.col("a.part").alias("p1"), F.col("b.part").alias("p2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
    )
    new = (
        basket.groupBy("o_orderkey")
        .agg(F.array_sort(F.collect_list("part")).alias("ps"))
        .select("ps", F.posexplode("ps").alias("i", "p1"))
        .select(
            "p1",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("p2"),
        )
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_allpairs_dedup_then_attach_matches_in_join_verify(spark):
    """allpairs_prefix_jaccard r13 rewrite: intersecting once per DISTINCT
    candidate pair (after the scalar dedup, arrays attached by doc-keyed
    joins) must produce the same verified pair set and jaccard values as
    intersecting inside the candidate join and deduping afterwards."""
    docs = load(spark, SF_DIR, "documents").limit(400)
    sets = docs.selectExpr(
        "doc_id",
        "array_sort(array_distinct(split(lower(text), ' +'))) AS toks",
    ).selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS len",
        "array_sort(transform(toks, w -> xxhash64(w))) AS hset",
        "explode(slice(toks, 1, 3)) AS token",
    )
    a = sets.selectExpr("doc_id AS doc_a", "token", "len AS la", "hset AS ta")
    b = sets.selectExpr("doc_id AS doc_b", "token", "len AS lb", "hset AS tb")
    joined = a.join(b, ["token"]).where(F.col("doc_a") < F.col("doc_b"))
    # old: intersect in-join, dedup after
    old = (
        joined.select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).cast("bigint").alias("ni"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.first("ni").alias("ni"))
    )
    # new: dedup scalars, attach hsets, intersect once
    hs = sets.select("doc_id", "hset").distinct()
    new = (
        joined.select("doc_a", "doc_b")
        .distinct()
        .join(hs.selectExpr("doc_id AS doc_a", "hset AS ta"), "doc_a")
        .join(hs.selectExpr("doc_id AS doc_b", "hset AS tb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).cast("bigint").alias("ni"),
        )
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_ocds_hoisted_flatten_matches_inline_probes(spark):
    """ocds_flatten_wide r13 rewrite: the hoisted shared probes (_bp,
    _sup, _addrs, _aw, _item1, _tn, _an) must equal re-evaluating the
    original expressions inline, on every row."""
    from uk_procurement_data_pipeline_spark.queries import registry
    from uk_procurement_data_pipeline_spark.queries.ref_pipeline import (
        ADDRS,
        AN,
        AW,
        BP,
        ITEM1,
        SUP,
        TN,
        _FLAT,
    )

    df = registry()["ocds_flatten_wide"].fn(spark, SF_DIR)
    # The flatten output IS the equivalence witness: rebuild a handful of
    # hoist-consuming columns straight from the un-hoisted expressions on
    # a fresh (non-hoisted) release build and compare.
    import uk_procurement_data_pipeline_spark.queries.ref_pipeline as rp

    li = load(spark, SF_DIR, "lineitem")
    orders = load(spark, SF_DIR, "orders")
    customer = load(spark, SF_DIR, "customer")
    nation = load(spark, SF_DIR, "nation")
    li_g = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("item_id"),
                    F.col("l_partkey").alias("part"),
                    F.col("l_quantity").alias("qty"),
                    F.expr(
                        f"""struct('CPV' AS scheme,
                           {rp._CPV_ID_S} AS id,
                           concat('CPV ', {rp._CPV_ID_S}) AS description)"""
                    ).alias("cls"),
                    F.expr(
                        f"""array(struct(
                               concat('PC', CAST(l_linenumber AS STRING)) AS postalCode,
                               {rp._REGION_CASE} AS region,
                               'United Kingdom' AS countryName))"""
                    ).alias("addrs"),
                )
            )
        ).alias("items"),
        F.expr(rp._SUPPLIER_PARTY_S).alias("supp_parties"),
    )
    rel = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(li_g, orders.o_orderkey == li_g.l_orderkey)
        .selectExpr(rp._RELEASE_S)
        .select("release", F.monotonically_increasing_id().alias("_barrier"))
    )
    old = rel.selectExpr(*[f"{p.s} AS {alias}" for alias, p in _FLAT])
    probe_cols = [
        "ocid",
        "buyer_legalName",          # through BP
        "supplier_party_names",     # through SUP
        "delivery_postcodes",       # through ADDRS
        "award_document_ids",       # through AW
        "cpv_id",                   # through ITEM1
        "tender_notice_url",        # through TN
        "award_notice_url",         # through AN
    ]
    assert sorted(map(tuple, old.select(probe_cols).collect())) == sorted(
        map(tuple, df.select(probe_cols).collect())
    )
    # silence unused-import lint for the documented handles
    assert all(x is not None for x in (ADDRS, AN, AW, BP, ITEM1, SUP, TN))


def test_ocds_unused_hoist_fails_at_construction(spark, monkeypatch):
    """A hoisted probe whose source text no longer appears in any flatten
    expression must fail when the query is built, not silently un-hoist."""
    import pytest

    import uk_procurement_data_pipeline_spark.queries.ref_pipeline as rp
    from uk_procurement_data_pipeline_spark.queries import registry

    no_award = [(a, p) for a, p in rp._FLAT if rp.AN.s not in p.s]
    assert len(no_award) < len(rp._FLAT)
    monkeypatch.setattr(rp, "_FLAT", no_award)
    with pytest.raises(ValueError, match="_an"):
        registry()["ocds_flatten_wide"].fn(spark, SF_DIR)
