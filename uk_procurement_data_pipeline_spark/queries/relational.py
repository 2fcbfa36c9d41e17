"""Relational core queries (SURVEY.md §2.2 P*, §2.3 J5-J7, §2.4 A7-A9,
§2.7 O4, §2.8 U1/U3).

The reference never joins tables or aggregates (SURVEY.md §2.3/§2.4); this
surface is [DRIVER]-mandated over the TPC-H-ish star schema. Scale notes
per query: small dimensions are broadcast explicitly (no shuffle for the
dim side); the lineitem-orders join is the only genuinely large-large join
and shuffles on the join key, which is also the natural bucketing key for
a production layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load, local_table
from uk_procurement_data_pipeline_spark.functions.exact import (
    dec,
    exact_avg,
    exact_sum,
    oracle_avg,
    oracle_sum,
)
from uk_procurement_data_pipeline_spark.functions.topk import global_rank
from uk_procurement_data_pipeline_spark.queries.base import register

_REV_SQL = "l_extendedprice * (1.0 - l_discount)"


def _rev():
    """l_extendedprice * (1 - l_discount): the product is computed in IEEE
    double (bit-identical in Spark and DuckDB), then widened for exact sums.
    (A function, not a module constant — Column exprs need a live session.)"""
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


@register(
    name="pricing_summary",
    survey="A7 F-arith P-filters",
    doc="TPC-H Q1 shape: scan-side filter, 6-group hash agg, exact sums/avgs.",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {oracle_sum('l_quantity')} AS sum_qty,
               {oracle_sum('l_extendedprice')} AS sum_base_price,
               {oracle_sum(_REV_SQL)} AS sum_disc_price,
               {oracle_sum(_REV_SQL + ' * (1.0 + l_tax)')} AS sum_charge,
               {oracle_avg('l_quantity')} AS avg_qty,
               {oracle_avg('l_extendedprice')} AS avg_price,
               {oracle_avg('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    charge = _rev() * (F.lit(1.0) + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity", "sum_qty"),
        exact_sum("l_extendedprice", "sum_base_price"),
        exact_sum(_rev(), "sum_disc_price"),
        exact_sum(charge, "sum_charge"),
        exact_avg("l_quantity", "avg_qty"),
        exact_avg("l_extendedprice", "avg_price"),
        exact_avg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    name="revenue_by_region",
    survey="J5 A7 O4",
    doc="Flagship 5-way star join: lineitem⋈orders⋈customer⋈nation⋈region, "
    "dims broadcast, one shuffle on the fact join key.",
    oracle=f"""
        SELECT r_name, {oracle_sum(_REV_SQL)} AS revenue, COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer scales with SF — let AQE pick its join strategy; only the
        # fixed-cardinality dims (nation=25, region=5 rows) are forced.
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(exact_sum(_rev(), "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@register(
    name="top_orders_by_revenue",
    survey="J5 A7 O4",
    doc="TPC-H Q3 shape: segment filter, join, agg, deterministic top-10.",
    oracle=f"""
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               {oracle_sum(_REV_SQL)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate  > TIMESTAMP '1996-01-01'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    bldg = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(bldg, orders.o_custkey == bldg.c_custkey, "left_semi")
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum(_rev(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    name="order_priority_semi",
    survey="J7 A7",
    doc="TPC-H Q4 shape: EXISTS-correlated subquery as a left-semi join.",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
)
def order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    name="customers_without_orders",
    survey="J7",
    doc="Left-anti join: customers that never placed an order.",
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    name="orders_per_customer",
    survey="J7 A7",
    doc="Left outer join + agg: order count and exact spend per customer, "
    "zero-filled for order-less customers.",
    oracle=f"""
        SELECT c_custkey,
               COUNT(o_orderkey) AS n_orders,
               COALESCE({oracle_sum('o_totalprice')}, 0.0) AS total_spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
)
def orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(exact_sum("o_totalprice"), F.lit(0.0)).alias("total_spend"),
        )
    )


@register(
    name="suppliers_in_region",
    survey="J5 J7",
    doc="Nested IN-subquery as chained left-semi joins over broadcast dims.",
    oracle="""
        SELECT s_suppkey, s_name, s_acctbal
        FROM supplier
        WHERE s_nationkey IN (
            SELECT n_nationkey FROM nation
            WHERE n_regionkey IN (
                SELECT r_regionkey FROM region WHERE r_name = 'EUROPE'))
    """,
)
def suppliers_in_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    nation_eu = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left_semi"
    )
    return supplier.join(
        F.broadcast(nation_eu), supplier.s_nationkey == nation_eu.n_nationkey, "left_semi"
    ).select("s_suppkey", "s_name", "s_acctbal")


@register(
    name="distinct_customers_per_status",
    survey="A8",
    doc="COUNT(DISTINCT) + plain count in one agg.",
    oracle="""
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
)
def distinct_customers_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    name="union_parts_tagged",
    survey="U1",
    doc="unionByName of two filtered projections with a literal tag column "
    "(the correct semantics for the reference's header-once append, 3:51-56).",
    oracle="""
        SELECT p_partkey, p_brand, 'small' AS size_class FROM part WHERE p_size <= 10
        UNION ALL
        SELECT p_partkey, p_brand, 'large' AS size_class FROM part WHERE p_size >= 45
    """,
)
def union_parts_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    small = part.where(F.col("p_size") <= 10).select(
        "p_partkey", "p_brand", F.lit("small").alias("size_class")
    )
    large = part.where(F.col("p_size") >= 45).select(
        "p_partkey", "p_brand", F.lit("large").alias("size_class")
    )
    return small.unionByName(large)


@register(
    name="repeat_customers_intersect",
    survey="U3",
    doc="INTERSECT (distinct semantics): customers ordering in both 1995 and 1996.",
    oracle="""
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        INTERSECT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
)
def repeat_customers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    y95 = orders.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_custkey")
    y96 = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey")
    return y95.intersect(y96)


@register(
    name="churned_customers_except",
    survey="U3",
    doc="EXCEPT (distinct): customers ordering in 1995 but not 1996.",
    oracle="""
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        EXCEPT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
)
def churned_customers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    y95 = orders.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_custkey")
    y96 = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey")
    return y95.subtract(y96)


@register(
    name="global_top_orders",
    survey="O4",
    doc="Global deterministic top-k (TakeOrderedAndProject — no full sort).",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
)
def global_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    name="rollup_revenue_region_nation",
    survey="A9 J5",
    doc="ROLLUP over (region, nation) with exact revenue.",
    oracle=f"""
        SELECT r_name, n_name, {oracle_sum(_REV_SQL)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_revenue_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import dec

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    # r12 optimization (guide §2.3 aggregate before you shuffle, project
    # before the exchange): the old plan shuffled every WIDE lineitem row
    # through three joins and ran the 3x rollup Expand over 600k rows.
    # exact_sum's decimal accumulation is associative and only rounds at
    # the END, so pre-summing per order (unrounded decimal) is exactly
    # equal — the joins then move one (orderkey, decimal) row per order
    # and the rollup expands 150k narrow rows. One final ROUND(, 4) keeps
    # the exact_sum contract bit-identical.
    rev_by_order = li.groupBy("l_orderkey").agg(
        F.sum(dec(_rev())).alias("rd")
    )
    joined = (
        rev_by_order.join(
            orders, rev_by_order.l_orderkey == orders.o_orderkey
        )
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum("rd"), 4).cast("double").alias("revenue")
    )


@register(
    name="cube_order_counts",
    survey="A9",
    doc="CUBE over (status, priority).",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    name="grouping_sets_spend",
    survey="A9",
    doc="Explicit GROUPING SETS via DataFrame.groupingSets (Spark 4) — no "
    "temp-view side effect on the shared session (ADVICE r01).",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               {oracle_sum('o_totalprice')} AS total_spend
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.groupingSets(
        [[F.col("o_orderstatus")], [F.col("o_orderpriority")], []],
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    ).agg(exact_sum("o_totalprice", "total_spend"))


# ---------------------------------------------------------------------------
# SCD Type-2 dimension merge
# ---------------------------------------------------------------------------
# A deterministic "incoming snapshot" derived from the customer dimension:
# md5-bucket < 20 arrive with a changed balance (an UPDATE), buckets >= 95
# arrive under a shifted key (an INSERT of a brand-new member). The same
# engine-portable bucket idiom as corpus_prep / incremental dedup.
_CUST_BUCKET = (
    "cast(conv(substr(md5(cast(c_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    " % 100"
)
_D_CUST_BUCKET = (
    "CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 100"
)
_AS_OF = "2026-08-13"


@register(
    name="scd2_customer_merge",
    survey="U1 J7 E2 F15",
    doc="Slowly-changing-dimension type-2 merge: an incoming snapshot "
    "(changed balances + brand-new members, derived deterministically "
    "from the dimension itself) is merged into a versioned dimension — "
    "changed keys get their old version closed out (valid_to set, "
    "is_current false) and a new open version; unchanged keys pass "
    "through; new keys insert as open versions. One broadcast-size "
    "update set joined against the dimension, three union branches, no "
    "window — the standard warehouse upsert expressed as a pure "
    "relational plan (at scale the update side shuffles on the same key "
    "as the dimension; nothing is rewritten in place).",
    oracle=f"""
        WITH upd AS (
            SELECT c_custkey, c_acctbal + 100.0 AS new_bal
            FROM customer WHERE ({_D_CUST_BUCKET}) < 20
        ), ins AS (
            SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal
            FROM customer WHERE ({_D_CUST_BUCKET}) >= 95
        )
        SELECT c.c_custkey, c.c_name, c.c_acctbal AS acctbal,
               '1995-01-01' AS valid_from,
               '{_AS_OF}' AS valid_to, FALSE AS is_current
        FROM customer c JOIN upd u ON c.c_custkey = u.c_custkey
        UNION ALL
        SELECT c.c_custkey, c.c_name, u.new_bal AS acctbal,
               '{_AS_OF}' AS valid_from,
               CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
        FROM customer c JOIN upd u ON c.c_custkey = u.c_custkey
        UNION ALL
        SELECT c.c_custkey, c.c_name, c.c_acctbal AS acctbal,
               '1995-01-01' AS valid_from,
               CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
        FROM customer c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM upd)
        UNION ALL
        SELECT i.c_custkey, i.c_name, i.c_acctbal AS acctbal,
               '{_AS_OF}' AS valid_from,
               CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
        FROM ins i
    """,
)
def scd2_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    upd = cust.where(F.expr(f"({_CUST_BUCKET}) < 20")).selectExpr(
        "c_custkey", "c_acctbal + 100.0 AS new_bal"
    )
    ins = cust.where(F.expr(f"({_CUST_BUCKET}) >= 95")).selectExpr(
        "c_custkey + 1000000 AS c_custkey", "c_name", "c_acctbal"
    )
    closed = (
        cust.join(upd, "c_custkey")
        .selectExpr(
            "c_custkey",
            "c_name",
            "c_acctbal AS acctbal",
            "'1995-01-01' AS valid_from",
            f"'{_AS_OF}' AS valid_to",
            "FALSE AS is_current",
        )
    )
    reopened = (
        cust.join(upd, "c_custkey")
        .selectExpr(
            "c_custkey",
            "c_name",
            "new_bal AS acctbal",
            f"'{_AS_OF}' AS valid_from",
            "CAST(NULL AS STRING) AS valid_to",
            "TRUE AS is_current",
        )
    )
    unchanged = (
        cust.join(upd, "c_custkey", "left_anti")
        .selectExpr(
            "c_custkey",
            "c_name",
            "c_acctbal AS acctbal",
            "'1995-01-01' AS valid_from",
            "CAST(NULL AS STRING) AS valid_to",
            "TRUE AS is_current",
        )
    )
    inserted = ins.selectExpr(
        "c_custkey",
        "c_name",
        "c_acctbal AS acctbal",
        f"'{_AS_OF}' AS valid_from",
        "CAST(NULL AS STRING) AS valid_to",
        "TRUE AS is_current",
    )
    return closed.unionAll(reopened).unionAll(unchanged).unionAll(inserted)


_PIT_CUT = "1998-01-01"  # version-change date inside the order-date range


@register(
    name="pointintime_customer_orders",
    survey="J5 J8 A7 F15 E2",
    doc="Point-in-time (temporal) join — the feature-store / warehouse "
    "probe of an SCD2 dimension AT EVENT TIME: a two-era customer "
    "history (balance change cut at 1998-01-01 for a deterministic "
    "subset of keys, same md5 bucket rule as scd2_customer_merge) is "
    "joined to orders on the customer key WITH the validity-interval "
    "predicate, so each order sees exactly the dimension version in "
    "effect on its order date. The interval test rides the hash "
    "equi-join on the key as a post-join filter — never a range-only "
    "join, never a cross product; the history is dimension-sized "
    "(SF-scaled, so broadcast-eligible but left to AQE). Output: "
    "per-era order counts, exact revenue, and distinct customers.",
    oracle=f"""
        WITH upd AS (
            SELECT c_custkey FROM customer WHERE ({_D_CUST_BUCKET}) < 20),
        hist AS (
            SELECT c.c_custkey, c.c_acctbal AS acctbal,
                   '1995-01-01' AS valid_from, '{_PIT_CUT}' AS valid_to,
                   FALSE AS is_current
            FROM customer c JOIN upd u ON c.c_custkey = u.c_custkey
            UNION ALL
            SELECT c.c_custkey, c.c_acctbal + 100.0 AS acctbal,
                   '{_PIT_CUT}' AS valid_from, CAST(NULL AS VARCHAR),
                   TRUE
            FROM customer c JOIN upd u ON c.c_custkey = u.c_custkey
            UNION ALL
            SELECT c.c_custkey, c.c_acctbal,
                   '1995-01-01', CAST(NULL AS VARCHAR), TRUE
            FROM customer c
            WHERE c.c_custkey NOT IN (SELECT c_custkey FROM upd))
        SELECT h.valid_from, h.is_current,
               COUNT(*) AS n_orders,
               {oracle_sum('o.o_totalprice')} AS revenue,
               COUNT(DISTINCT o.o_custkey) AS n_customers
        FROM orders o
        JOIN hist h
          ON o.o_custkey = h.c_custkey
         AND CAST(h.valid_from AS TIMESTAMP) <= o.o_orderdate
         AND (h.valid_to IS NULL
              OR o.o_orderdate < CAST(h.valid_to AS TIMESTAMP))
        GROUP BY h.valid_from, h.is_current
    """,
)
def pointintime_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    upd = cust.where(F.expr(f"({_CUST_BUCKET}) < 20")).select("c_custkey")
    changed = cust.join(upd, "c_custkey")
    closed = changed.selectExpr(
        "c_custkey",
        "c_acctbal AS acctbal",
        "'1995-01-01' AS valid_from",
        f"'{_PIT_CUT}' AS valid_to",
        "FALSE AS is_current",
    )
    current_upd = changed.selectExpr(
        "c_custkey",
        "c_acctbal + 100.0 AS acctbal",
        f"'{_PIT_CUT}' AS valid_from",
        "CAST(NULL AS STRING) AS valid_to",
        "TRUE AS is_current",
    )
    unchanged = cust.join(upd, "c_custkey", "left_anti").selectExpr(
        "c_custkey",
        "c_acctbal AS acctbal",
        "'1995-01-01' AS valid_from",
        "CAST(NULL AS STRING) AS valid_to",
        "TRUE AS is_current",
    )
    hist = closed.unionAll(current_upd).unionAll(unchanged)
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    joined = orders.join(
        hist,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("valid_from").cast("timestamp") <= F.col("o_orderdate"))
        & (
            F.col("valid_to").isNull()
            | (F.col("o_orderdate") < F.col("valid_to").cast("timestamp"))
        ),
    )
    return joined.groupBy("valid_from", "is_current").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum("o_totalprice", "revenue"),
        F.count_distinct("o_custkey").alias("n_customers"),
    )


@register(
    name="q3_shipping_priority",
    survey="J5 J6 A7 O4",
    doc="TPC-H Q3 analog (shipping priority): BUILDING-segment customers' "
    "unshipped orders ranked by revenue — segment filter pushed to the "
    "customer scan, date filters pushed to both fact scans, customer "
    "join left to AQE, exact-decimal revenue, TakeOrderedAndProject "
    "top-10 with (revenue DESC, orderkey) tiebreak.",
    oracle=f"""
        SELECT l_orderkey,
               {oracle_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
               o_orderdate, o_orderpriority
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < "1998-01-01")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > "1998-01-01")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    name="q10_returned_items",
    survey="J5 J6 A7 O4",
    doc="TPC-H Q10 analog (returned-item reporting): revenue lost to "
    "returned lineitems per customer in a one-quarter order window, "
    "with the nation dimension broadcast; top-20 by lost revenue with "
    "deterministic tiebreak.",
    oracle=f"""
        SELECT c_custkey, c_name, n_name,
               {oracle_sum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
          AND l_returnflag = 'R'
          AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1997-04-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    name="q18_large_volume_orders",
    survey="J5 J6 A7 O4 J7",
    doc="TPC-H Q18 analog (large-volume customers): orders whose total "
    "line quantity clears a threshold — the HAVING subquery becomes a "
    "semi-join against the thresholded aggregate, quantity totals go "
    "through the exact-decimal contract on BOTH the filter and the "
    "output, top-100 with (totalprice DESC, orderkey) tiebreak.",
    oracle=f"""
        WITH big AS (
            SELECT l_orderkey
            FROM lineitem
            GROUP BY l_orderkey
            HAVING {oracle_sum('l_quantity')} > 140.0)
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               {oracle_sum('l_quantity')} AS total_qty
        FROM customer, orders, lineitem
        WHERE o_orderkey IN (SELECT l_orderkey FROM big)
          AND c_custkey = o_custkey
          AND o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", "tq"))
        .where(F.col("tq") > 140.0)
        .select("l_orderkey")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(
            big.withColumnRenamed("l_orderkey", "bk"),
            orders.o_orderkey == F.col("bk"),
            "left_semi",
        )
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(exact_sum("l_quantity", "total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    name="snapshot_diff_customers",
    survey="J7 U1 E2 F28",
    doc="Data-diff between two table snapshots (the reconciliation step "
    "of any incremental sync): snapshot A (md5 buckets 0-89) and "
    "snapshot B (buckets 10-99, balances shifted in buckets 40-49) are "
    "full-outer joined on the key and every row labeled added / "
    "removed / changed / unchanged. One co-partitioned join on the "
    "primary key; the verdict column is a null-safe CASE, so the same "
    "plan diffs two 50 TB snapshots.",
    oracle=f"""
        WITH a AS (
            SELECT c_custkey, c_acctbal FROM customer
            WHERE ({_D_CUST_BUCKET}) < 90),
        b AS (
            SELECT c_custkey,
                   CASE WHEN ({_D_CUST_BUCKET}) BETWEEN 40 AND 49
                        THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal
            FROM customer WHERE ({_D_CUST_BUCKET}) >= 10)
        SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
               CASE WHEN a.c_custkey IS NULL THEN 'added'
                    WHEN b.c_custkey IS NULL THEN 'removed'
                    WHEN a.c_acctbal <> b.c_acctbal THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
    """,
)
def snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    a = cust.where(F.expr(f"({_CUST_BUCKET}) < 90")).select(
        F.col("c_custkey").alias("a_key"), F.col("c_acctbal").alias("a_bal")
    )
    b = cust.where(F.expr(f"({_CUST_BUCKET}) >= 10")).select(
        F.col("c_custkey").alias("b_key"),
        F.expr(
            f"CASE WHEN ({_CUST_BUCKET}) BETWEEN 40 AND 49"
            " THEN c_acctbal + 50.0 ELSE c_acctbal END"
        ).alias("b_bal"),
    )
    j = a.join(b, a.a_key == b.b_key, "full_outer")
    return j.select(
        F.coalesce("a_key", "b_key").alias("c_custkey"),
        F.when(F.col("a_key").isNull(), "added")
        .when(F.col("b_key").isNull(), "removed")
        .when(F.col("a_bal") != F.col("b_bal"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


@register(
    name="revenue_share_within_region",
    survey="W3 J5 A7",
    doc="Ratio-to-report: each nation's share of its region's revenue — "
    "exact-decimal nation totals, then a region-partitioned window sum "
    "over the (25-row) nation aggregate and one fixed-order double "
    "division. The window runs on the aggregate, not the fact table, "
    "so its cost is independent of scale.",
    oracle=f"""
        WITH nat AS (
            SELECT r_name, n_name,
                   {oracle_sum('l_extendedprice * (1 - l_discount)')} AS revenue
            FROM lineitem, orders, customer, nation, region
            WHERE l_orderkey = o_orderkey
              AND o_custkey = c_custkey
              AND c_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
            GROUP BY r_name, n_name)
        SELECT r_name, n_name, revenue,
               revenue / CAST(ROUND(SUM(CAST(revenue AS DECIMAL(38,8)))
                   OVER (PARTITION BY r_name), 4) AS DOUBLE) AS region_share
        FROM nat
    """,
)
def revenue_share_within_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from uk_procurement_data_pipeline_spark.functions.exact import dec

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )
    w = Window.partitionBy("r_name")
    return nat.select(
        "r_name",
        "n_name",
        "revenue",
        (
            F.col("revenue")
            / F.round(F.sum(dec(F.col("revenue"))).over(w), 4).cast("double")
        ).alias("region_share"),
    )


@register(
    name="q5_local_supplier_volume",
    survey="J5 J6 A7",
    doc="TPC-H Q5 analog (local supplier volume): revenue by nation for "
    "orders where customer and supplier share the nation, scoped to one "
    "region and one order year. Six-table join: region/nation broadcast "
    "(fixed cardinality), customer-supplier co-nationality expressed as "
    "an equi-condition so the big three-way fact join shuffles on its "
    "keys and never widens; date filter sits on the orders scan.",
    oracle=f"""
        SELECT n_name,
               {oracle_sum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = (
        load(spark, sf_dir, "region")
        .where(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    asian_nations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(asian_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


@register(
    name="q6_forecast_revenue",
    survey="P4 A7",
    doc="TPC-H Q6 analog (forecasting revenue change): one filtered "
    "scan-and-sum — every predicate (ship year, discount band, quantity "
    "cap) pushes to the parquet scan, the aggregate is a single partial+"
    "final fold with no grouping key. The simplest possible plan; the "
    "point at 100 TB is that it STAYS that plan.",
    oracle=f"""
        SELECT {oracle_sum('l_extendedprice * l_discount')} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24.0
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * F.col("l_discount"), "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    name="q7_volume_shipping",
    survey="J5 J6 A7 F15",
    doc="TPC-H Q7 analog (volume shipping between two nations): revenue "
    "flowing supplier-nation -> customer-nation in either direction, by "
    "ship year. The nation pair condition lands on two BROADCAST copies "
    "of the nation dim joined to supplier and customer sides; the "
    "OR-of-two-pairs predicate is evaluated after both tiny joins, so "
    "the fact-side shuffle keys stay simple equi-keys.",
    oracle=f"""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               {oracle_sum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM supplier, lineitem, orders, customer,
             nation n1, nation n2
        WHERE s_suppkey = l_suppkey
          AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey
          AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ["NATION_1", "NATION_2"]
    n1 = nation.where(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.where(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                "l_extendedprice", "l_discount")
    )
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


@register(
    name="q8_market_share",
    survey="J5 J6 A7 F9 F15",
    doc="TPC-H Q8 analog (national market share): NATION_5's share of "
    "EUROPE-customer revenue for ECONOMY parts by order year — the "
    "share is a conditional exact-sum over the same rows as the total "
    "(one aggregation, no second scan), both sums through the decimal "
    "contract before one double division, so the ratio is bit-identical "
    "across engines. Eight-way join with all fixed-cardinality dims "
    "broadcast; part is key-joined (AQE picks its strategy at scale).",
    oracle=f"""
        WITH flat AS (
            SELECT year(o_orderdate) AS o_year,
                   l_extendedprice * (1 - l_discount) AS volume,
                   n1.n_name AS supp_nation
            FROM part, lineitem, supplier, orders, customer,
                 nation n1, nation n2, region
            WHERE p_partkey = l_partkey
              AND l_suppkey = s_suppkey
              AND l_orderkey = o_orderkey
              AND o_custkey = c_custkey
              AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND n2.n_regionkey = r_regionkey
              AND r_name = 'EUROPE'
              AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01')
        SELECT o_year,
               {oracle_sum("CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0.0 END")}
                   / {oracle_sum('volume')} AS mkt_share
        FROM flat
        GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation")
    region = (
        load(spark, sf_dir, "region")
        .where(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    n2 = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("c_nk"))
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flat = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    return flat.groupBy("o_year").agg(
        (
            exact_sum(
                F.when(F.col("supp_nation") == "NATION_5", F.col("volume"))
                .otherwise(0.0)
            )
            / exact_sum("volume")
        ).alias("mkt_share")
    )


@register(
    name="q14_promo_revenue",
    survey="J6 A7 F9",
    doc="TPC-H Q14 analog (promotion effect): percentage of one ship-"
    "month's revenue from PROMO-type parts — conditional exact-sum over "
    "total exact-sum in one aggregation, 100.0 * num / den evaluated "
    "in the same order in both engines for a bit-identical double.",
    oracle=f"""
        SELECT 100.0 * {oracle_sum(
            "CASE WHEN p_type = 'PROMO' "
            "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
               / {oracle_sum('l_extendedprice * (1 - l_discount)')}
                   AS promo_revenue_pct
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1996-09-01")
            & (F.col("l_shipdate") < "1996-10-01")
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * exact_sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
                )
                / exact_sum(rev)
            ).alias("promo_revenue_pct")
        )
    )


@register(
    name="q19_disjunctive_revenue",
    survey="J6 P4 A7 F9",
    doc="TPC-H Q19 analog (discounted revenue, disjunctive predicate): "
    "revenue over an OR of three conjunctive (brand, size-band, "
    "quantity-band) clauses spanning both join sides. The per-side "
    "halves of each clause push to the part and lineitem scans as "
    "ORs of range predicates BEFORE the join (p_size <= 25, l_quantity "
    "<= 40 here), and the full disjunction filters after — the classic "
    "pushdown-through-OR shape Catalyst must preserve at scale.",
    oracle=f"""
        SELECT {oracle_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#11' AND p_size BETWEEN 6 AND 15
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#21' AND p_size BETWEEN 16 AND 25
                AND l_quantity BETWEEN 20 AND 40))
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(6, 15)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(16, 25)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(clause)
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Z_BITS = 8  # morton key bits per dimension (8 -> 16-bit key, 2^16 cells)


def _oracle_zkey(a: str, b: str, bits: int = _Z_BITS) -> str:
    """DuckDB SQL mirroring functions/zorder.py interleave_bits — the same
    unrolled shift/and/or chain, so the morton key is bit-identical."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


@register(
    name="zorder_cell_stats",
    survey="S7 A7 F15",
    doc="Z-order (Morton) clustering key over orders: (o_custkey, order "
    "day) each min-max-scaled to 8 bits via a broadcast one-row stats "
    "join (data-derived bounds with NO driver collect), bit-interleaved "
    "JVM-side (functions/zorder.py — pure shift/and/or, stays in "
    "codegen), then per-z-cell occupancy stats (count + both dims' "
    "spans). The write-side use — repartitionByRange + "
    "sortWithinPartitions on this key for two-dimensional file "
    "skipping — is pinned in tests/test_sinks.py; this row pins the "
    "key itself cross-engine.",
    oracle=f"""
        WITH base AS (
            SELECT o_custkey,
                   date_diff('day', DATE '1995-01-01', o_orderdate) AS oday
            FROM orders),
        stats AS (
            SELECT min(o_custkey) AS lo_c, max(o_custkey) AS hi_c,
                   min(oday) AS lo_d, max(oday) AS hi_d
            FROM base),
        ranked AS (
            SELECT o_custkey, oday,
                   least({(1 << _Z_BITS) - 1}, greatest(0, CAST(floor(
                       (CAST(o_custkey - lo_c AS DOUBLE)
                        / CAST(hi_c - lo_c AS DOUBLE)) * {(1 << _Z_BITS) - 1})
                       AS BIGINT))) AS ra,
                   least({(1 << _Z_BITS) - 1}, greatest(0, CAST(floor(
                       (CAST(oday - lo_d AS DOUBLE)
                        / CAST(hi_d - lo_d AS DOUBLE)) * {(1 << _Z_BITS) - 1})
                       AS BIGINT))) AS rb
            FROM base, stats),
        keyed AS (
            SELECT o_custkey, oday, {_oracle_zkey('ra', 'rb')} AS zkey
            FROM ranked)
        SELECT zkey >> 6 AS zcell,
               COUNT(*) AS n_orders,
               CAST(min(o_custkey) AS BIGINT) AS min_custkey,
               CAST(max(o_custkey) AS BIGINT) AS max_custkey,
               CAST(min(oday) AS BIGINT) AS min_day,
               CAST(max(oday) AS BIGINT) AS max_day
        FROM keyed
        GROUP BY 1
    """,
)
def zorder_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.zorder import (
        int_rank,
        interleave_bits,
    )

    base = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("oday"),
    )
    stats = base.agg(
        F.min("o_custkey").alias("lo_c"),
        F.max("o_custkey").alias("hi_c"),
        F.min("oday").alias("lo_d"),
        F.max("oday").alias("hi_d"),
    )
    ranked = base.join(F.broadcast(stats)).select(
        "o_custkey",
        "oday",
        int_rank(
            F.col("o_custkey"), F.col("lo_c"), F.col("hi_c"), _Z_BITS
        ).alias("ra"),
        int_rank(F.col("oday"), F.col("lo_d"), F.col("hi_d"), _Z_BITS).alias(
            "rb"
        ),
    )
    keyed = ranked.select(
        "o_custkey",
        "oday",
        interleave_bits(F.col("ra"), F.col("rb"), _Z_BITS).alias("zkey"),
    )
    return keyed.groupBy(
        F.shiftright(F.col("zkey"), 6).alias("zcell")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_custkey").cast("bigint").alias("min_custkey"),
        F.max("o_custkey").cast("bigint").alias("max_custkey"),
        F.min("oday").cast("bigint").alias("min_day"),
        F.max("oday").cast("bigint").alias("max_day"),
    )


_BLOOM_BITS = 4096  # m: bitmap size (128 x 32-bit words)
_BLOOM_WORD = 32  # 32-bit words keep every shift < 2^31 (safe in both engines)


@register(
    name="bloom_semi_join_prefilter",
    survey="J5 J7 A7",
    doc="Broadcast Bloom-filter semi-join pre-filter (the manual form of "
    "Spark's runtime row-level filtering, and THE pattern for cutting "
    "shuffle volume when the probe side is 100 TB and the build side "
    "fits in memory): EUROPE suppliers' keys hash (cross-engine md5 "
    "family, two probes) into a 4096-bit bitmap built with a bit_or "
    "aggregate over 128 32-bit words; lineitem probes the bitmap via "
    "two broadcast word-lookups and bit tests, all map-side. Output "
    "compares probe-side rows vs bloom candidates vs exact semi-join "
    "matches, so the false-positive behavior itself is pinned "
    "deterministically cross-engine.",
    oracle=f"""
        WITH keys AS (
            SELECT s_suppkey
            FROM supplier, nation, region
            WHERE s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = 'EUROPE'),
        hashed AS (
            SELECT s_suppkey,
                   CAST('0x' || substr(md5(CAST(s_suppkey AS VARCHAR)), 1, 8)
                        AS BIGINT) AS h
            FROM keys),
        probes AS (
            SELECT h % {_BLOOM_BITS} AS p FROM hashed
            UNION ALL
            SELECT (h // {_BLOOM_BITS}) % {_BLOOM_BITS} AS p FROM hashed),
        bloom AS (
            SELECT p // {_BLOOM_WORD} AS word_idx,
                   bit_or(1 << (p % {_BLOOM_WORD})) AS bits
            FROM probes GROUP BY 1),
        li AS (
            SELECT l_suppkey,
                   CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 8)
                        AS BIGINT) AS h
            FROM lineitem),
        lp AS (
            SELECT l_suppkey,
                   h % {_BLOOM_BITS} AS p1,
                   (h // {_BLOOM_BITS}) % {_BLOOM_BITS} AS p2
            FROM li),
        tested AS (
            SELECT lp.l_suppkey,
                   CASE WHEN (b1.bits & (1 << (p1 % {_BLOOM_WORD})))
                            = (1 << (p1 % {_BLOOM_WORD}))
                         AND (b2.bits & (1 << (p2 % {_BLOOM_WORD})))
                            = (1 << (p2 % {_BLOOM_WORD}))
                        THEN 1 ELSE 0 END AS is_candidate,
                   CASE WHEN k.s_suppkey IS NOT NULL THEN 1 ELSE 0 END
                       AS is_exact
            FROM lp
            LEFT JOIN bloom b1 ON b1.word_idx = p1 // {_BLOOM_WORD}
            LEFT JOIN bloom b2 ON b2.word_idx = p2 // {_BLOOM_WORD}
            LEFT JOIN keys k ON k.s_suppkey = lp.l_suppkey)
        SELECT COUNT(*) AS n_rows,
               CAST(sum(is_candidate) AS BIGINT) AS n_candidates,
               CAST(sum(is_exact) AS BIGINT) AS n_exact
        FROM tested
    """,
)
def bloom_semi_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = (
        load(spark, sf_dir, "region")
        .where(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    keys = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    hashed = keys.selectExpr(
        "s_suppkey",
        "cast(conv(substr(md5(cast(s_suppkey AS string)), 1, 8), 16, 10)"
        " AS bigint) AS h",
    )
    probes = hashed.selectExpr(f"h % {_BLOOM_BITS} AS p").unionAll(
        hashed.selectExpr(f"(h div {_BLOOM_BITS}) % {_BLOOM_BITS} AS p")
    )
    bloom = probes.selectExpr(
        f"p div {_BLOOM_WORD} AS word_idx",
        f"shiftleft(1L, cast(p % {_BLOOM_WORD} AS int)) AS mask",
    ).groupBy("word_idx").agg(F.bit_or("mask").alias("bits"))
    lp = load(spark, sf_dir, "lineitem").selectExpr(
        "l_suppkey",
        "cast(conv(substr(md5(cast(l_suppkey AS string)), 1, 8), 16, 10)"
        " AS bigint) AS h",
    ).selectExpr(
        "l_suppkey",
        f"h % {_BLOOM_BITS} AS p1",
        f"(h div {_BLOOM_BITS}) % {_BLOOM_BITS} AS p2",
    )
    b1 = bloom.select(
        F.col("word_idx").alias("w1"), F.col("bits").alias("bits1")
    )
    b2 = bloom.select(
        F.col("word_idx").alias("w2"), F.col("bits").alias("bits2")
    )
    kk = keys.select(F.col("s_suppkey").alias("k_suppkey"))
    tested = (
        lp.join(F.broadcast(b1), F.expr(f"w1 = p1 div {_BLOOM_WORD}"), "left")
        .join(F.broadcast(b2), F.expr(f"w2 = p2 div {_BLOOM_WORD}"), "left")
        .join(F.broadcast(kk), F.col("k_suppkey") == F.col("l_suppkey"), "left")
        .selectExpr(
            "CASE WHEN (bits1 & shiftleft(1L, cast(p1 % {w} AS int)))"
            "        = shiftleft(1L, cast(p1 % {w} AS int))"
            "   AND (bits2 & shiftleft(1L, cast(p2 % {w} AS int)))"
            "        = shiftleft(1L, cast(p2 % {w} AS int))"
            " THEN 1 ELSE 0 END AS is_candidate".format(w=_BLOOM_WORD),
            "CASE WHEN k_suppkey IS NOT NULL THEN 1 ELSE 0 END AS is_exact",
        )
    )
    return tested.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("is_candidate").cast("bigint").alias("n_candidates"),
        F.sum("is_exact").cast("bigint").alias("n_exact"),
    )


@register(
    name="q13_customer_distribution",
    survey="J7 A7 A8",
    doc="TPC-H Q13 analog (customer distribution): LEFT join customers to "
    "their orders, count per customer (retaining zero-order customers), "
    "then aggregate the distribution of counts — the two-level "
    "aggregation whose first level keys on the join key it just "
    "shuffled on (no extra exchange between join and first groupBy; "
    "the second groupBy is over at most a few hundred distinct counts).",
    oracle="""
        WITH per_cust AS (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey)
        SELECT c_count, count(*) AS custdist
        FROM per_cust
        GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    name="q15_top_supplier",
    survey="J6 A7 J5",
    doc="TPC-H Q15 analog (top supplier): quarterly revenue per supplier, "
    "keep the supplier(s) whose revenue equals the maximum — the "
    "argmax-by-self-aggregation shape: the revenue table is computed "
    "ONCE, its single-row max is broadcast back as an equi-filter, no "
    "window sort and no second scan of lineitem. Revenue through the "
    "exact-decimal contract so the max comparison is bit-stable.",
    oracle=f"""
        WITH rev AS (
            SELECT l_suppkey AS supplier_no,
                   {oracle_sum('l_extendedprice * (1 - l_discount)')}
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey),
        mx AS (SELECT max(total_revenue) AS m FROM rev)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier, rev, mx
        WHERE s_suppkey = supplier_no AND total_revenue = m
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        exact_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "total_revenue",
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("m"))
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("m"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    name="q17_small_quantity_revenue",
    survey="J6 A7 J5",
    doc="TPC-H Q17 analog (small-quantity-order revenue): average yearly "
    "revenue lost if small orders (quantity under 20% of the part's "
    "average) were not filled, for one brand. The correlated scalar "
    "subquery becomes a per-part aggregate joined back to the same "
    "lineitem rows — one scan feeds both sides via the part-key "
    "shuffle; the brand filter prunes parts before either join. "
    "Integer count + exact-decimal sum, then one double division.",
    oracle=f"""
        WITH p AS (
            SELECT p_partkey FROM part WHERE p_brand = 'Brand#3'),
        avgq AS (
            SELECT l_partkey, avg(l_quantity) AS aq
            FROM lineitem JOIN p ON l_partkey = p_partkey
            GROUP BY l_partkey)
        SELECT {oracle_sum('l_extendedprice')} / 7.0 AS avg_yearly,
               COUNT(*) AS n_small
        FROM lineitem l
        JOIN avgq a ON l.l_partkey = a.l_partkey
        WHERE l.l_quantity < 0.2 * a.aq
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    avgq = branded.groupBy(F.col("l_partkey").alias("ak")).agg(
        F.avg("l_quantity").alias("aq")
    )
    return (
        branded.join(F.broadcast(avgq), F.col("l_partkey") == F.col("ak"))
        .where(F.col("l_quantity") < 0.2 * F.col("aq"))
        .agg(
            (exact_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@register(
    name="q22_global_sales_opportunity",
    survey="J7 A7 J5",
    doc="TPC-H Q22 analog (global sales opportunity): customers in a "
    "nation band with above-average positive balance and NO RECENT "
    "orders — the global scalar average attaches via a broadcast "
    "one-row join (no collect), the no-recent-orders condition is a "
    "left anti join keyed on the customer, grouped per nation. Balance "
    "sums go through the exact-decimal contract. (The anti side is "
    "scoped to the last fixture year: this corpus has no fully "
    "order-less customers, and a vacuous NOT EXISTS would pin "
    "nothing.)",
    oracle=f"""
        WITH avg_bal AS (
            SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0),
        eligible AS (
            SELECT c_custkey, c_nationkey % 5 AS cntrycode, c_acctbal
            FROM customer, avg_bal
            WHERE c_acctbal > ab AND c_nationkey % 5 IN (0, 1, 2)),
        no_orders AS (
            SELECT e.* FROM eligible e
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = e.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '2000-08-01'))
        SELECT cntrycode,
               COUNT(*) AS numcust,
               {oracle_sum('c_acctbal')} AS totacctbal
        FROM no_orders
        GROUP BY cntrycode
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    eligible = (
        cust.join(F.broadcast(avg_bal))
        .where(
            (F.col("c_acctbal") > F.col("ab"))
            & (F.col("c_nationkey") % 5).isin(0, 1, 2)
        )
        .select(
            "c_custkey",
            (F.col("c_nationkey") % 5).alias("cntrycode"),
            "c_acctbal",
        )
    )
    orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "2000-08-01")
        .select("o_custkey")
    )
    return (
        eligible.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal", "totacctbal"),
        )
    )


@register(
    name="orders_open_interval_sweep",
    survey="W3 A7 J6 F15",
    doc="Concurrent-interval counting via the sweep-line rewrite (the "
    "'how many orders were open on day X' stabbing query): each order "
    "spans [o_orderdate, max(l_shipdate)], emitted as a +1 delta at "
    "the start day and a -1 the day after the end, daily delta rollup, "
    "and the open-order count as a running sum over the calendar. The "
    "naive form joins every order against every day it covers "
    "(rows x avg-span blowup); the sweep is two linear aggregations "
    "plus a window over the BOUNDED calendar-day domain.",
    oracle="""
        WITH spans AS (
          SELECT o.o_orderkey,
                 date_trunc('day', o.o_orderdate) AS d0,
                 date_trunc('day', max(l.l_shipdate)) AS d1
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          GROUP BY o.o_orderkey, date_trunc('day', o.o_orderdate)
        ), deltas AS (
          SELECT d0 AS day, 1 AS delta FROM spans
          UNION ALL
          SELECT d1 + INTERVAL 1 DAY, -1 FROM spans
        ), daily AS (
          SELECT day, CAST(SUM(delta) AS BIGINT) AS n_delta
          FROM deltas GROUP BY day
        )
        SELECT day, n_delta,
               CAST(SUM(n_delta) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_open
        FROM daily
    """,
)
def orders_open_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.date_trunc("day", "o_orderdate").alias("d0"))
        .agg(F.date_trunc("day", F.max("l_shipdate")).alias("d1"))
    )
    deltas = spans.select(
        F.col("d0").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        spans.select(
            (F.col("d1") + F.expr("INTERVAL 1 DAY")).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    daily = deltas.groupBy("day").agg(
        F.sum("delta").cast("bigint").alias("n_delta")
    )
    # Bounded domain: one row per CALENDAR DAY of the fixture's ~7-year
    # span, not per order — same justification as cusum_changepoint.
    wrun = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        "n_delta",
        F.sum("n_delta").over(wrun).cast("bigint").alias("n_open"),
    )


@register(
    name="customer_feature_vector",
    survey="J6 J7 A7 F17 UD4",
    doc="Feature-store materialization: one dense array<double> feature "
    "vector per customer assembled from profile and behavioral "
    "aggregates (balance, order count, exact-decimal total spend, "
    "days since last order, avg order value, nation key) - the "
    "assemble-and-freeze step upstream of any tabular trainer. "
    "Left join keeps order-less customers (zero-imputed the same "
    "way in both engines); every monetary stat goes through the "
    "exact-decimal fold; the array is built positionally so schema "
    "evolution is explicit, then exploded to (c_custkey, i, feature) "
    "long form — doubles stay numerically typed and the output obeys "
    "the no-array-column convention. One customer-keyed aggregate plus "
    "one broadcast-able join; linear shuffles.",
    oracle="""
        WITH agg AS (
          SELECT o_custkey,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,8))), 4)
                      AS DOUBLE) AS total_spend,
                 CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                                DATE '2002-01-01') AS BIGINT)
                     AS days_since_last
          FROM orders GROUP BY o_custkey)
        , vec AS (
        SELECT c.c_custkey,
               [CAST(c.c_acctbal AS DOUBLE),
                CAST(COALESCE(a.n_orders, 0) AS DOUBLE),
                COALESCE(a.total_spend, 0.0),
                CAST(COALESCE(a.days_since_last, -1) AS DOUBLE),
                CASE WHEN COALESCE(a.n_orders, 0) > 0
                     THEN a.total_spend / CAST(a.n_orders AS DOUBLE)
                     ELSE 0.0 END,
                CAST(c.c_nationkey AS DOUBLE)] AS features
        FROM customer c LEFT JOIN agg a ON c.c_custkey = a.o_custkey)
        SELECT c_custkey, CAST(s.i - 1 AS BIGINT) AS i,
               features[s.i] AS feature
        FROM vec,
             LATERAL (SELECT unnest(range(1, len(features) + 1)) AS i) s
    """,
)
def customer_feature_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import dec

    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum(dec("o_totalprice")), 4)
            .cast("double")
            .alias("total_spend"),
            F.datediff(
                F.lit("2002-01-01").cast("date"), F.max("o_orderdate").cast("date")
            )
            .cast("bigint")
            .alias("days_since_last"),
        )
    )
    c = load(spark, sf_dir, "customer")
    avg_order = F.when(
        F.coalesce(F.col("n_orders"), F.lit(0)) > 0,
        F.col("total_spend") / F.col("n_orders").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        c.join(agg, c.c_custkey == agg.o_custkey, "left")
        .select(
            "c_custkey",
            F.array(
                F.col("c_acctbal").cast("double"),
                F.coalesce(F.col("n_orders"), F.lit(0)).cast("double"),
                F.coalesce(F.col("total_spend"), F.lit(0.0)),
                F.coalesce(F.col("days_since_last"), F.lit(-1)).cast("double"),
                avg_order,
                F.col("c_nationkey").cast("double"),
            ).alias("features"),
        )
        .select("c_custkey", F.posexplode("features").alias("i", "feature"))
        .select("c_custkey", F.col("i").cast("bigint").alias("i"), "feature")
    )


@register(
    name="order_total_reconciliation",
    survey="A7 J6 E5 F28",
    doc="Fact-table reconciliation audit: per order, the header "
    "o_totalprice vs the total DERIVED from its line items "
    "(extendedprice * (1 - discount) * (1 + tax), each product one "
    "deterministic double expression cast to exact decimal before "
    "the order-level sum), rolled up into relative-error bands "
    "(exact / <=1% / <=10% / >10% / no-lineitems) - the first "
    "integrity check any warehouse runs between a header and its "
    "detail table. One lineitem aggregation + one order-keyed "
    "broadcast-able join; band domain bounded.",
    oracle="""
        WITH derived AS (
          SELECT l_orderkey,
                 CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                     * (1 + l_tax) AS DECIMAL(38,8))), 4)
                      AS DOUBLE) AS derived_total
          FROM lineitem GROUP BY l_orderkey
        ), banded AS (
          SELECT CASE
                   WHEN d.derived_total IS NULL THEN 'no_lineitems'
                   WHEN abs(o.o_totalprice - d.derived_total)
                        <= 1e-9 * o.o_totalprice THEN 'exact'
                   WHEN abs(o.o_totalprice - d.derived_total)
                        <= 0.01 * o.o_totalprice THEN 'within_1pct'
                   WHEN abs(o.o_totalprice - d.derived_total)
                        <= 0.10 * o.o_totalprice THEN 'within_10pct'
                   ELSE 'over_10pct'
                 END AS band
          FROM orders o LEFT JOIN derived d ON o.o_orderkey = d.l_orderkey)
        SELECT band, CAST(count(*) AS BIGINT) AS n_orders
        FROM banded GROUP BY band ORDER BY band
    """,
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import dec

    derived = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(
                    dec(
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * (1 + F.col("l_tax"))
                    )
                ),
                4,
            )
            .cast("double")
            .alias("derived_total")
        )
    )
    o = load(spark, sf_dir, "orders")
    err = F.abs(F.col("o_totalprice") - F.col("derived_total"))
    band = (
        F.when(F.col("derived_total").isNull(), "no_lineitems")
        .when(err <= 1e-9 * F.col("o_totalprice"), "exact")
        .when(err <= 0.01 * F.col("o_totalprice"), "within_1pct")
        .when(err <= 0.10 * F.col("o_totalprice"), "within_10pct")
        .otherwise("over_10pct")
    )
    return (
        o.join(derived, o.o_orderkey == derived.l_orderkey, "left")
        .select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("band")
    )


_CARD_JOINS = (
    ("orders x customer on custkey", "orders", "o_custkey", "customer",
     "c_custkey"),
    ("lineitem x orders on orderkey", "lineitem", "l_orderkey", "orders",
     "o_orderkey"),
    ("lineitem x part on partkey", "lineitem", "l_partkey", "part",
     "p_partkey"),
)


def _card_duck(label, ta, ka, tb, kb) -> str:
    return f"""
        SELECT '{label}' AS join_label,
               a.n AS n_left, b.n AS n_right,
               a.d AS ndv_left, b.d AS ndv_right,
               CAST((a.n * b.n) // GREATEST(a.d, b.d) AS BIGINT)
                   AS est_rows,
               (SELECT CAST(count(*) AS BIGINT)
                FROM {ta} x JOIN {tb} y ON x.{ka} = y.{kb}) AS actual_rows,
               CAST((a.n * b.n) // GREATEST(a.d, b.d) AS DOUBLE)
               / CAST((SELECT count(*) FROM {ta} x JOIN {tb} y
                       ON x.{ka} = y.{kb}) AS DOUBLE) AS est_over_actual
        FROM (SELECT CAST(count({ka}) AS BIGINT) AS n,
                     CAST(count(DISTINCT {ka}) AS BIGINT) AS d
              FROM {ta}) a,
             (SELECT CAST(count({kb}) AS BIGINT) AS n,
                     CAST(count(DISTINCT {kb}) AS BIGINT) AS d
              FROM {tb}) b"""


@register(
    name="join_cardinality_estimate",
    survey="A7 A8 J6 U1",
    doc="Optimizer-style join cardinality estimation audited against "
    "truth: for three star-schema joins, the textbook containment "
    "estimate |A|*|B| / max(ndv_A, ndv_B) (System-R / Selinger) "
    "computed from exact side statistics, the ACTUAL join count, "
    "and their ratio - the misestimation report that tells you "
    "where a cost-based planner would pick a wrong strategy. "
    "Statistics are one aggregate per side; each truth join is the "
    "real equi-join counted (broadcast-able dims); integer floor "
    "division keeps the estimate engine-identical.",
    oracle=" UNION ALL ".join(_card_duck(*j) for j in _CARD_JOINS)
    + " ORDER BY join_label",
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for label, ta, ka, tb, kb in _CARD_JOINS:
        da = load(spark, sf_dir, ta)
        db = load(spark, sf_dir, tb)
        a = da.agg(
            F.count(ka).cast("bigint").alias("n_left"),
            F.countDistinct(ka).cast("bigint").alias("ndv_left"),
        )
        b = db.agg(
            F.count(kb).cast("bigint").alias("n_right"),
            F.countDistinct(kb).cast("bigint").alias("ndv_right"),
        )
        actual = (
            da.join(db, da[ka] == db[kb])
            .agg(F.count(F.lit(1)).cast("bigint").alias("actual_rows"))
        )
        est = F.expr("(n_left * n_right) div GREATEST(ndv_left, ndv_right)")
        branch = (
            a.join(F.broadcast(b))
            .join(F.broadcast(actual))
            .select(
                F.lit(label).alias("join_label"),
                "n_left",
                "n_right",
                "ndv_left",
                "ndv_right",
                est.cast("bigint").alias("est_rows"),
                "actual_rows",
                (est.cast("double") / F.col("actual_rows").cast("double")).alias(
                    "est_over_actual"
                ),
            )
        )
        out = branch if out is None else out.unionByName(branch)
    return out.orderBy("join_label")


@register(
    name="shipping_delay_percentiles",
    survey="W1 A7 J6 F15",
    doc="Order-to-ship SLA distribution per order priority: exact "
    "p50/p90/p99 of the lineitem ship delay (l_shipdate minus "
    "o_orderdate, integer days) read off a delay histogram: rows are "
    "counted per (priority, delay day), a running sum of those counts "
    "per priority gives each delay's cumulative rank, and a percentile "
    "is the smallest delay whose running sum reaches its rank, so no "
    "row-level rank or sort is ever built. The only row-sized work is "
    "the orders join (orderkey-keyed) and the histogram's partial "
    "aggregate.",
    oracle="""
        WITH d AS (
          SELECT o.o_orderpriority AS priority,
                 CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                CAST(l.l_shipdate AS DATE)) AS BIGINT)
                     AS delay,
                 l.l_orderkey * 10 + l.l_linenumber AS uid
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ), n AS (
          SELECT priority, CAST(count(*) AS BIGINT) AS n
          FROM d GROUP BY priority
        ), ranked AS (
          SELECT priority, delay,
                 ROW_NUMBER() OVER (PARTITION BY priority
                                    ORDER BY delay, uid) AS rn
          FROM d)
        SELECT n.priority, n.n,
               MAX(CASE WHEN rn = (n + 1) // 2 THEN delay END) AS p50_days,
               MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN delay END)
                   AS p90_days,
               MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN delay END)
                   AS p99_days
        FROM ranked JOIN n USING (priority)
        GROUP BY n.priority, n.n
        ORDER BY n.priority
    """,
)
def shipping_delay_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("delay"),
    )
    # r13 (guide §2.3 aggregate before you shuffle): delays are integer
    # days over a ~4,900-value domain, so the exact rank construction
    # collapses to counts per (priority, delay) — a map-side partial
    # aggregate shrinks the row-scale join output to <= |priorities| x
    # |distinct delays| (~25k) rows BEFORE any shuffle, and every sort/
    # window/offset-join runs on that tiny table. The delay at global
    # rank r (ordered by delay, then any tiebreak) is min{v : cum(v) >= r}
    # — tie rows share the same delay value, so the old per-row
    # row_number + banded offsets machinery (which shuffled and sorted
    # every lineitem row) computes the identical percentiles.
    cnt = d.groupBy("priority", "delay").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("priority")
        .orderBy("delay")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("priority")
    cum = cnt.select(
        "priority",
        "delay",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).cast("bigint").alias("n"),
    )
    return (
        cum.groupBy("priority", "n")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("delay"))
            ).alias("p50_days"),
            F.min(
                F.when(F.col("cum") >= F.expr("(9 * n + 9) div 10"), F.col("delay"))
            ).alias("p90_days"),
            F.min(
                F.when(F.col("cum") >= F.expr("(99 * n + 99) div 100"), F.col("delay"))
            ).alias("p99_days"),
        )
        .select("priority", "n", "p50_days", "p90_days", "p99_days")
        .orderBy("priority")
    )


@register(
    name="feature_gini_ranking",
    survey="A7 U1 F28 W1",
    doc="Decision-tree-style split-quality ranking across candidate "
    "features: unpivot four banded lineitem features (line status, "
    "quantity decile band, discount 2-point band, ship-month band) "
    "and score each "
    "by the Gini impurity of l_returnflag after splitting on it — the "
    "first step of any distributed tree/feature-selection trainer, and "
    "the multi-feature generalization of decision_stump_value_split. "
    "Weighted impurity 1 - (1/N) * sum_b(sum_c n_bc^2 / n_b) uses "
    "integer-floor-quantized per-band micro terms (the X125/X126 "
    "cross-multiplication house pattern), so the only IEEE op is the "
    "final display division. Scale shape: the stack() explode happens "
    "BEFORE the first aggregation but partial (map-side) agg collapses "
    "it straight onto the bounded (feature, band, class) domain — no "
    "row-sized shuffle, one scan, then trivially-small rollups. "
    "Budget note: the n_bc^2 x 1e6 bigint term holds to n_b ~ 3e6 "
    "rows-per-band; past that swap the quantum for a decimal(38,0) "
    "product (documented rather than paid now, matching the house "
    "budget-rule practice in functions/exact.py).",
    oracle="""
        WITH feats AS (
          SELECT 'linestatus' AS feature, l_linestatus AS band,
                 l_returnflag AS cls FROM lineitem
          UNION ALL
          SELECT 'ship_month',
                 CAST(CAST(month(l_shipdate) AS BIGINT) AS VARCHAR),
                 l_returnflag FROM lineitem
          UNION ALL
          SELECT 'qty_band',
                 CAST(CAST(FLOOR(l_quantity / 10.0) AS BIGINT) AS VARCHAR),
                 l_returnflag FROM lineitem
          UNION ALL
          SELECT 'disc_band',
                 CAST(CAST(FLOOR(l_discount * 100.0 / 2.0) AS BIGINT)
                      AS VARCHAR),
                 l_returnflag FROM lineitem
        ), bc AS (
          SELECT feature, band, cls, CAST(count(*) AS BIGINT) AS n_bc
          FROM feats GROUP BY 1, 2, 3
        ), bands AS (
          SELECT feature, band,
                 SUM(n_bc) AS n_b,
                 SUM(n_bc * n_bc) AS s_b
          FROM bc GROUP BY 1, 2
        ), terms AS (
          SELECT feature, band, n_b,
                 (s_b * 1000000) // n_b AS term_micro
          FROM bands
        ), scored AS (
          SELECT feature,
                 CAST(count(*) AS BIGINT) AS n_bands,
                 CAST(SUM(n_b) AS BIGINT) AS n_rows,
                 CAST(SUM(term_micro) AS BIGINT) AS purity_micro
          FROM terms GROUP BY feature
        )
        SELECT feature, n_bands, n_rows, purity_micro,
               1.0 - CAST(purity_micro AS DOUBLE) / 1000000.0
                   / CAST(n_rows AS DOUBLE) AS weighted_gini,
               CAST(row_number() OVER (
                   ORDER BY purity_micro * 1000000 // n_rows DESC, feature)
                 AS BIGINT) AS rank
        FROM scored
        ORDER BY rank
    """,
)
def feature_gini_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        "l_shipdate",
        "l_quantity",
        "l_discount",
        "l_returnflag",
    )
    feats = li.select(
        F.expr(
            "stack(4,"
            " 'linestatus', l_linestatus,"
            " 'ship_month', CAST(CAST(month(l_shipdate) AS BIGINT)"
            "               AS STRING),"
            " 'qty_band', CAST(CAST(FLOOR(l_quantity / 10.0) AS BIGINT)"
            "             AS STRING),"
            " 'disc_band', CAST(CAST(FLOOR(l_discount * 100.0 / 2.0)"
            "              AS BIGINT) AS STRING)"
            ") AS (feature, band)"
        ),
        F.col("l_returnflag").alias("cls"),
    )
    bc = feats.groupBy("feature", "band", "cls").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bc")
    )
    bands = bc.groupBy("feature", "band").agg(
        F.sum("n_bc").alias("n_b"),
        F.sum(F.col("n_bc") * F.col("n_bc")).alias("s_b"),
    )
    terms = bands.select(
        "feature",
        "n_b",
        F.expr("(s_b * 1000000) div n_b").alias("term_micro"),
    )
    scored = terms.groupBy("feature").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bands"),
        F.sum("n_b").cast("bigint").alias("n_rows"),
        F.sum("term_micro").cast("bigint").alias("purity_micro"),
    )
    # Rank on an integer key (purity normalized by the feature's row
    # count) so tie order can never hinge on an IEEE division.
    w = Window.orderBy(F.expr("purity_micro * 1000000 div n_rows").desc(), "feature")
    return scored.select(
        "feature",
        "n_bands",
        "n_rows",
        "purity_micro",
        (
            F.lit(1.0)
            - F.col("purity_micro").cast("double")
            / F.lit(1000000.0)
            / F.col("n_rows").cast("double")
        ).alias("weighted_gini"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    ).orderBy("rank")


@register(
    name="business_days_to_ship",
    survey="J6 A7 F15 F28",
    doc="Operational SLA latency in BUSINESS days (weekends excluded) "
    "from order to line shipment, rolled up per order priority — the "
    "calendar-aware twin of shipping_delay_percentiles. Uses the "
    "closed-form weekday counter W(d) = 5*(days div 7) + "
    "least(days mod 7, 5) with days measured from a Monday epoch "
    "(1994-12-26, before the data's range so the integer div/mod "
    "never sees negatives — negative division semantics differ "
    "between engines); business days = W(ship) - W(order). Pure "
    "integer arithmetic except the single mean division. Also "
    "reports the weekend-shipment fraction (days mod 7 >= 5). One "
    "orderkey equi-join and one bounded-domain rollup.",
    oracle="""
        WITH j AS (
          SELECT o.o_orderpriority AS priority,
                 CAST(date_diff('day', DATE '1994-12-26',
                      CAST(o.o_orderdate AS DATE)) AS BIGINT) AS od,
                 CAST(date_diff('day', DATE '1994-12-26',
                      CAST(l.l_shipdate AS DATE)) AS BIGINT) AS sd
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ), b AS (
          SELECT priority,
                 (5 * (sd // 7) + least(sd % 7, 5))
                 - (5 * (od // 7) + least(od % 7, 5)) AS bdays,
                 CASE WHEN sd % 7 >= 5 THEN 1 ELSE 0 END AS weekend_ship
          FROM j
        )
        SELECT priority,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(MIN(bdays) AS BIGINT) AS min_bdays,
               CAST(MAX(bdays) AS BIGINT) AS max_bdays,
               CAST(SUM(bdays) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS avg_bdays,
               CAST(SUM(weekend_ship) AS BIGINT) AS n_weekend_ship,
               CAST(SUM(weekend_ship) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS weekend_ship_rate
        FROM b
        GROUP BY priority
        ORDER BY priority
    """,
)
def business_days_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1994-12-26").cast("date")
        )
        .cast("bigint")
        .alias("od"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1994-12-26").cast("date")
        )
        .cast("bigint")
        .alias("sd"),
    )
    b = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.expr("(5 * (sd div 7) + least(sd % 7, 5))"
               " - (5 * (od div 7) + least(od % 7, 5))").alias("bdays"),
        F.when(F.expr("sd % 7 >= 5"), 1).otherwise(0).alias("weekend_ship"),
    )
    return (
        b.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.min("bdays").cast("bigint").alias("min_bdays"),
            F.max("bdays").cast("bigint").alias("max_bdays"),
            (F.sum("bdays").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_bdays"
            ),
            F.sum("weekend_ship").cast("bigint").alias("n_weekend_ship"),
            (
                F.sum("weekend_ship").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("weekend_ship_rate"),
        )
        .orderBy("priority")
    )


@register(
    name="partition_layout_planner",
    survey="A7 F15 F28 S7",
    doc="Write-layout planning audit for a ship-month-partitioned sink "
    "(the sizing pass you run BEFORE a 100 TB repartition+write, "
    "companion to the physical compaction in sources/sinks.py "
    "compact_parquet and the read-side join_key_skew_report): per "
    "partition key, exact in-memory row-byte estimate (fixed widths "
    "for numerics + octet_length for strings — deterministic in both "
    "engines), the 128 MiB-target file count via integer ceiling "
    "division, each partition's byte share, and its skew vs the mean "
    "partition. One scan, one bounded-domain hash agg, one broadcast "
    "one-row total; the only doubles are the two share/skew display "
    "divisions.",
    oracle="""
        WITH per_row AS (
          SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate)
                 AS BIGINT) AS ship_month,
                 68 + strlen(l_returnflag)
                    + strlen(l_linestatus) AS row_bytes
          FROM lineitem
        ), per_part AS (
          SELECT ship_month,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(SUM(row_bytes) AS BIGINT) AS est_bytes
          FROM per_row GROUP BY ship_month
        ), tot AS (
          SELECT CAST(SUM(est_bytes) AS BIGINT) AS total_bytes,
                 CAST(count(*) AS BIGINT) AS n_parts
          FROM per_part
        )
        SELECT p.ship_month, p.n_rows, p.est_bytes,
               (p.est_bytes + 134217727) // 134217728 AS n_target_files,
               CAST(p.est_bytes AS DOUBLE)
                 / CAST(t.total_bytes AS DOUBLE) AS bytes_share,
               CAST(p.est_bytes AS DOUBLE) * CAST(t.n_parts AS DOUBLE)
                 / CAST(t.total_bytes AS DOUBLE) AS skew_vs_mean
        FROM per_part p CROSS JOIN tot t
        ORDER BY ship_month
    """,
)
def partition_layout_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_row = load(spark, sf_dir, "lineitem").select(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("bigint")
        .alias("ship_month"),
        (
            F.lit(68)
            + F.octet_length("l_returnflag")
            + F.octet_length("l_linestatus")
        ).alias("row_bytes"),
    )
    per_part = per_row.groupBy("ship_month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("row_bytes").cast("bigint").alias("est_bytes"),
    )
    tot = per_part.agg(
        F.sum("est_bytes").cast("bigint").alias("total_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .select(
            "ship_month",
            "n_rows",
            "est_bytes",
            F.expr("(est_bytes + 134217727) div 134217728").alias("n_target_files"),
            (
                F.col("est_bytes").cast("double")
                / F.col("total_bytes").cast("double")
            ).alias("bytes_share"),
            (
                F.col("est_bytes").cast("double")
                * F.col("n_parts").cast("double")
                / F.col("total_bytes").cast("double")
            ).alias("skew_vs_mean"),
        )
        .orderBy("ship_month")
    )


# --- logistic_newton_2step: shared engine-identical expression templates.
# z, sigma, w, and the per-row gradient/Hessian micro terms are the SAME
# SQL text in Spark and the oracle; both engines evaluate the identical
# fixed-order IEEE expression per row, FLOOR(x * 1e6) pins each term to an
# integer, and the bigint sums are order-independent.
_LG_Z = "({b0} + {b1} * x)"
_LG_S = "(0.5 + " + _LG_Z + " / (2.0 * (1.0 + abs(" + _LG_Z + "))))"
_LG_W = "(" + _LG_S + " * (1.0 - " + _LG_S + "))"


def _lg_sums(b0: str, b1: str) -> str:
    """Aggregate list: micro-quantized G0, G1, H00, H01, H11."""
    s = _LG_S.format(b0=b0, b1=b1)
    w = _LG_W.format(b0=b0, b1=b1)
    mk = "CAST(SUM(CAST(FLOOR(({v}) * 1000000.0) AS BIGINT)) AS BIGINT)"
    return ", ".join(
        [
            mk.format(v=f"(y - {s})") + " AS g0",
            mk.format(v=f"(y - {s}) * x") + " AS g1",
            mk.format(v=w) + " AS h00",
            mk.format(v=f"{w} * x") + " AS h01",
            mk.format(v=f"{w} * x * x") + " AS h11",
        ]
    )


# 2x2 Newton solve on the de-quantized sums; same text in both engines.
_LG_STEP = """
    {pb0} + ((CAST(h11 AS DOUBLE) / 1000000.0) * (CAST(g0 AS DOUBLE) / 1000000.0)
       - (CAST(h01 AS DOUBLE) / 1000000.0) * (CAST(g1 AS DOUBLE) / 1000000.0))
      / ((CAST(h00 AS DOUBLE) / 1000000.0) * (CAST(h11 AS DOUBLE) / 1000000.0)
       - (CAST(h01 AS DOUBLE) / 1000000.0) * (CAST(h01 AS DOUBLE) / 1000000.0))
      AS b0,
    {pb1} + ((CAST(h00 AS DOUBLE) / 1000000.0) * (CAST(g1 AS DOUBLE) / 1000000.0)
       - (CAST(h01 AS DOUBLE) / 1000000.0) * (CAST(g0 AS DOUBLE) / 1000000.0))
      / ((CAST(h00 AS DOUBLE) / 1000000.0) * (CAST(h11 AS DOUBLE) / 1000000.0)
       - (CAST(h01 AS DOUBLE) / 1000000.0) * (CAST(h01 AS DOUBLE) / 1000000.0))
      AS b1
"""


@register(
    name="logistic_newton_2step",
    survey="A7 J5 F28",
    doc="Distributed logistic-style regression by two unrolled Newton/"
    "IRLS steps — the canonical 'big-data ML' pattern: each step is ONE "
    "map-side-combinable aggregation of per-row gradient and Hessian "
    "terms, then a closed-form 2x2 solve on the driver-sized one-row "
    "result, broadcast back for the next pass. P(returnflag='R') ~ "
    "quantity. The link is the RATIONAL fast sigmoid 0.5 + z/(2(1+|z|)) "
    "(Elliott 1993) instead of exp()-based logistic, because exp is a "
    "libm hazard across engines while +,*,/,abs are IEEE-exact — the "
    "documented determinism contract; the optimization STRUCTURE "
    "(exact distributed Newton) is the operator under test. Every "
    "per-row term is FLOOR(x*1e6)-pinned before the bigint sum "
    "(order-independent); term magnitude x rows stays ~4e14 at sf0.1, "
    "under bigint — at cluster scale widen to decimal(38,0) sums. Two "
    "linear scans, no shuffle beyond the final 1-row aggs.",
    oracle=f"""
        WITH src AS (
          SELECT CAST(l_quantity AS DOUBLE) AS x,
                 CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
          FROM lineitem
        ), r1 AS (
          SELECT {_lg_sums('0.0', '0.0')},
                 CAST(count(*) AS BIGINT) AS n
          FROM src
        ), beta1 AS (
          SELECT n, {_LG_STEP.format(pb0='0.0', pb1='0.0')}
          FROM r1
        ), r2 AS (
          SELECT b.n, b.b0 AS pb0, b.b1 AS pb1, {_lg_sums('b.b0', 'b.b1')}
          FROM src CROSS JOIN beta1 b
          GROUP BY b.n, b.b0, b.b1
        ), beta2 AS (
          SELECT n, {_LG_STEP.format(pb0='pb0', pb1='pb1')}
          FROM r2
        )
        SELECT n AS n_rows, b0, b1 FROM beta2
    """,
)
def logistic_newton_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The per-row term templates above ARE the implementation contract;
    # Spark runs the same fixed-order expressions through spark.sql so
    # the two engines cannot drift. Catalyst still plans this as two
    # scans with map-side partial aggregation into one-row results.
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_lg")
    return spark.sql(f"""
        WITH src AS (
          SELECT CAST(l_quantity AS DOUBLE) AS x,
                 CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
          FROM lineitem_lg
        ), r1 AS (
          SELECT {_lg_sums('0.0', '0.0')},
                 CAST(count(*) AS BIGINT) AS n
          FROM src
        ), beta1 AS (
          SELECT n, {_LG_STEP.format(pb0='0.0', pb1='0.0')}
          FROM r1
        ), r2 AS (
          SELECT b.n, b.b0 AS pb0, b.b1 AS pb1, {_lg_sums('b.b0', 'b.b1')}
          FROM src CROSS JOIN beta1 b
          GROUP BY b.n, b.b0, b.b1
        ), beta2 AS (
          SELECT n, {_LG_STEP.format(pb0='pb0', pb1='pb1')}
          FROM r2
        )
        SELECT n AS n_rows, b0, b1 FROM beta2
    """)


# cuped_adjusted_lift: the theta / adjusted-mean arithmetic as ONE shared
# fixed-order expression text per quantity (identical in Spark and the
# oracle — same IEEE ops in the same order on identical integer inputs).
_CUPED_THETA = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_CUPED_R2 = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))"
    " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)
_CUPED_ADJ = (
    "CAST(syg AS DOUBLE) / CAST(ng AS DOUBLE) - ({theta})"
    " * (CAST(sxg AS DOUBLE) / CAST(ng AS DOUBLE)"
    " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
)


@register(
    name="cuped_adjusted_lift",
    survey="A7 J5 F28 F15",
    doc="CUPED variance-reduced experiment readout (Deng et al. 2013) — "
    "the modern A/B analysis that abtest_proportions_ztest lacks: "
    "per-customer pre-period spend (first date-range half) is the "
    "covariate x, post-period spend the metric y, assignment is the "
    "deterministic md5(custkey) mod 2 split, theta = cov(x,y)/var(x) "
    "is estimated POOLED, and each group reports raw vs "
    "theta-adjusted mean with the achieved variance-reduction r^2. "
    "Spend is floored to hundred-dollar integer units so ALL five "
    "moment sums are exact bigints within the 2^53 display budget "
    "(cents^2 sums overflow; the unit choice is the functions/"
    "exact.py input-shrinking rule done structurally, not by dividing "
    "doubles). theta/r^2/adjusted means are shared fixed-order double "
    "expression templates — bit-identical across engines. One "
    "customer-keyed agg, one 5-integer global rollup broadcast back.",
    oracle=f"""
        WITH bounds AS (
          SELECT CAST(min(CAST(o_orderdate AS DATE)) AS DATE) AS mn,
                 CAST(date_diff('day',
                      CAST(min(CAST(o_orderdate AS DATE)) AS DATE),
                      CAST(max(CAST(o_orderdate AS DATE)) AS DATE))
                   AS BIGINT) AS span
          FROM orders
        ), cust AS (
          SELECT o.o_custkey,
                 CAST('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR)),
                                     1, 8) AS BIGINT) % 2 AS grp,
                 SUM(CASE WHEN CAST(date_diff('day', b.mn,
                            CAST(o.o_orderdate AS DATE)) AS BIGINT)
                          < b.span // 2
                          THEN CAST(ROUND(o.o_totalprice * 100)
                               AS BIGINT) ELSE 0 END) // 10000 AS x,
                 SUM(CASE WHEN CAST(date_diff('day', b.mn,
                            CAST(o.o_orderdate AS DATE)) AS BIGINT)
                          >= b.span // 2
                          THEN CAST(ROUND(o.o_totalprice * 100)
                               AS BIGINT) ELSE 0 END) // 10000 AS y
          FROM orders o CROSS JOIN bounds b
          GROUP BY 1, 2
        ), g AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(y * y) AS BIGINT) AS syy
          FROM cust
        ), per_grp AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS ng,
                 CAST(SUM(x) AS BIGINT) AS sxg,
                 CAST(SUM(y) AS BIGINT) AS syg
          FROM cust GROUP BY grp
        )
        SELECT p.grp AS grp, p.ng AS n_users,
               CAST(p.syg AS DOUBLE) / CAST(p.ng AS DOUBLE)
                   AS raw_mean_y_units,
               {_CUPED_ADJ.format(theta=_CUPED_THETA).replace('syg', 'p.syg').replace('sxg', 'p.sxg').replace('ng', 'p.ng')}
                   AS adj_mean_y_units,
               {_CUPED_THETA} AS theta,
               {_CUPED_R2} AS var_reduction_r2
        FROM per_grp p CROSS JOIN g
        ORDER BY grp
    """,
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.col("o_orderdate").cast("date").alias("od")
    )
    bounds = orders.agg(
        F.min("od").alias("mn"),
        F.datediff(F.max("od"), F.min("od")).cast("bigint").alias("span"),
    )
    cents = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    in_h1 = (
        "CAST(datediff(od, mn) AS BIGINT) < span div 2"
    )
    cust = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            "o_custkey",
            F.expr(
                "CAST(conv(substr(md5(CAST(o_custkey AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("grp"),
        )
        .agg(
            F.expr(
                f"SUM(CASE WHEN {in_h1} THEN {cents} ELSE 0 END) div 10000"
            ).alias("x"),
            F.expr(
                f"SUM(CASE WHEN NOT ({in_h1}) THEN {cents} ELSE 0 END)"
                " div 10000"
            ).alias("y"),
        )
    )
    g = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    per_grp = cust.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("x").cast("bigint").alias("sxg"),
        F.sum("y").cast("bigint").alias("syg"),
    )
    return (
        per_grp.crossJoin(F.broadcast(g))
        .select(
            F.col("grp"),
            F.col("ng").alias("n_users"),
            F.expr("CAST(syg AS DOUBLE) / CAST(ng AS DOUBLE)").alias(
                "raw_mean_y_units"
            ),
            F.expr(_CUPED_ADJ.format(theta=_CUPED_THETA)).alias(
                "adj_mean_y_units"
            ),
            F.expr(_CUPED_THETA).alias("theta"),
            F.expr(_CUPED_R2).alias("var_reduction_r2"),
        )
        .orderBy("grp")
    )


@register(
    name="did_spend_estimator",
    survey="A7 J5 F15 F28",
    doc="Difference-in-differences estimator — with cuped_adjusted_lift "
    "and abtest_proportions_ztest this completes the experimentation "
    "trio (DiD is the pre/post design when you CANNOT randomize "
    "exposure time): per-customer spend in integer cents, cohorts by "
    "the deterministic md5(custkey) mod 2 split, periods by the "
    "date-range midpoint, and DiD = (T_post - T_pre) - (C_post - "
    "C_pre) over the four cell means. Cell sums are exact bigint "
    "cents (linear only — no squares, so no unit shrinking needed); "
    "the four means and the estimator are one fixed-order double "
    "expression. One customer-keyed agg onto the 4-cell domain.",
    oracle="""
        WITH bounds AS (
          SELECT CAST(min(CAST(o_orderdate AS DATE)) AS DATE) AS mn,
                 CAST(date_diff('day',
                      CAST(min(CAST(o_orderdate AS DATE)) AS DATE),
                      CAST(max(CAST(o_orderdate AS DATE)) AS DATE))
                   AS BIGINT) AS span
          FROM orders
        ), cell AS (
          SELECT CAST('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR)),
                                     1, 8) AS BIGINT) % 2 AS grp,
                 CASE WHEN CAST(date_diff('day', b.mn,
                            CAST(o.o_orderdate AS DATE)) AS BIGINT)
                      < b.span // 2 THEN 0 ELSE 1 END AS period,
                 o.o_custkey,
                 CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders o CROSS JOIN bounds b
          GROUP BY 1, 2, 3
        ), cells AS (
          SELECT grp, period,
                 CAST(count(*) AS BIGINT) AS n_cust,
                 CAST(SUM(cents) AS BIGINT) AS s_cents
          FROM cell GROUP BY 1, 2
        ), wide AS (
          SELECT
            MAX(CASE WHEN grp = 1 AND period = 1
                     THEN CAST(s_cents AS DOUBLE) / CAST(n_cust AS DOUBLE)
                END) AS t_post,
            MAX(CASE WHEN grp = 1 AND period = 0
                     THEN CAST(s_cents AS DOUBLE) / CAST(n_cust AS DOUBLE)
                END) AS t_pre,
            MAX(CASE WHEN grp = 0 AND period = 1
                     THEN CAST(s_cents AS DOUBLE) / CAST(n_cust AS DOUBLE)
                END) AS c_post,
            MAX(CASE WHEN grp = 0 AND period = 0
                     THEN CAST(s_cents AS DOUBLE) / CAST(n_cust AS DOUBLE)
                END) AS c_pre
          FROM cells
        )
        SELECT t_pre / 100.0 AS t_pre_mean,
               t_post / 100.0 AS t_post_mean,
               c_pre / 100.0 AS c_pre_mean,
               c_post / 100.0 AS c_post_mean,
               ((t_post - t_pre) - (c_post - c_pre)) / 100.0
                   AS did_estimate
        FROM wide
    """,
)
def did_spend_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.col("o_orderdate").cast("date").alias("od")
    )
    bounds = orders.agg(
        F.min("od").alias("mn"),
        F.datediff(F.max("od"), F.min("od")).cast("bigint").alias("span"),
    )
    cell = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.expr(
                "CAST(conv(substr(md5(CAST(o_custkey AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("grp"),
            F.when(
                F.datediff(F.col("od"), F.col("mn")).cast("bigint")
                < F.expr("span div 2"),
                F.lit(0),
            )
            .otherwise(F.lit(1))
            .alias("period"),
            "o_custkey",
        )
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    cells = cell.groupBy("grp", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("cents").cast("bigint").alias("s_cents"),
    )
    mean = "CAST(s_cents AS DOUBLE) / CAST(n_cust AS DOUBLE)"
    wide = cells.agg(
        F.max(F.expr(f"CASE WHEN grp = 1 AND period = 1 THEN {mean} END")).alias(
            "t_post"
        ),
        F.max(F.expr(f"CASE WHEN grp = 1 AND period = 0 THEN {mean} END")).alias(
            "t_pre"
        ),
        F.max(F.expr(f"CASE WHEN grp = 0 AND period = 1 THEN {mean} END")).alias(
            "c_post"
        ),
        F.max(F.expr(f"CASE WHEN grp = 0 AND period = 0 THEN {mean} END")).alias(
            "c_pre"
        ),
    )
    return wide.select(
        (F.col("t_pre") / 100.0).alias("t_pre_mean"),
        (F.col("t_post") / 100.0).alias("t_post_mean"),
        (F.col("c_pre") / 100.0).alias("c_pre_mean"),
        (F.col("c_post") / 100.0).alias("c_post_mean"),
        (
            ((F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")))
            / 100.0
        ).alias("did_estimate"),
    )


@register(
    name="uplift_qini_deciles",
    survey="A7 J5 W3 F28",
    doc="Uplift (Qini) decile curve — the targeting readout on top of "
    "the experimentation trio: customers are ranked by the pre-period "
    "spend score, cut into deciles by BANDED ranks (cumulative counts "
    "over the bounded hundred-dollar score domain, broadcast back — "
    "no per-row global sort; equal scores share a decile by "
    "construction, documented), and each decile reports treated vs "
    "control post-period means, their difference (the uplift), and "
    "the cumulative Qini-style gain. All sums are exact bigint cents "
    "/ integer counts; means and gains are fixed-order double "
    "expressions. The cumulative window runs on the 10-row decile "
    "domain.",
    oracle="""
        WITH bounds AS (
          SELECT CAST(min(CAST(o_orderdate AS DATE)) AS DATE) AS mn,
                 CAST(date_diff('day',
                      CAST(min(CAST(o_orderdate AS DATE)) AS DATE),
                      CAST(max(CAST(o_orderdate AS DATE)) AS DATE))
                   AS BIGINT) AS span
          FROM orders
        ), cust AS (
          SELECT o.o_custkey,
                 CAST('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR)),
                                     1, 8) AS BIGINT) % 2 AS grp,
                 SUM(CASE WHEN CAST(date_diff('day', b.mn,
                            CAST(o.o_orderdate AS DATE)) AS BIGINT)
                          < b.span // 2
                          THEN CAST(ROUND(o.o_totalprice * 100)
                               AS BIGINT) ELSE 0 END) // 10000 AS x,
                 SUM(CASE WHEN CAST(date_diff('day', b.mn,
                            CAST(o.o_orderdate AS DATE)) AS BIGINT)
                          >= b.span // 2
                          THEN CAST(ROUND(o.o_totalprice * 100)
                               AS BIGINT) ELSE 0 END) AS y_cents
          FROM orders o CROSS JOIN bounds b
          GROUP BY 1, 2
        ), xcnt AS (
          SELECT x, CAST(count(*) AS BIGINT) AS c FROM cust GROUP BY x
        ), xcum AS (
          SELECT x,
                 SUM(c) OVER (ORDER BY x DESC ROWS UNBOUNDED PRECEDING)
                   - c AS n_above
          FROM xcnt
        ), ntot AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM cust
        ), dec AS (
          SELECT cu.grp, cu.y_cents,
                 (xc.n_above * 10) // t.n AS decile
          FROM cust cu
          JOIN xcum xc ON xc.x = cu.x
          CROSS JOIN ntot t
        ), cells AS (
          SELECT decile,
                 CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_t,
                 CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_c,
                 CAST(SUM(CASE WHEN grp = 1 THEN y_cents ELSE 0 END)
                      AS BIGINT) AS y_t,
                 CAST(SUM(CASE WHEN grp = 0 THEN y_cents ELSE 0 END)
                      AS BIGINT) AS y_c
          FROM dec GROUP BY decile
        )
        SELECT CAST(decile AS BIGINT) AS decile, n_t, n_c,
               (CAST(y_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / 100.0
                   AS uplift_dollars,
               (CAST(SUM(y_t) OVER w AS DOUBLE)
                  / CAST(SUM(n_t) OVER w AS DOUBLE)
                - CAST(SUM(y_c) OVER w AS DOUBLE)
                  / CAST(SUM(n_c) OVER w AS DOUBLE)) / 100.0
                   AS qini_cum_dollars
        FROM cells
        WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        ORDER BY decile
    """,
)
def uplift_qini_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.col("o_orderdate").cast("date").alias("od")
    )
    bounds = orders.agg(
        F.min("od").alias("mn"),
        F.datediff(F.max("od"), F.min("od")).cast("bigint").alias("span"),
    )
    cents = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    in_h1 = "CAST(datediff(od, mn) AS BIGINT) < span div 2"
    cust = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            "o_custkey",
            F.expr(
                "CAST(conv(substr(md5(CAST(o_custkey AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("grp"),
        )
        .agg(
            F.expr(
                f"SUM(CASE WHEN {in_h1} THEN {cents} ELSE 0 END) div 10000"
            ).alias("x"),
            F.expr(
                f"SUM(CASE WHEN NOT ({in_h1}) THEN {cents} ELSE 0 END)"
            ).alias("y_cents"),
        )
    )
    xcnt = cust.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    xcum = xcnt.withColumn(
        "n_above",
        F.sum("c").over(
            Window.orderBy(F.col("x").desc()).rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        - F.col("c"),
    ).select("x", "n_above")
    ntot = cust.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dec = (
        cust.join(F.broadcast(xcum), "x")
        .crossJoin(F.broadcast(ntot))
        .select("grp", "y_cents", F.expr("(n_above * 10) div n").alias("decile"))
    )
    cells = dec.groupBy("decile").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("n_t"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint").alias("n_c"),
        F.sum(F.when(F.col("grp") == 1, F.col("y_cents")).otherwise(0))
        .cast("bigint")
        .alias("y_t"),
        F.sum(F.when(F.col("grp") == 0, F.col("y_cents")).otherwise(0))
        .cast("bigint")
        .alias("y_c"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return cells.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_t",
        "n_c",
        (
            (
                F.col("y_t").cast("double") / F.col("n_t").cast("double")
                - F.col("y_c").cast("double") / F.col("n_c").cast("double")
            )
            / 100.0
        ).alias("uplift_dollars"),
        (
            (
                F.sum("y_t").over(wcum).cast("double")
                / F.sum("n_t").over(wcum).cast("double")
                - F.sum("y_c").over(wcum).cast("double")
                / F.sum("n_c").over(wcum).cast("double")
            )
            / 100.0
        ).alias("qini_cum_dollars"),
    ).orderBy("decile")


@register(
    name="correlation_matrix_lineitem",
    survey="A7 U1 F28",
    doc="Full Pearson correlation matrix of lineitem's four numeric "
    "columns (quantity, extended price, discount, tax) in ONE scan — "
    "the multi-pair generalization of lineitem_stats_corr: each "
    "column is quantized to integer units sized so every moment sum "
    "stays inside bigint (quantity/discount/tax in hundredths, price "
    "in whole dollars — the structural input-shrinking rule from "
    "functions/exact.py; sxx(price) ~7e15 < 2^63), the six pairs "
    "ride a stack() unpivot collapsed by map-side partial agg onto "
    "the 6-row pair domain, and each r is one fixed-order double "
    "expression over exact integer moments (sqrt is IEEE-exact). "
    "Quantization makes this a correlation of the BANDED variables — "
    "documented, deterministic, and within 1e-4 of the raw r at "
    "these magnitudes.",
    oracle="""
        WITH u AS (
          SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty,
                 CAST(ROUND(l_extendedprice) AS BIGINT) AS price,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS disc,
                 CAST(ROUND(l_tax * 100) AS BIGINT) AS tax
          FROM lineitem
        ), pairs AS (
          SELECT 'qty_price' AS pair, qty AS x, price AS y FROM u
          UNION ALL SELECT 'qty_disc', qty, disc FROM u
          UNION ALL SELECT 'qty_tax', qty, tax FROM u
          UNION ALL SELECT 'price_disc', price, disc FROM u
          UNION ALL SELECT 'price_tax', price, tax FROM u
          UNION ALL SELECT 'disc_tax', disc, tax FROM u
        ), m AS (
          SELECT pair,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM pairs GROUP BY pair
        )
        SELECT pair, n,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   AS pearson_r
        FROM m
        ORDER BY pair
    """,
)
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty",
        "CAST(ROUND(l_extendedprice) AS BIGINT) AS price",
        "CAST(ROUND(l_discount * 100) AS BIGINT) AS disc",
        "CAST(ROUND(l_tax * 100) AS BIGINT) AS tax",
    )
    pairs = u.selectExpr(
        "stack(6,"
        " 'qty_price', qty, price,"
        " 'qty_disc', qty, disc,"
        " 'qty_tax', qty, tax,"
        " 'price_disc', price, disc,"
        " 'price_tax', price, tax,"
        " 'disc_tax', disc, tax"
        ") AS (pair, x, y)"
    )
    m = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return m.select(
        "pair",
        "n",
        F.expr(
            "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
        ).alias("pearson_r"),
    ).orderBy("pair")


@register(
    name="cramers_v_matrix",
    survey="A7 U1 J6 F28",
    doc="Cramer's V association matrix between categorical column "
    "pairs — the categorical twin of correlation_matrix_lineitem, "
    "over (orderpriority x orderstatus), (returnflag x linestatus), "
    "and (returnflag x shipmonth): chi-square from contingency "
    "counts with the expected-count division integer-micro quantized "
    "per cell ((o*n - row*col/n ... done as (o*n - row*col) "
    "cross-multiplication squared over row*col*n, each term "
    "(num*num*1e6) div den in bigint-safe order), then V = "
    "sqrt(chi2 / (n * min(r-1, c-1))). Every pair's work collapses "
    "onto its bounded contingency domain via map-side partial agg; "
    "sqrt is IEEE-exact so V is bit-identical. Term budget (r08, found "
    "by the k=5 full-registry stress sweep): diff = o*n - ra*cb is "
    "~1e9 at sf0.1 but scales with data SQUARED once squared — bigint "
    "overflowed at 5x — so the whole term chain runs in 128-bit "
    "integers (Spark DECIMAL(38,0) with floor-division, DuckDB "
    "HUGEINT with //; identical truncation order, values bit-equal to "
    "the old bigint chain wherever it didn't overflow). diff^2 <= "
    "~5e28 at k=5 sf0.1 and <= 1e38 up to n ~ 1e9 rows per pair.",
    oracle="""
        WITH pairs AS (
          SELECT 'priority_x_status' AS pair,
                 o_orderpriority AS a, o_orderstatus AS b FROM orders
          UNION ALL
          SELECT 'returnflag_x_linestatus', l_returnflag, l_linestatus
          FROM lineitem
          UNION ALL
          SELECT 'returnflag_x_shipmonth', l_returnflag,
                 CAST(CAST(month(l_shipdate) AS BIGINT) AS VARCHAR)
          FROM lineitem
        ), cell AS (
          SELECT pair, a, b, CAST(count(*) AS BIGINT) AS o
          FROM pairs GROUP BY 1, 2, 3
        ), rows_ AS (
          SELECT pair, a, CAST(SUM(o) AS BIGINT) AS ra
          FROM cell GROUP BY 1, 2
        ), cols_ AS (
          SELECT pair, b, CAST(SUM(o) AS BIGINT) AS cb
          FROM cell GROUP BY 1, 2
        ), tot AS (
          SELECT pair, CAST(SUM(o) AS BIGINT) AS n,
                 CAST(count(DISTINCT a) AS BIGINT) AS r,
                 CAST(count(DISTINCT b) AS BIGINT) AS c
          FROM cell GROUP BY pair
        ), terms AS (
          SELECT c.pair,
                 CAST(((((CAST(c.o AS HUGEINT) * t.n
                          - CAST(r.ra AS HUGEINT) * co.cb)
                    * (CAST(c.o AS HUGEINT) * t.n
                       - CAST(r.ra AS HUGEINT) * co.cb))
                   // (CAST(r.ra AS HUGEINT) * co.cb)) * 1000000) // t.n
                      AS BIGINT) AS term_micro
          FROM cell c
          JOIN rows_ r ON r.pair = c.pair AND r.a = c.a
          JOIN cols_ co ON co.pair = c.pair AND co.b = c.b
          JOIN tot t ON t.pair = c.pair
        )
        SELECT tm.pair, t.n, t.r, t.c,
               CAST(SUM(tm.term_micro) AS DOUBLE) / 1000000.0
                 / CAST(t.n AS DOUBLE) AS chi2_over_n,
               sqrt(CAST(SUM(tm.term_micro) AS DOUBLE) / 1000000.0
                    / CAST(t.n AS DOUBLE)
                    / CAST(least(t.r - 1, t.c - 1) AS DOUBLE))
                   AS cramers_v
        FROM terms tm JOIN tot t ON t.pair = tm.pair
        GROUP BY tm.pair, t.n, t.r, t.c
        ORDER BY tm.pair
    """,
)
def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").selectExpr(
        "'priority_x_status' AS pair",
        "o_orderpriority AS a",
        "o_orderstatus AS b",
    )
    li = load(spark, sf_dir, "lineitem")
    p2 = li.selectExpr(
        "'returnflag_x_linestatus' AS pair",
        "l_returnflag AS a",
        "l_linestatus AS b",
    )
    p3 = li.selectExpr(
        "'returnflag_x_shipmonth' AS pair",
        "l_returnflag AS a",
        "CAST(CAST(month(l_shipdate) AS BIGINT) AS STRING) AS b",
    )
    cell = (
        orders.unionByName(p2)
        .unionByName(p3)
        .groupBy("pair", "a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    rows_ = cell.groupBy("pair", "a").agg(F.sum("o").cast("bigint").alias("ra"))
    cols_ = cell.groupBy("pair", "b").agg(F.sum("o").cast("bigint").alias("cb"))
    tot = cell.groupBy("pair").agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("a").cast("bigint").alias("r"),
        F.countDistinct("b").cast("bigint").alias("c"),
    )
    terms = (
        cell.join(rows_, ["pair", "a"])
        .join(cols_, ["pair", "b"])
        .join(F.broadcast(tot), "pair")
        .select(
            "pair",
            # 128-bit chain: Spark `div` on decimals silently casts to
            # bigint and wraps, and floor(a/b) is NOT exact either —
            # DECIMAL(38,0)/DECIMAL(38,0) is adjusted to DECIMAL(38,6)
            # with HALF_UP rounding BEFORE floor, so a true quotient
            # within 5e-7 below an integer floors one high vs DuckDB's
            # exact HUGEINT // (ADVICE r08). Exact integer floor division
            # for non-negative operands: (a - pmod(a, b)) / b — the
            # numerator is exactly divisible, so the decimal divide's
            # rounding is a no-op (quotients here stay < 1e32, within
            # DECIMAL(38,6)'s 32 integer digits).
            F.expr(
                "(CAST(o AS DECIMAL(38,0)) * n"
                " - CAST(ra AS DECIMAL(38,0)) * cb)"
            ).alias("d"),
            F.expr("CAST(ra AS DECIMAL(38,0)) * cb").alias("dn"),
            F.expr("CAST(n AS DECIMAL(38,0))").alias("n_dec"),
        )
        .select(
            "pair",
            "n_dec",
            F.expr(
                "CAST((d * d - pmod(d * d, dn)) / dn AS DECIMAL(38,0))"
                " * CAST(1000000 AS DECIMAL(38,0))"
            ).alias("t6"),
        )
        .select(
            "pair",
            F.expr(
                "CAST((t6 - pmod(t6, n_dec)) / n_dec AS BIGINT)"
            ).alias("term_micro"),
        )
    )
    return (
        terms.join(F.broadcast(tot), "pair")
        .groupBy("pair", "n", "r", "c")
        .agg(
            (
                F.sum("term_micro").cast("double")
                / 1000000.0
                / F.col("n").cast("double")
            ).alias("chi2_over_n"),
            F.expr(
                "sqrt(CAST(SUM(term_micro) AS DOUBLE) / 1000000.0"
                " / CAST(n AS DOUBLE)"
                " / CAST(least(r - 1, c - 1) AS DOUBLE))"
            ).alias("cramers_v"),
        )
        .orderBy("pair")
    )


# Zone-map simulation parameters: "row groups" of 256 orderkeys (scales
# with the fixture: 6 groups at sf0.001, ~586 at sf0.1), and four literal
# shipdate predicate bands spanning the fixture's 1995-2001 range.
_ZM_RG = 256
_ZM_BANDS = [
    (0, "1995-01-01", "1995-03-31"),
    (1, "1997-01-01", "1997-12-31"),
    (2, "1999-07-01", "1999-12-31"),
    (3, "2001-10-01", "2001-12-31"),
]


@register(
    name="zone_map_prune_report",
    survey="A7 J5 P4 E5",
    doc="Zone-map (min/max row-group statistics) pruning audit — the "
    "parquet/ORC file-skipping mechanic that decides whether a 100 TB "
    "scan reads 100 TB or 1: for each of four shipdate predicate bands, "
    "compare two physical layouts of lineitem — 'orderkey' (row groups "
    "of 256 orderkeys, the insert-order layout) vs 'shipmonth' (rows "
    "grouped by ship month, the time-partitioned layout) — reporting "
    "row groups skipped (group max < band lo or min > band hi), rows "
    "scanned, exact matching rows, and read amplification in milli. "
    "The fixture's orderkey is uncorrelated with shipdate, so the "
    "orderkey layout skips ~nothing while shipmonth scans ~only "
    "matches — the quantified argument for date-clustered layouts. "
    "Plan: one linear groupBy per layout (union), a broadcast of the "
    "4-row band table, one exact-count pass; no window, no sort.",
    oracle=f"""
        WITH rg AS (
            SELECT 'orderkey' AS layout, l_orderkey // {_ZM_RG} AS rg_id,
                   min(l_shipdate) AS lo, max(l_shipdate) AS hi,
                   count(*) AS n_rows
            FROM lineitem GROUP BY 1, 2
            UNION ALL
            SELECT 'shipmonth' AS layout,
                   (EXTRACT(year FROM l_shipdate) * 12
                    + EXTRACT(month FROM l_shipdate) - 1) AS rg_id,
                   min(l_shipdate) AS lo, max(l_shipdate) AS hi,
                   count(*) AS n_rows
            FROM lineitem GROUP BY 1, 2),
        bands AS (
            SELECT * FROM (VALUES
                {", ".join(f"({b}, TIMESTAMP '{lo} 00:00:00', TIMESTAMP '{hi} 00:00:00')" for b, lo, hi in _ZM_BANDS)}
            ) b(band_id, b_lo, b_hi)),
        exact AS (
            SELECT band_id, count(*) AS rows_matching
            FROM lineitem, bands
            WHERE l_shipdate BETWEEN b_lo AND b_hi GROUP BY band_id)
        SELECT rg.layout, CAST(b.band_id AS BIGINT) AS band_id,
               CAST(count(*) AS BIGINT) AS n_rowgroups,
               CAST(sum(CASE WHEN rg.hi < b.b_lo OR rg.lo > b.b_hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
               CAST(sum(CASE WHEN rg.hi < b.b_lo OR rg.lo > b.b_hi
                             THEN 0 ELSE rg.n_rows END) AS BIGINT)
                   AS rows_scanned,
               CAST(COALESCE(any_value(e.rows_matching), 0) AS BIGINT)
                   AS rows_matching,
               CAST(1000 * sum(CASE WHEN rg.hi < b.b_lo OR rg.lo > b.b_hi
                                    THEN 0 ELSE rg.n_rows END)
                    // GREATEST(COALESCE(any_value(e.rows_matching), 0), 1)
                    AS BIGINT) AS read_amp_milli
        FROM rg CROSS JOIN bands b LEFT JOIN exact e USING (band_id)
        GROUP BY rg.layout, b.band_id
    """,
)
def zone_map_prune_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    rg = (
        li.groupBy(
            F.lit("orderkey").alias("layout"),
            (F.col("l_orderkey") / _ZM_RG)
            .cast("bigint")
            .alias("rg_id"),
        )
        .agg(
            F.min("l_shipdate").alias("lo"),
            F.max("l_shipdate").alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .unionByName(
            li.groupBy(
                F.lit("shipmonth").alias("layout"),
                (
                    F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1
                )
                .cast("bigint")
                .alias("rg_id"),
            ).agg(
                F.min("l_shipdate").alias("lo"),
                F.max("l_shipdate").alias("hi"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
    )
    bands = local_table(
        spark, _ZM_BANDS, "band_id int, b_lo timestamp, b_hi timestamp"
    )
    exact = (
        li.join(
            F.broadcast(bands),
            F.col("l_shipdate").between(F.col("b_lo"), F.col("b_hi")),
        )
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("rows_matching"))
    )
    skipped = F.when(
        (F.col("hi") < F.col("b_lo")) | (F.col("lo") > F.col("b_hi")), 1
    ).otherwise(0)
    scanned = F.when(
        (F.col("hi") < F.col("b_lo")) | (F.col("lo") > F.col("b_hi")), 0
    ).otherwise(F.col("n_rows"))
    return (
        rg.crossJoin(F.broadcast(bands))
        .join(F.broadcast(exact), "band_id", "left")
        .groupBy("layout", F.col("band_id").cast("bigint").alias("band_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rowgroups"),
            F.sum(skipped).cast("bigint").alias("n_skipped"),
            F.sum(scanned).cast("bigint").alias("rows_scanned"),
            F.coalesce(F.first("rows_matching"), F.lit(0))
            .cast("bigint")
            .alias("rows_matching"),
            F.floor(
                1000
                * F.sum(scanned)
                / F.greatest(F.coalesce(F.first("rows_matching"), F.lit(0)), F.lit(1))
            )
            .cast("bigint")
            .alias("read_amp_milli"),
        )
    )


# Compaction-planner parameters: "files" are 64-orderkey buckets (sized
# so file count scales with the fixture), bins target 200 KB, and the
# distributed prefix sum runs over bands of 32 files. At production
# scale the band width is chosen so the band-total table stays
# thousands of rows (it is broadcast); everything else is per-band.
_CP_FILE, _CP_BAND, _CP_TARGET = 64, 32, 200_000


@register(
    name="compaction_bin_packing",
    survey="A7 W3 J5 E5",
    doc="Small-file compaction planning (the bin-assignment half of "
    "OPTIMIZE / auto-compaction): files in key order are packed into "
    "target-sized output bins by global byte offset — bin = "
    "floor(cum_bytes_before / target) — which preserves key clustering "
    "(each bin covers a contiguous file range, reported as "
    "first_file..last_file). The global prefix sum is computed the "
    "scale-correct way: an intra-band running sum (windows of <= 32 "
    "rows) plus per-band base offsets from the bounded band-total "
    "table — no unpartitioned window over the file list (topk."
    "global_rank's running sum). Per bin: file "
    "count, bytes, covered key range, fill ratio vs target.",
    oracle=f"""
        WITH files AS (
            SELECT l_orderkey // {_CP_FILE} AS file_id,
                   count(*) * 100 AS bytes
            FROM lineitem GROUP BY 1),
        banded AS (
            SELECT file_id, bytes, file_id // {_CP_BAND} AS band,
                   sum(bytes) OVER (PARTITION BY file_id // {_CP_BAND}
                                    ORDER BY file_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING)
                       AS intra_before
            FROM files),
        band_tot AS (
            SELECT file_id // {_CP_BAND} AS band, sum(bytes) AS tot
            FROM files GROUP BY 1),
        offs AS (
            SELECT b1.band, COALESCE(sum(b2.tot), 0) AS base
            FROM band_tot b1 LEFT JOIN band_tot b2 ON b2.band < b1.band
            GROUP BY b1.band),
        placed AS (
            SELECT f.file_id, f.bytes,
                   (o.base + COALESCE(f.intra_before, 0)) // {_CP_TARGET}
                       AS bin_id
            FROM banded f JOIN offs o ON f.band = o.band)
        SELECT CAST(bin_id AS BIGINT) AS bin_id,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(bytes) AS BIGINT) AS bin_bytes,
               CAST(min(file_id) AS BIGINT) AS first_file,
               CAST(max(file_id) AS BIGINT) AS last_file,
               CAST(1000 * sum(bytes) // {_CP_TARGET} AS BIGINT)
                   AS fill_permille
        FROM placed GROUP BY bin_id
    """,
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    files = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            (F.col("l_orderkey") / _CP_FILE).cast("bigint").alias("file_id")
        )
        .agg((F.count(F.lit(1)) * 100).alias("bytes"))
    )
    # Exclusive prefix sum of bytes in file order: the inclusive running
    # sum over bands of _CP_BAND files, minus the file's own bytes.
    cum = global_rank(files, ["file_id"], width=_CP_BAND, running={"cum": "bytes"})
    placed = cum.select(
        "file_id",
        "bytes",
        ((F.col("cum") - F.col("bytes")) / _CP_TARGET).cast("bigint").alias("bin_id"),
    )
    return placed.groupBy(F.col("bin_id").cast("bigint").alias("bin_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("bin_bytes"),
        F.min("file_id").cast("bigint").alias("first_file"),
        F.max("file_id").cast("bigint").alias("last_file"),
        F.floor(1000 * F.sum("bytes") / _CP_TARGET)
        .cast("bigint")
        .alias("fill_permille"),
    )
