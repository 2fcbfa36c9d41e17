"""Reshaping and statistical-moment queries: PIVOT, UNPIVOT, and
algebraic second-moment aggregates (stddev / covariance / correlation).

These widen the relational surface beyond SURVEY.md §2's row inventory
([NORTH-STAR] analytics a reference user reaches for next): pivot is
Spark's `groupBy().pivot()` (two-phase: distinct pivot values are given
explicitly, so no extra collect job), unpivot is `DataFrame.unpivot`
(Spark's melt — map-side expand, no shuffle), and the moment statistics
are built from the order-independent decimal-sum contract in
functions/exact.py so the doubles hash-match DuckDB bit-for-bit:
both engines round the same exact decimal sums, cast to double, and
then run the identical IEEE double formula — stddev/corr computed
directly by each engine's native aggregate would differ in the last
bits (different summation orders / Welford variants).

All plans are single-shuffle hash aggregations or shuffle-free
projections; nothing here degrades at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load
from uk_procurement_data_pipeline_spark.functions.exact import dec, oracle_sum
from uk_procurement_data_pipeline_spark.functions.topk import global_rank
from uk_procurement_data_pipeline_spark.queries.base import register


@register(
    name="pivot_status_by_region",
    survey="J5 A7 F9",
    doc="PIVOT: order counts per region spread across order-status "
    "columns via groupBy().pivot() with the status domain declared "
    "(F/O/P), so Spark skips the distinct-values collect job. One "
    "broadcast-dim join chain plus one hash-agg shuffle; the pivot "
    "itself is a projection over the grouped result.",
    oracle="""
        SELECT r_name,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
               COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
)
def pivot_status_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    pivoted = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        # fixed-cardinality dims broadcast; customer scales with SF -> AQE
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    # A (region, status) combo with no orders pivots to NULL; the oracle's
    # conditional COUNT yields 0 — align on 0.
    return pivoted.select(
        "r_name",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


@register(
    name="unpivot_part_metrics",
    survey="U1 F17",
    doc="UNPIVOT (melt): each part's numeric metrics (size, retail "
    "price) rotated into (metric, val) rows with DataFrame.unpivot — "
    "a map-side expand expression, zero shuffles, linear output; the "
    "oracle is the equivalent UNION ALL.",
    oracle="""
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val
        FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice"),
    )
    return part.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    )


def _moment_formulas(n: F.Column) -> dict[str, F.Column]:
    """Second-moment formulas over the five exact sums (as doubles).

    Both engines arrive here with IDENTICAL doubles (same rounded
    decimal sums), so the remaining arithmetic — products, subtraction,
    sqrt, division — is bit-identical IEEE double math in both.
    """
    nn = n.cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    var_x = nn * F.col("sxx") - sx * sx
    var_y = nn * F.col("syy") - sy * sy
    cov = nn * F.col("sxy") - sx * sy
    denom = nn * (nn - F.lit(1.0))
    return {
        "stddev_price": F.sqrt(var_y / denom),
        "covar_qty_price": cov / denom,
        "corr_qty_price": cov / (F.sqrt(var_x) * F.sqrt(var_y)),
    }


@register(
    name="lineitem_stats_corr",
    survey="A7",
    doc="Algebraic second moments per return flag: sample stddev of "
    "extended price, covariance and correlation of (quantity, price) — "
    "computed from five order-independent decimal sums (functions/"
    "exact.py) then one identical double formula in both engines, so "
    "the result hash-matches where native stddev/corr aggregates would "
    "differ in the last bits. One partial+final hash-agg shuffle. "
    "Each sum's OUTPUT rounding scale is sized so its scaled integer "
    "stays under 2^53 through the decimal->double cast (sx/sy/sxx at "
    "scale 4, sxy at 2, syy at 0): at scale 4, sum(price^2) passes "
    "2^53 even at sf0.001 and the cast double-rounds differently per "
    "engine (caught by the cross-SF sweep). Pre-dividing price instead "
    "breaks the other invariant — terms must stay exactly scale-8-"
    "representable, or Spark's shortest-repr rounding and DuckDB's "
    "binary-value rounding disagree per term.",
    oracle=f"""
        SELECT l_returnflag, n_rows,
               sqrt((n * syy - sy * sy) / (n * (n - 1.0))) AS stddev_price,
               (n * sxy - sx * sy) / (n * (n - 1.0)) AS covar_qty_price,
               (n * sxy - sx * sy)
                   / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                   AS corr_qty_price
        FROM (
          SELECT l_returnflag,
                 COUNT(*) AS n_rows,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 {oracle_sum('CAST(l_quantity AS DOUBLE)')} AS sx,
                 {oracle_sum('l_extendedprice')} AS sy,
                 {oracle_sum('CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)')} AS sxx,
                 CAST(ROUND(SUM(CAST((l_extendedprice * l_extendedprice)
                      AS DECIMAL(38,8))), 0) AS DOUBLE) AS syy,
                 CAST(ROUND(SUM(CAST((CAST(l_quantity AS DOUBLE)
                      * l_extendedprice) AS DECIMAL(38,8))), 2) AS DOUBLE)
                     AS sxy
          FROM lineitem
          GROUP BY l_returnflag
        )
    """,
)
def lineitem_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(dec(F.col("x"))), 4).cast("double").alias("sx"),
        F.round(F.sum(dec(F.col("y"))), 4).cast("double").alias("sy"),
        F.round(F.sum(dec(F.col("x") * F.col("x"))), 4).cast("double").alias("sxx"),
        F.round(F.sum(dec(F.col("y") * F.col("y"))), 0).cast("double").alias("syy"),
        F.round(F.sum(dec(F.col("x") * F.col("y"))), 2).cast("double").alias("sxy"),
    )
    m = _moment_formulas(F.col("n_rows"))
    return sums.select(
        "l_returnflag",
        "n_rows",
        m["stddev_price"].alias("stddev_price"),
        m["covar_qty_price"].alias("covar_qty_price"),
        m["corr_qty_price"].alias("corr_qty_price"),
    )


@register(
    name="order_percentile_position",
    survey="W1 W3",
    doc="percent_rank + cume_dist of each order's total price within "
    "its priority class — both are tie-stable rank ratios of BIGINTs, "
    "so the doubles match across engines by construction. One window "
    "shuffle on the partition key.",
    oracle="""
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
)
def order_percentile_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    name="spearman_price_acctbal",
    survey="W1 A7 J6 F28",
    doc="Spearman rank correlation between order price and the owning "
    "customer's account balance — computed at scale with NO global "
    "sort: both rank sides are topk.global_rank's banded rank + "
    "broadcast offsets (price bands of 1000, balance bands of 100), "
    "ties broken by o_orderkey so ranks are distinct integers (the deterministic "
    "tie policy, documented in place of average-rank tie correction), "
    "and Pearson's formula then runs over EXACT integer rank moments "
    "summed as DECIMAL(38,0) — overflow-free at any row count — cast "
    "once to double for the final ratio.",
    oracle="""
        WITH pairs AS (
          SELECT o.o_orderkey AS k, o.o_totalprice AS x, c.c_acctbal AS y
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), ranked AS (
          SELECT k,
                 ROW_NUMBER() OVER (ORDER BY x, k) AS rx,
                 ROW_NUMBER() OVER (ORDER BY y, k) AS ry
          FROM pairs
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 SUM(CAST(rx AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(ry AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(rx * ry AS DECIMAL(38,0))) AS sxy,
                 SUM(CAST(rx * rx AS DECIMAL(38,0))) AS sxx,
                 SUM(CAST(ry * ry AS DECIMAL(38,0))) AS syy
          FROM ranked)
        SELECT n,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   AS spearman_rho
        FROM m
    """,
)
def spearman_price_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    pairs = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("x"),
        F.col("c_acctbal").alias("y"),
    )

    ranked = global_rank(pairs, ["x", "k"], width=1000, rank="rx")
    ranked = global_rank(ranked, ["y", "k"], width=100, rank="ry")
    dec0 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec0(F.col("rx"))).alias("sx"),
        F.sum(dec0(F.col("ry"))).alias("sy"),
        F.sum(dec0(F.col("rx") * F.col("ry"))).alias("sxy"),
        F.sum(dec0(F.col("rx") * F.col("rx"))).alias("sxx"),
        F.sum(dec0(F.col("ry") * F.col("ry"))).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        "n",
        (
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("spearman_rho"),
    )


@register(
    name="transpose_type_band_matrix",
    survey="A7 F28 U2",
    doc="Matrix transpose as a first-class DataFrame op (Spark 4 "
    "DataFrame.transpose): the event-type x value-band count matrix "
    "(5 fixed $150 bands, capped) is built by conditional aggregation, "
    "then TRANSPOSED so bands become rows and event types become "
    "columns — the layout analysts ask for and pandas users reach for "
    ".T to get. transpose() collects the (tiny, already-aggregated) "
    "matrix to derive the output schema from the first column's "
    "values, so it is strictly a POST-AGGREGATION device: the fixed "
    "event-type domain makes the schema stable at every SF. The "
    "oracle builds the transposed table directly with per-type "
    "conditional sums over a VALUES spine of band labels.",
    oracle="""
        WITH v AS (
          SELECT event_type,
                 'b' || CAST(LEAST(CAST(ROUND(value * 100) AS BIGINT)
                                   // 15000, 4) AS VARCHAR) AS band
          FROM events
        ), spine(band_label) AS (
          VALUES ('b0'), ('b1'), ('b2'), ('b3'), ('b4')
        )
        SELECT s.band_label,
               CAST(COALESCE(SUM(CASE WHEN v.event_type = 'click'
                                      THEN 1 END), 0) AS BIGINT) AS click,
               CAST(COALESCE(SUM(CASE WHEN v.event_type = 'error'
                                      THEN 1 END), 0) AS BIGINT) AS error,
               CAST(COALESCE(SUM(CASE WHEN v.event_type = 'purchase'
                                      THEN 1 END), 0) AS BIGINT)
                   AS purchase,
               CAST(COALESCE(SUM(CASE WHEN v.event_type = 'signup'
                                      THEN 1 END), 0) AS BIGINT) AS signup,
               CAST(COALESCE(SUM(CASE WHEN v.event_type = 'view'
                                      THEN 1 END), 0) AS BIGINT) AS view
        FROM spine s LEFT JOIN v ON v.band = s.band_label
        GROUP BY s.band_label
        ORDER BY s.band_label
    """,
)
def transpose_type_band_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = [f"b{i}" for i in range(5)]
    counts = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "concat('b', LEAST(CAST(ROUND(value * 100) AS BIGINT)"
            " div 15000, 4)) AS band",
        )
        .groupBy("event_type")
        .agg(
            *[
                F.sum(
                    F.expr(f"CASE WHEN band = '{b}' THEN 1 ELSE 0 END")
                )
                .cast("bigint")
                .alias(b)
                for b in bands
            ]
        )
        .orderBy("event_type")
    )
    t = counts.transpose()
    return t.select(
        F.col("key").alias("band_label"),
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
            for c in ["click", "error", "purchase", "signup", "view"]
        ],
    ).orderBy("band_label")
