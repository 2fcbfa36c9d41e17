"""Graph propagation on DataFrames ([NORTH-STAR]: iterative algorithms
expressed as unrolled relational plans, the batch sibling of the
label-propagation connected components in queries/dedup.py).

``supplier_pagerank`` runs two unrolled PageRank iterations over the
buyer<->supplier transaction graph (orders ⋈ lineitem). Each iteration is
the canonical relational PageRank step: join ranks to the edge list on
source, send rank/out-degree along every edge, hash-aggregate by
destination. Both shuffles are keyed on node ids — uniformly distributed,
no driver-side state, no collect — so the same plan runs on a
1000-executor cluster; deeper iteration just appends more of the same
stages (or loops with per-round materialization like dedup.py's
components, which documents the lineage-growth trade).

Cross-engine determinism: rank mass flows through the exact-decimal sum
contract (functions/exact.py), so per-destination accumulation is
order-independent and each iteration's output — and therefore the whole
unrolled pipeline — is bit-identical in Spark and DuckDB. Ranks are kept
in "mass" form (node share x N, uniform init 1.0) so the scale-4
quantization of that contract retains full signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load
from uk_procurement_data_pipeline_spark.functions.exact import exact_sum, oracle_sum
from uk_procurement_data_pipeline_spark.functions.topk import top_k_per_group
from uk_procurement_data_pipeline_spark.queries.base import register

_DAMP = 0.85


@register(
    name="supplier_pagerank",
    survey="J6 A7 F1 U1",
    eager=True,  # fn materializes the edge table; time it honestly
    doc="Two unrolled PageRank iterations over the undirected buyer<->"
    "supplier graph (distinct customer-supplier pairs from orders ⋈ "
    "lineitem, both directions). Join-on-source + exact-sum-by-"
    "destination per iteration; returns the supplier nodes with final "
    "mass. Exact decimal accumulation makes the iteration "
    "deterministic across engines.",
    oracle=f"""
        WITH pairs AS (
          SELECT DISTINCT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), edges AS (
          SELECT cnode AS src, snode AS dst FROM pairs
          UNION ALL
          SELECT snode AS src, cnode AS dst FROM pairs
        ), outdeg AS (
          SELECT src, count(*) AS deg FROM edges GROUP BY src
        ), r1 AS (
          SELECT e.dst AS node,
                 0.15 + {_DAMP} * {oracle_sum("1.0 / CAST(o.deg AS DOUBLE)")}
                     AS mass
          FROM edges e JOIN outdeg o ON e.src = o.src
          GROUP BY e.dst
        ), r2 AS (
          SELECT e.dst AS node,
                 0.15 + {_DAMP}
                     * {oracle_sum("r.mass / CAST(o.deg AS DOUBLE)")} AS mass
          FROM edges e
          JOIN outdeg o ON e.src = o.src
          JOIN r1 r ON e.src = r.node
          GROUP BY e.dst
        )
        SELECT node, mass FROM r2 WHERE node LIKE 's%'
    """,
)
def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # The expensive prefix (orders ⋈ lineitem + distinct) is materialized
    # once; every downstream consumer — degree count, both iterations —
    # reads the small distinct pair set (same lineage-reuse lesson as
    # dedup.py's shingle table; without this each iteration re-runs the
    # whole prefix, and each added iteration re-runs it again).
    # r12 batch 2 (guide §2.3 narrower types): node ids stay BIGINT all the
    # way through the iteration — customer k maps to 2k, supplier k to
    # 2k+1 — instead of the 'c'/'s'-prefixed strings the output schema
    # wants. Every exchange (the pair distinct, the degree/iteration
    # shuffles) moves and hashes 8-byte longs instead of short strings;
    # the output strings are built once from the 1k-row result. Same
    # distinct pair set, same groupings, same exact-decimal sums.
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Both directions in ONE pass over pairs (inline-explode, no self-union
    # double scan).
    edges = pairs.selectExpr(
        "inline(array(struct(cnode AS src, snode AS dst),"
        " struct(snode AS src, cnode AS dst)))"
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edges is shuffled on src for BOTH the degree count and the join below;
    # AQE reuses that exchange, so the double consume costs one shuffle.
    ed = edges.join(outdeg, "src")

    # Iteration 1 from uniform mass 1.0: contribution is 1/deg.
    r1 = (
        ed.groupBy("dst")
        .agg(exact_sum(F.lit(1.0) / F.col("deg").cast("double"), "s"))
        .select(
            F.col("dst").alias("node"),
            (F.lit(0.15) + F.lit(_DAMP) * F.col("s")).alias("mass"),
        )
    )
    # Iteration 2: contribution is mass1/deg.
    r2 = (
        ed.join(r1, ed.src == r1.node)
        .groupBy("dst")
        .agg(exact_sum(F.col("mass") / F.col("deg").cast("double"), "s"))
        .select(
            F.col("dst").alias("node"),
            (F.lit(0.15) + F.lit(_DAMP) * F.col("s")).alias("mass"),
        )
    )
    return r2.where(F.col("node") % 2 == 1).select(
        F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("bigint")).alias(
            "node"
        ),
        "mass",
    )


_TRI_MOD = 16  # DOULION edge-sampling: keep edges with hash % 16 == 0 (p=1/16)


@register(
    name="triangle_count_doulion",
    survey="J6 A7 D3",
    eager=True,  # fn materializes the sampled edge table; time it honestly
    doc="Approximate triangle counting via DOULION edge sampling "
    "(Tsourakakis et al. KDD'09): build the co-supply graph (suppliers "
    "sharing an order, canonical a<b edges), keep each edge iff its "
    f"md5 hash is 0 mod {_TRI_MOD} (deterministic p=1/{_TRI_MOD} "
    "sparsification — the SAME edges survive on any engine or cluster), "
    "count triangles in the sample with the two-join wedge-close plan, "
    f"scale by {_TRI_MOD}^3. The point at 100 TB: the raw co-supply "
    "graph is near-complete (453k edges at sf0.1) and exact counting is "
    "a wedge explosion; sampling first cuts the wedge join quadratically "
    "while keeping an unbiased estimate. Canonical edge ordering means "
    "each triangle closes exactly once (a < b < c).",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey),
        e AS (
            SELECT a, b FROM pairs
            WHERE CAST('0x' || substr(md5(a || ':' || b), 1, 8) AS BIGINT)
                  % {_TRI_MOD} = 0),
        tri AS (
            SELECT count(*) AS n_tri
            FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        SELECT (SELECT count(*) FROM e) AS n_edges_sampled,
               n_tri AS n_triangles_sampled,
               n_tri * {_TRI_MOD ** 3} AS estimated_triangles
        FROM tri
    """,
)
def triangle_count_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("b"))
    e = (
        a.join(b, "k")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        # r12 (guide §2.3): the sample predicate is a pure function of
        # (a, b), so it commutes with DISTINCT — filtering FIRST keeps
        # 15/16 of the raw wedge pairs out of the dedup shuffle.
        .where(
            F.expr(
                "cast(conv(substr(md5(concat(cast(a AS string), ':',"
                " cast(b AS string))), 1, 8), 16, 10) AS bigint)"
                f" % {_TRI_MOD} = 0"
            )
        )
        .distinct()
        .localCheckpoint(eager=True)  # reused three times in the wedge plan
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, "y")
        .join(
            e3,
            (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles_sampled"))
    )
    # combine the two single-row aggregates on a literal key (equi-join of
    # 1x1 rows — broadcast, and keeps the package free of crossJoin calls)
    n_e = e.agg(F.count(F.lit(1)).alias("n_edges_sampled")).withColumn(
        "_k", F.lit(1)
    )
    tri = tri.withColumn("_k", F.lit(1))
    return n_e.join(tri, "_k").select(
        "n_edges_sampled",
        "n_triangles_sampled",
        (F.col("n_triangles_sampled") * _TRI_MOD**3).alias(
            "estimated_triangles"
        ),
    )


@register(
    name="kcore_peel_unrolled",
    survey="J6 J7 A7 U1",
    eager=True,  # fn materializes the sampled edge table; time it honestly
    doc="K-core decomposition over the DOULION-sampled co-supply graph, "
    "three peel rounds unrolled: k = ceil(average degree) derived from "
    "the sampled graph itself (scale-adaptive, exact integer "
    "(2E + V - 1) div V), each round drops nodes whose CURRENT-"
    "subgraph degree is below k and recomputes degrees on the induced "
    "subgraph. Emits each node's initial degree and the round it was "
    "peeled (0 = survived all three). Three rounds is the REGISTERED "
    "spec so the oracle stays non-recursive; production looping to the "
    "fixpoint is the connected_components convergence pattern "
    "(functions/graph.py). Each round is one degree aggregation plus "
    "one semi-join — linear shuffle per round at any graph size.",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey),
        e AS (
            SELECT a, b FROM pairs
            WHERE CAST('0x' || substr(md5(a || ':' || b), 1, 8) AS BIGINT)
                  % {_TRI_MOD} = 0),
        und AS (SELECT a AS n, b AS m FROM e UNION ALL SELECT b, a FROM e),
        d0 AS (SELECT n, count(*) AS deg FROM und GROUP BY n),
        k AS (
            SELECT ((SELECT count(*) FROM und)
                    + (SELECT count(*) FROM d0) - 1)
                       // (SELECT count(*) FROM d0) AS k
        ),
        s1 AS (SELECT n FROM d0, k WHERE deg >= k),
        u1 AS (SELECT und.n, und.m FROM und
               JOIN s1 a ON und.n = a.n JOIN s1 b ON und.m = b.n),
        d1 AS (SELECT n, count(*) AS deg FROM u1 GROUP BY n),
        s2 AS (SELECT n FROM d1, k WHERE deg >= k),
        u2 AS (SELECT u1.n, u1.m FROM u1
               JOIN s2 a ON u1.n = a.n JOIN s2 b ON u1.m = b.n),
        d2 AS (SELECT n, count(*) AS deg FROM u2 GROUP BY n),
        s3 AS (SELECT n FROM d2, k WHERE deg >= k),
        base AS (SELECT d0.n, d0.deg, k.k FROM d0 CROSS JOIN k)
        SELECT base.n AS suppkey, CAST(base.deg AS BIGINT) AS deg_initial,
               base.k AS k_threshold,
               CAST(CASE WHEN s1.n IS NULL THEN 1
                         WHEN s2.n IS NULL THEN 2
                         WHEN s3.n IS NULL THEN 3
                         ELSE 0 END AS INT) AS peeled_round
        FROM base
        LEFT JOIN s1 ON base.n = s1.n
        LEFT JOIN s2 ON base.n = s2.n
        LEFT JOIN s3 ON base.n = s3.n
    """,
)
def kcore_peel_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("b"))
    e = (
        a.join(b, "k")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        # r12 (guide §2.3): sample filter commutes with DISTINCT — filter
        # first so the dedup shuffle sees 1/16 of the raw wedge pairs.
        .where(
            F.expr(
                f"CAST(conv(substring(md5(concat(a, ':', b)), 1, 8), 16, 10)"
                f" AS BIGINT) % {_TRI_MOD} = 0"
            )
        )
        .distinct()
    )
    und = e.selectExpr("a AS n", "b AS m").unionAll(
        e.selectExpr("b AS n", "a AS m")
    )
    # The sampled edge list is reused by FOUR degree rounds below:
    # materialize once (same localCheckpoint discipline as supplier_pagerank).
    und = und.localCheckpoint(eager=True)
    d0 = und.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    counts = d0.agg(
        F.sum("deg").cast("bigint").alias("two_e"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    kdf = counts.selectExpr("(two_e + v - 1) div v AS k")

    def peel(u: DataFrame) -> DataFrame:
        """One round: survivors of the CURRENT subgraph, by current degree."""
        d = u.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
        return d.crossJoin(F.broadcast(kdf)).where(
            F.col("deg") >= F.col("k")
        ).select("n")

    s1 = peel(und)
    u1 = und.join(s1, "n").join(s1.selectExpr("n AS m"), "m")
    s2 = peel(u1)
    u2 = u1.join(s2, "n").join(s2.selectExpr("n AS m"), "m")
    s3 = peel(u2)
    return (
        d0.crossJoin(F.broadcast(kdf))
        .join(s1.selectExpr("n", "1 AS in1"), "n", "left")
        .join(s2.selectExpr("n", "1 AS in2"), "n", "left")
        .join(s3.selectExpr("n", "1 AS in3"), "n", "left")
        .select(
            F.col("n").alias("suppkey"),
            F.col("deg").cast("bigint").alias("deg_initial"),
            F.col("k").alias("k_threshold"),
            F.when(F.col("in1").isNull(), 1)
            .when(F.col("in2").isNull(), 2)
            .when(F.col("in3").isNull(), 3)
            .otherwise(0)
            .cast("int")
            .alias("peeled_round"),
        )
    )


_AA_TOPK = 50


@register(
    name="adamic_adar_link_prediction",
    survey="J6 A7 A10 F28",
    eager=True,  # fn materializes the sampled edge table; time it honestly
    doc=f"Adamic-Adar link prediction over the DOULION-sampled co-supply "
    "graph: for every NON-adjacent supplier pair with at least one "
    "common neighbor, score = sum over common neighbors b of "
    "1/ln(deg(b)), micro-quantized per neighbor so the per-pair sum "
    f"is an exact bigint; top-{_AA_TOPK} with (score, pair) tiebreak. "
    "The wedge join is the triangle-counting plan reused for "
    "prediction; existing edges are removed with one anti-join. A "
    "common neighbor has degree >= 2 by construction, so ln(deg) "
    "never divides by zero.",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey),
        e AS (
            SELECT a, b FROM pairs
            WHERE CAST('0x' || substr(md5(a || ':' || b), 1, 8) AS BIGINT)
                  % {_TRI_MOD} = 0),
        und AS (SELECT a AS n, b AS m FROM e UNION ALL SELECT b, a FROM e),
        deg AS (
            SELECT n, CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE)) + 0.5)
                           AS BIGINT) AS w_micro
            FROM (SELECT n, count(*) AS d FROM und GROUP BY n)
            WHERE d > 1),
        wedges AS (
            SELECT e1.n AS a, e1.m AS b, e2.m AS c
            FROM und e1 JOIN und e2 ON e1.m = e2.n
            WHERE e1.n < e2.m),
        open_wedges AS (
            SELECT w.a, w.b, w.c FROM wedges w
            LEFT JOIN e ON e.a = w.a AND e.b = w.c
            WHERE e.a IS NULL),
        scored AS (
            SELECT ow.a, ow.c,
                   CAST(count(*) AS BIGINT) AS n_common,
                   CAST(SUM(deg.w_micro) AS BIGINT) AS aa_micro
            FROM open_wedges ow JOIN deg ON deg.n = ow.b
            GROUP BY ow.a, ow.c)
        SELECT a AS supp_a, c AS supp_b, n_common, aa_micro
        FROM scored
        ORDER BY aa_micro DESC, a, c
        LIMIT {_AA_TOPK}
    """,
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pa = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("a"))
    pb = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("b"))
    e = (
        pa.join(pb, "k")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        # r12 (guide §2.3): sample filter commutes with DISTINCT — filter
        # first so the dedup shuffle sees 1/16 of the raw wedge pairs.
        .where(
            F.expr(
                f"CAST(conv(substring(md5(concat(a, ':', b)), 1, 8), 16, 10)"
                f" AS BIGINT) % {_TRI_MOD} = 0"
            )
        )
        .distinct()
    )
    e = e.localCheckpoint(eager=True)  # reused by und, anti-join
    und = e.selectExpr("a AS n", "b AS m").unionAll(
        e.selectExpr("b AS n", "a AS m")
    )
    # r12 (guide §2.4 remove shuffles): wedges used to come from an
    # und ⋈ und self-join (exchanges on BOTH join projections) followed by
    # a broadcast join attaching deg's 1/ln(deg) weight to every wedge
    # row. One groupBy(n) over und instead collects each center's sorted
    # distinct-neighbor list; the wedge (a < c neighbor pairs) explodes
    # map-side via posexplode + a slice of the tail (two generators, so
    # no deg^2-sized array is ever materialized in one row), and the
    # center's degree IS size(ms) — the separate degree pass and its join
    # disappear. Degree-1 centers cannot host a wedge (size(ms) > 1
    # filter), which also keeps ln(1)=0 out of the ANSI division — the
    # same guarantee the old deg-table filter gave.
    nbr = und.groupBy("n").agg(F.sort_array(F.collect_list("m")).alias("ms"))
    wed = (
        nbr.where(F.size("ms") > 1)
        .selectExpr(
            "CAST(floor(1000000.0 / ln(CAST(size(ms) AS DOUBLE)) + 0.5)"
            " AS BIGINT) AS w_micro",
            "ms",
            "posexplode(ms) AS (pos, a)",
        )
        .selectExpr(
            "w_micro",
            "a",
            "explode(slice(ms, pos + 2, size(ms))) AS c",
        )
    )
    open_wedges = wed.join(
        e.selectExpr("a", "b AS c"), ["a", "c"], "left_anti"
    )
    scored = (
        open_wedges.groupBy("a", "c")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("w_micro").cast("bigint").alias("aa_micro"),
        )
    )
    return (
        scored.select(
            F.col("a").alias("supp_a"),
            F.col("c").alias("supp_b"),
            "n_common",
            "aa_micro",
        )
        .orderBy(F.desc("aa_micro"), "supp_a", "supp_b")
        .limit(_AA_TOPK)
    )


@register(
    name="clustering_coefficient_local",
    survey="J6 A7 F28",
    eager=True,  # fn materializes the sampled edge table; time it honestly
    doc="Local clustering coefficient per supplier on the DOULION-"
    "sampled co-supply graph: canonical triangles from the two-join "
    "wedge-close plan (each triangle a<b<c closes once), credited to "
    "all three corners via one explode, cc = 2*tri / (deg*(deg-1)) as "
    "a single integer-ratio double. Degree-1 nodes are reported with "
    "cc = 0 (no wedge exists). Same linear-shuffle posture as "
    "triangle_count_doulion — the sampled graph bounds the wedge "
    "explosion.",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_suppkey < b.l_suppkey),
        e AS (
            SELECT a, b FROM pairs
            WHERE CAST('0x' || substr(md5(a || ':' || b), 1, 8) AS BIGINT)
                  % {_TRI_MOD} = 0),
        und AS (SELECT a AS n, b AS m FROM e UNION ALL SELECT b, a FROM e),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY n),
        tri AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        corner AS (
            SELECT x.n, count(*) AS n_tri
            FROM (SELECT a AS n FROM tri
                  UNION ALL SELECT b FROM tri
                  UNION ALL SELECT c FROM tri) x
            GROUP BY x.n)
        SELECT deg.n AS suppkey, deg.d AS degree,
               CAST(COALESCE(corner.n_tri, 0) AS BIGINT) AS n_triangles,
               CASE WHEN deg.d > 1 THEN
                 2.0 * CAST(COALESCE(corner.n_tri, 0) AS DOUBLE)
                 / (CAST(deg.d AS DOUBLE) * CAST(deg.d - 1 AS DOUBLE))
               ELSE 0.0 END AS clustering_coeff
        FROM deg LEFT JOIN corner ON deg.n = corner.n
    """,
)
def clustering_coefficient_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pa = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("a"))
    pb = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("b"))
    e = (
        pa.join(pb, "k")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        # r12 (guide §2.3): sample filter commutes with DISTINCT — filter
        # first so the dedup shuffle sees 1/16 of the raw wedge pairs.
        .where(
            F.expr(
                f"CAST(conv(substring(md5(concat(a, ':', b)), 1, 8), 16, 10)"
                f" AS BIGINT) % {_TRI_MOD} = 0"
            )
        )
        .distinct()
    )
    e = e.localCheckpoint(eager=True)  # reused by deg and three joins
    und = e.selectExpr("a AS n", "b AS m").unionAll(
        e.selectExpr("b AS n", "a AS m")
    )
    deg = und.groupBy("n").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    e1 = e.selectExpr("a", "b")
    e2 = e.selectExpr("a AS b", "b AS c")
    e3 = e.selectExpr("a AS ta", "b AS tc")
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("ta") == F.col("a")) & (F.col("tc") == F.col("c")),
        )
        .select("a", "b", "c")
    )
    corner = (
        tri.selectExpr("a AS n")
        .unionAll(tri.selectExpr("b AS n"))
        .unionAll(tri.selectExpr("c AS n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(corner, "n", "left")
        .select(
            F.col("n").alias("suppkey"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.when(
                F.col("d") > 1,
                F.lit(2.0)
                * F.coalesce(F.col("n_tri"), F.lit(0)).cast("double")
                / (
                    F.col("d").cast("double")
                    * (F.col("d") - 1).cast("double")
                ),
            )
            .otherwise(0.0)
            .alias("clustering_coeff"),
        )
    )


@register(
    name="degree_assortativity",
    survey="J6 A7 F28",
    doc="Degree assortativity of the part co-purchase graph (Newman's "
    "r: the Pearson correlation of endpoint degrees over edges - "
    "positive when hubs buy with hubs, the one-number summary of "
    "hub mixing that decides whether degree-based partitioning will "
    "skew): distinct within-order part pairs as edges, distinct-"
    "neighbor degrees, both edge directions included (the standard "
    "symmetrization), and the correlation from EXACT integer "
    "moments in one fixed-order double expression. Edge building is "
    "the basket pair explosion (bounded by order size); everything "
    "after is degree-keyed equi-joins.",
    oracle="""
        WITH op AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
            SELECT DISTINCT a.p AS pa, b.p AS pb
            FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        deg AS (
            SELECT p, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT pa AS p FROM e UNION ALL SELECT pb AS p FROM e)
            GROUP BY p),
        both_dirs AS (
            SELECT da.d AS dx, db.d AS dy
            FROM e JOIN deg da ON e.pa = da.p JOIN deg db ON e.pb = db.p
            UNION ALL
            SELECT db.d AS dx, da.d AS dy
            FROM e JOIN deg da ON e.pa = da.p JOIN deg db ON e.pb = db.p),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(SUM(dx) AS BIGINT) AS sx,
                   CAST(SUM(dy) AS BIGINT) AS sy,
                   CAST(SUM(dx * dy) AS BIGINT) AS sxy,
                   CAST(SUM(dx * dx) AS BIGINT) AS sxx,
                   CAST(SUM(dy * dy) AS BIGINT) AS syy
            FROM both_dirs)
        SELECT k AS n_edge_ends,
               (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   AS assortativity
        FROM m
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .distinct()
    )
    deg = (
        e.select(F.col("pa").alias("p"))
        .unionAll(e.select(F.col("pb").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.selectExpr("p AS pa", "d AS dxa")
    db = deg.selectExpr("p AS pb", "d AS dyb")
    joined = e.join(da, "pa").join(db, "pb")
    both = joined.selectExpr("dxa AS dx", "dyb AS dy").unionAll(
        joined.selectExpr("dyb AS dx", "dxa AS dy")
    )
    m = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
    )
    k = F.col("k").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        F.col("k").alias("n_edge_ends"),
        (
            (k * sxy - sx * sy)
            / F.sqrt((k * sxx - sx * sx) * (k * syy - sy * sy))
        ).alias("assortativity"),
    )


@register(
    name="label_propagation_communities",
    survey="J6 A7 W1 U1",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="Community detection by synchronous label propagation "
    "(Raghavan et al. 2007) on the part co-purchase graph: two "
    "unrolled sync rounds where each node adopts its neighbors' "
    "plurality label with a (count DESC, label ASC) total tiebreak — "
    "fully deterministic, unlike async LPA whose result depends on "
    "visit order. Complements connected_components (which finds "
    "reachability classes; LPA finds DENSE cores inside them) and "
    "minhash_components. Each round is one edge-keyed equi-join + one "
    "(node, label) hash agg + one row_number argmax; edges are the "
    "bounded basket pair explosion. Output is the community-size "
    "head (top-20 by size with label tiebreak), a bounded domain. "
    "The 2-round unroll references each round's label table exactly "
    "once (the CTE-inlining contract for iterative oracles).",
    oracle="""
        WITH op AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
            SELECT DISTINCT a.p AS src, b.p AS dst
            FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p),
        l1 AS (
            SELECT src AS v, lab FROM (
              SELECT e.src, e.dst AS lab,
                     row_number() OVER (
                       PARTITION BY e.src
                       ORDER BY count(*) DESC, e.dst) AS rn
              FROM e GROUP BY e.src, e.dst) t
            WHERE rn = 1),
        votes2 AS (
            SELECT e.src AS v, l.lab, CAST(count(*) AS BIGINT) AS cnt
            FROM e JOIN l1 l ON e.dst = l.v
            GROUP BY e.src, l.lab),
        l2 AS (
            SELECT v, lab FROM (
              SELECT v, lab,
                     row_number() OVER (PARTITION BY v
                                        ORDER BY cnt DESC, lab) AS rn
              FROM votes2) t
            WHERE rn = 1)
        SELECT lab AS community, CAST(count(*) AS BIGINT) AS size
        FROM l2
        GROUP BY lab
        ORDER BY size DESC, community
        LIMIT 20
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = op.alias("a")
    b = op.alias("b")
    # r12 batch 5 (guide §2.3): the co-purchase edge set is symmetric by
    # construction, so build and DEDUP only the canonical a.p < b.p half
    # (half the distinct-exchange bytes, half the checkpointed rows) and
    # reconstruct both directions map-side with one inline() at each
    # consumer. e still feeds round 1 AND round 2 from one materialized
    # build (the supplier_pagerank/hits localCheckpoint discipline; the
    # spec is eager so the build is inside the timed region).
    # Interleaved A/B best-of-3 at sf0.1: 4.06 -> 2.69 s end-to-end.
    ec = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = ec.selectExpr(
        "inline(array(struct(x AS src, y AS dst), struct(y AS src, x AS dst)))"
    )
    # Round 1: every node starts labeled with itself, so the neighbor
    # plurality vote is just the most frequent neighbor id. r12
    # optimization (guide §2.4): e is DISTINCT, so the old per-(src,dst)
    # count was always 1 and the (count DESC, dst ASC) row_number argmax
    # collapses to plain min(dst) — one hash aggregate, no window
    # shuffle+sort.
    l1 = e.groupBy("src").agg(F.min("dst").alias("lab")).selectExpr(
        "src AS v", "lab"
    )
    votes2 = (
        e.join(l1, e.dst == l1.v)
        .groupBy(F.col("src").alias("v2"), "lab")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    l2 = top_k_per_group(votes2, ["v2"], ["cnt DESC", "lab"], 1).selectExpr(
        "v2 AS v", "lab"
    )
    return (
        l2.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("size"))
        .orderBy(F.col("size").desc(), "community")
        .limit(20)
    )


@register(
    name="hits_hubs_authorities",
    survey="J6 A7 O4 W1",
    eager=True,  # fn materializes the edge table; time it honestly
    doc="HITS (hubs & authorities), two unrolled iterations over the "
    "supplier->part bipartite posting graph (DISTINCT (s_suppkey, "
    "l_partkey) pairs from lineitem): a1(p) = sum of supplier degrees "
    "over p's suppliers, h2(s) = sum of a1 over s's parts, a2(p) = sum "
    "of h2 over p's suppliers. With a fixed iteration count the "
    "mutual-reinforcement recurrence stays ENTIRELY in BIGINT — no "
    "normalization, no floats, no cross-engine drift (the usual L2 "
    "normalization only matters for convergence-to-fixpoint, not for "
    "the induced ranking). Each step is one equi-join + keyed "
    "aggregation on the shuffled-once edge list — the same linear "
    "shape as supplier_pagerank, but bipartite and exactly integer. "
    "Top-10 authorities with full (score desc, key) tiebreak.",
    oracle="""
        WITH edges AS (
          SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
        ), deg AS (
          SELECT s, CAST(COUNT(*) AS BIGINT) AS h1 FROM edges GROUP BY s
        ), a1 AS (
          SELECT e.p, CAST(SUM(d.h1) AS BIGINT) AS a1
          FROM edges e JOIN deg d ON d.s = e.s GROUP BY e.p
        ), h2 AS (
          SELECT e.s, CAST(SUM(a.a1) AS BIGINT) AS h2
          FROM edges e JOIN a1 a ON a.p = e.p GROUP BY e.s
        ), a2 AS (
          SELECT e.p, CAST(SUM(h.h2) AS BIGINT) AS a2
          FROM edges e JOIN h2 h ON h.s = e.s GROUP BY e.p
        )
        SELECT p AS l_partkey, a2 AS authority_score
        FROM a2 ORDER BY a2 DESC, p LIMIT 10
    """,
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)  # scanned-once edge list, reused 3x
    )
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("h1"))
    a1 = (
        edges.join(deg, "s")
        .groupBy("p")
        .agg(F.sum("h1").cast("bigint").alias("a1"))
    )
    h2 = (
        edges.join(a1, "p")
        .groupBy("s")
        .agg(F.sum("a1").cast("bigint").alias("h2"))
    )
    a2 = (
        edges.join(h2, "s")
        .groupBy("p")
        .agg(F.sum("h2").cast("bigint").alias("a2"))
    )
    return (
        a2.select(
            F.col("p").alias("l_partkey"), F.col("a2").alias("authority_score")
        )
        .orderBy(F.col("authority_score").desc(), "l_partkey")
        .limit(10)
    )


@register(
    name="modularity_communities",
    survey="J6 A7 W1 A10",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="Newman modularity readout of the label-propagation partition — "
    "the quality score that turns label_propagation_communities from "
    "'a partition' into 'a measured partition' (Newman & Girvan 2004; "
    "the objective Louvain greedily climbs). The 2-round deterministic "
    "LPA labels are recomputed (same plurality/tiebreak contract), "
    "then Q = sum_c [ in_c/(2m) - (d_c/(2m))^2 ] is evaluated "
    "ENTIRELY in scaled integers: over the symmetric directed edge "
    "list (2m = directed edge count, in_c = directed within-community "
    "edges, d_c = community degree sum), Q*(2m)^2 = "
    "sum_c (2m*in_c - d_c^2) is exact BIGINT per community; the only "
    "float is the one final micro-floored division. Emits the top-20 "
    "communities (size tiebreak contract shared with the LPA entry) "
    "with their exact in_edges/degree_sum/scaled contribution plus "
    "the global q_micro as a constant column. At 100 TB: two label "
    "joins onto the edge list (shuffle on node id), bounded output.",
    oracle="""
        WITH op AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
            SELECT DISTINCT a.p AS src, b.p AS dst
            FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p),
        l1 AS (
            SELECT src AS v, lab FROM (
              SELECT e.src, e.dst AS lab,
                     row_number() OVER (
                       PARTITION BY e.src
                       ORDER BY count(*) DESC, e.dst) AS rn
              FROM e GROUP BY e.src, e.dst) t
            WHERE rn = 1),
        votes2 AS (
            SELECT e.src AS v, l.lab, CAST(count(*) AS BIGINT) AS cnt
            FROM e JOIN l1 l ON e.dst = l.v
            GROUP BY e.src, l.lab),
        l2 AS (
            SELECT v, lab FROM (
              SELECT v, lab,
                     row_number() OVER (PARTITION BY v
                                        ORDER BY cnt DESC, lab) AS rn
              FROM votes2) t
            WHERE rn = 1),
        twom AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM e),
        deg AS (
            SELECT src AS v, CAST(count(*) AS BIGINT) AS d FROM e
            GROUP BY src),
        cdeg AS (
            SELECT l.lab AS community,
                   CAST(count(*) AS BIGINT) AS size,
                   CAST(SUM(deg.d) AS BIGINT) AS degree_sum
            FROM l2 l JOIN deg ON deg.v = l.v
            GROUP BY l.lab),
        cin AS (
            SELECT ls.lab AS community, CAST(count(*) AS BIGINT) AS in_edges
            FROM e
            JOIN l2 ls ON ls.v = e.src
            JOIN l2 ld ON ld.v = e.dst AND ld.lab = ls.lab
            GROUP BY ls.lab),
        contrib AS (
            SELECT c.community, c.size, COALESCE(i.in_edges, 0) AS in_edges,
                   c.degree_sum,
                   CAST(t.two_m * COALESCE(i.in_edges, 0)
                        - c.degree_sum * c.degree_sum AS BIGINT)
                       AS contrib_scaled,
                   t.two_m
            FROM cdeg c LEFT JOIN cin i ON i.community = c.community
            CROSS JOIN twom t),
        globalq AS (
            SELECT CAST(floor(CAST(SUM(contrib_scaled) AS DOUBLE)
                              / CAST(MAX(two_m) AS DOUBLE)
                              / CAST(MAX(two_m) AS DOUBLE)
                              * 1000000 + 0.5) AS BIGINT) AS q_micro
            FROM contrib)
        SELECT community, size, in_edges, degree_sum, contrib_scaled,
               g.q_micro
        FROM contrib CROSS JOIN globalq g
        ORDER BY size DESC, community
        LIMIT 20
    """,
)
def modularity_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = op.alias("a")
    b = op.alias("b")
    # r12 batch 5 (guide §2.3, shared with label_propagation_communities):
    # dedup only the canonical a.p < b.p half and inline-mirror at the
    # consumers — 4 consumers below (two label joins, 2m count, degrees)
    # read half the checkpointed bytes each. Interleaved A/B best-of-3 at
    # sf0.1: 4.20 -> 4.05 s end-to-end (the stats joins dominate here, but
    # the build is strictly smaller and the shape matches the LPA sibling).
    ec = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = ec.selectExpr(
        "inline(array(struct(x AS src, y AS dst), struct(y AS src, x AS dst)))"
    )
    # r12 optimization (guide §2.4, shared with label_propagation_
    # communities): e is DISTINCT so round-1 plurality = min(dst) — one
    # hash agg, no window.
    l1 = e.groupBy("src").agg(F.min("dst").alias("lab")).selectExpr(
        "src AS v", "lab"
    )
    votes2 = (
        e.join(l1, e.dst == l1.v)
        .groupBy(F.col("src").alias("v2"), "lab")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    l2 = (
        top_k_per_group(votes2, ["v2"], ["cnt DESC", "lab"], 1)
        .selectExpr("v2 AS v", "lab")
        .localCheckpoint(eager=True)  # labels feed 3 joins
    )
    twom = e.agg(F.count(F.lit(1)).cast("bigint").alias("two_m"))
    # r12 optimization (guide §2.3 aggregate before you shuffle): the old
    # plan ran TWO edge-scale label-join passes — cdeg (per-node degree agg
    # joined to labels) and cin (two label joins + same-label filter).
    # One pass suffices: label both endpoints of every directed edge, then
    # per source-community count ALL edges (= community degree sum, since
    # every directed edge contributes exactly 1 to its src's degree) and
    # the same-label edges (= in-community edges). Community sizes come
    # from the tiny label table alone.
    ls = l2.selectExpr("v AS sv", "lab AS lab_s")
    ld = l2.selectExpr("v AS dv", "lab AS lab_d")
    stats = (
        e.join(ls, F.col("src") == F.col("sv"))
        .join(ld, F.col("dst") == F.col("dv"))
        .groupBy(F.col("lab_s").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("degree_sum"),
            F.sum(F.expr("CASE WHEN lab_d = lab_s THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("in_edges"),
        )
    )
    sizes = l2.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    contrib = (
        sizes.join(stats, "community")
        .crossJoin(F.broadcast(twom))
        .withColumn(
            "contrib_scaled",
            F.expr(
                "CAST(two_m * in_edges - degree_sum * degree_sum AS BIGINT)"
            ),
        )
        # contrib is community-bounded (tiny) but feeds BOTH the global-Q
        # agg and the final projection — pin it so the edge-scale label
        # join above runs once, not twice (spec is eager: still timed).
        .localCheckpoint(eager=True)
    )
    glob = contrib.agg(
        F.expr(
            "CAST(floor(CAST(SUM(contrib_scaled) AS DOUBLE)"
            " / CAST(MAX(two_m) AS DOUBLE) / CAST(MAX(two_m) AS DOUBLE)"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("q_micro")
    )
    return (
        contrib.crossJoin(F.broadcast(glob))
        .select(
            "community", "size", "in_edges", "degree_sum", "contrib_scaled",
            "q_micro",
        )
        .orderBy(F.col("size").desc(), "community")
        .limit(20)
    )
