"""Model-evaluation and hypothesis-screening analytics (SURVEY.md §2.13
extended rows X172+).

The reference repo stops at descriptive scrape/flatten output; a
training-data pipeline additionally needs the evaluation loop: ranking
metrics for learned scorers (ROC-AUC), two-sample inference for A/B
readouts (Welch's t), multiple-comparison control when screening many
segments at once (Benjamini-Hochberg), Pareto-frontier extraction for
multi-objective selection (skyline), and audience-overlap accounting for
mixture design. Every query follows the repo's exactness discipline:
money doubles are quantized to integer cents with the blessed
``CAST(ROUND(value * 100) AS BIGINT)`` pattern (proven cross-engine in
huber_mean_per_type), all sums are BIGINT (order-independent), and the
few output doubles are derived from those integers by an identical
expression tree in both engines (IEEE /, *, sqrt only — no libm
transcendentals).
"""

from __future__ import annotations

from typing import Iterator  # noqa: F401 — resolved by pandas_udf type hints

import pandas as pd  # noqa: F401 — resolved by pandas_udf type hints
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load
from uk_procurement_data_pipeline_spark.queries.base import register

_CENTS = "CAST(ROUND(value * 100) AS BIGINT)"


@register(
    name="roc_auc_mannwhitney",
    survey="A7 W3 F28",
    doc="ROC-AUC of `value` as a score separating purchase (positive) "
    "from click (negative) events, via the Mann-Whitney U identity with "
    "tie-correct half-credit. NOT a global per-row rank: rows collapse "
    "to (cents -> pos_c, neg_c) cells first, so the one ordered window "
    "(cumulative negatives below each distinct score) runs over the "
    "BOUNDED score domain (<= 100 x max dollar value cells), never the "
    "row population — the same bounded-cells argument as "
    "event_type_value_chi2. The numerator is kept as an exact integer "
    "(x2 so equal-score pairs contribute 1 instead of 0.5); the only "
    "double is the final division.",
    oracle="""
        WITH v AS (
          SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                     AS is_pos
          FROM events
          WHERE event_type IN ('purchase', 'click')
        ), cells AS (
          SELECT cents,
                 CAST(SUM(is_pos) AS BIGINT) AS pos_c,
                 CAST(SUM(1 - is_pos) AS BIGINT) AS neg_c
          FROM v GROUP BY cents
        ), cum AS (
          SELECT cents, pos_c, neg_c,
                 CAST(COALESCE(SUM(neg_c) OVER (
                   ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS neg_below
          FROM cells
        )
        SELECT CAST(SUM(pos_c) AS BIGINT) AS n_pos,
               CAST(SUM(neg_c) AS BIGINT) AS n_neg,
               CAST(SUM(pos_c * (2 * neg_below + neg_c)) AS BIGINT)
                   AS u_stat_x2,
               CAST(SUM(pos_c * (2 * neg_below + neg_c)) AS DOUBLE)
                 / (2.0 * CAST(SUM(pos_c) AS DOUBLE)
                        * CAST(SUM(neg_c) AS DOUBLE)) AS auc
        FROM cum
    """,
)
def roc_auc_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .selectExpr(
            f"{_CENTS} AS cents",
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_pos",
        )
    )
    cells = v.groupBy("cents").agg(
        F.sum("is_pos").cast("bigint").alias("pos_c"),
        F.sum(F.lit(1) - F.col("is_pos")).cast("bigint").alias("neg_c"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.select(
        "pos_c",
        "neg_c",
        F.coalesce(F.sum("neg_c").over(w), F.lit(0)).cast("bigint").alias("neg_below"),
    )
    num = (F.col("pos_c") * (2 * F.col("neg_below") + F.col("neg_c"))).alias("t")
    return cum.agg(
        F.sum("pos_c").cast("bigint").alias("n_pos"),
        F.sum("neg_c").cast("bigint").alias("n_neg"),
        F.sum(num).cast("bigint").alias("u_stat_x2"),
        (
            F.sum(num).cast("double")
            / (2.0 * F.sum("pos_c").cast("double") * F.sum("neg_c").cast("double"))
        ).alias("auc"),
    )


# Welch variance from exact integer (n, sum, sum-of-squares) triples; the
# double expression tree is written ONCE here and reused verbatim in both
# engines, so every IEEE operation matches bit-for-bit.
_VAR = (
    "((CAST(ss{i} AS DOUBLE) - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE)"
    " / CAST(n{i} AS DOUBLE)) / (CAST(n{i} AS DOUBLE) - 1.0))"
)


@register(
    name="welch_ttest_value",
    survey="A7 F28",
    doc="Welch two-sample t-test of mean event value, purchase vs click: "
    "unequal-variance t statistic and Welch-Satterthwaite degrees of "
    "freedom. One linear scan collects exact BIGINT (n, sum-cents, "
    "sum-squared-cents) per arm via conditional aggregation (map-side "
    "partial agg, no shuffle beyond the 2-cell final); means/variances/"
    "t/df are doubles derived from those integers with an identical "
    "expression tree in both engines (/, *, sqrt only). Sum-of-squares "
    "headroom: max cents ~49k so cents^2 < 2.5e9; 2^63 tolerates ~3.8e9 "
    "rows per arm — past that, widen to decimal(38,0) as exact.py "
    "prescribes.",
    oracle=f"""
        WITH v AS (
          SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS arm,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
          WHERE event_type IN ('purchase', 'click')
        ), g AS (
          SELECT
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT)
                AS s1,
            CAST(SUM(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END)
                 AS BIGINT) AS ss1,
            CAST(SUM(CASE WHEN arm = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN arm = 2 THEN cents ELSE 0 END) AS BIGINT)
                AS s2,
            CAST(SUM(CASE WHEN arm = 2 THEN cents * cents ELSE 0 END)
                 AS BIGINT) AS ss2
          FROM v
        ), d AS (
          SELECT n1, n2,
                 CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0
                     AS mean_purchase,
                 CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0
                     AS mean_click,
                 {_VAR.format(i=1)} / CAST(n1 AS DOUBLE) AS se1,
                 {_VAR.format(i=2)} / CAST(n2 AS DOUBLE) AS se2
          FROM g
        )
        SELECT n1 AS n_purchase, n2 AS n_click, mean_purchase, mean_click,
               (mean_purchase - mean_click) * 100.0 / sqrt(se1 + se2)
                 / 100.0 AS t_stat,
               (se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)
                    + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)) AS welch_df
        FROM d
    """,
)
def welch_ttest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .selectExpr(
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS arm",
            f"{_CENTS} AS cents",
        )
    )
    g = v.agg(
        F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END")).cast("bigint").alias("n1"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN cents ELSE 0 END"))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN cents * cents ELSE 0 END"))
        .cast("bigint")
        .alias("ss1"),
        F.sum(F.expr("CASE WHEN arm = 2 THEN 1 ELSE 0 END")).cast("bigint").alias("n2"),
        F.sum(F.expr("CASE WHEN arm = 2 THEN cents ELSE 0 END"))
        .cast("bigint")
        .alias("s2"),
        F.sum(F.expr("CASE WHEN arm = 2 THEN cents * cents ELSE 0 END"))
        .cast("bigint")
        .alias("ss2"),
    )
    d = g.selectExpr(
        "n1",
        "n2",
        "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS mean_purchase",
        "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0 AS mean_click",
        f"{_VAR.format(i=1)} / CAST(n1 AS DOUBLE) AS se1",
        f"{_VAR.format(i=2)} / CAST(n2 AS DOUBLE) AS se2",
    )
    return d.selectExpr(
        "n1 AS n_purchase",
        "n2 AS n_click",
        "mean_purchase",
        "mean_click",
        "(mean_purchase - mean_click) * 100.0 / sqrt(se1 + se2) / 100.0 AS t_stat",
        "(se1 + se2) * (se1 + se2)"
        " / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)"
        "    + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)) AS welch_df",
    )


@register(
    name="bh_fdr_screen",
    survey="A7 W1 F28",
    doc="Benjamini-Hochberg FDR screen over per-event-type mean-vs-rest "
    "contrasts. Each type's z-squared against the pooled complement comes "
    "from exact BIGINT (n, sum, sumsq) triples (one hash agg + broadcast "
    "of the 1-row global totals); the p-value proxy is the Chebyshev/"
    "Cantelli bound p = 1/(1+z^2) — rational arithmetic, monotone in |z|, "
    "so the BH step function is applied to exactly comparable doubles in "
    "both engines with zero libm exposure. The BH rank/threshold windows "
    "run over the 5-row type domain (bounded cells). alpha = 0.10.",
    oracle="""
        WITH v AS (
          SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ), g AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS s,
                 CAST(SUM(cents * cents) AS BIGINT) AS ss
          FROM v GROUP BY event_type
        ), tot AS (
          SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(s) AS BIGINT) AS ts,
                 CAST(SUM(ss) AS BIGINT) AS tss
          FROM g
        ), z AS (
          SELECT g.event_type, g.n,
                 (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                  - CAST(t.ts - g.s AS DOUBLE) / CAST(t.tn - g.n AS DOUBLE))
                 * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                  - CAST(t.ts - g.s AS DOUBLE) / CAST(t.tn - g.n AS DOUBLE))
                 / (
                   ((CAST(g.ss AS DOUBLE)
                     - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE)
                       / CAST(g.n AS DOUBLE))
                    / (CAST(g.n AS DOUBLE) - 1.0)) / CAST(g.n AS DOUBLE)
                   + ((CAST(t.tss - g.ss AS DOUBLE)
                     - CAST(t.ts - g.s AS DOUBLE) * CAST(t.ts - g.s AS DOUBLE)
                       / CAST(t.tn - g.n AS DOUBLE))
                    / (CAST(t.tn - g.n AS DOUBLE) - 1.0))
                     / CAST(t.tn - g.n AS DOUBLE)
                 ) AS z2
          FROM g CROSS JOIN tot t
        ), p AS (
          SELECT event_type, n, z2, 1.0 / (1.0 + z2) AS p_cheb,
                 CAST(ROW_NUMBER() OVER (ORDER BY 1.0 / (1.0 + z2), event_type)
                      AS BIGINT) AS bh_rank,
                 CAST(COUNT(*) OVER () AS BIGINT) AS m
          FROM z
        ), k AS (
          SELECT p.*,
                 MAX(CASE WHEN p_cheb * CAST(m AS DOUBLE)
                              <= CAST(bh_rank AS DOUBLE) * 0.10
                          THEN bh_rank ELSE 0 END) OVER () AS bh_k
          FROM p
        )
        SELECT event_type, n, z2, p_cheb, bh_rank,
               CASE WHEN bh_rank <= bh_k THEN 1 ELSE 0 END AS rejected
        FROM k
        ORDER BY bh_rank
    """,
)
def bh_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load(spark, sf_dir, "events").selectExpr("event_type", f"{_CENTS} AS cents")
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.expr("cents * cents")).cast("bigint").alias("ss"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("s").cast("bigint").alias("ts"),
        F.sum("ss").cast("bigint").alias("tss"),
    )
    z = g.crossJoin(F.broadcast(tot)).selectExpr(
        "event_type",
        "n",
        "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
        " - CAST(ts - s AS DOUBLE) / CAST(tn - n AS DOUBLE))"
        " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
        " - CAST(ts - s AS DOUBLE) / CAST(tn - n AS DOUBLE))"
        " / ("
        "   ((CAST(ss AS DOUBLE)"
        "     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
        "    / (CAST(n AS DOUBLE) - 1.0)) / CAST(n AS DOUBLE)"
        "   + ((CAST(tss - ss AS DOUBLE)"
        "     - CAST(ts - s AS DOUBLE) * CAST(ts - s AS DOUBLE)"
        "       / CAST(tn - n AS DOUBLE))"
        "    / (CAST(tn - n AS DOUBLE) - 1.0)) / CAST(tn - n AS DOUBLE)"
        " ) AS z2",
    )
    wr = Window.orderBy(F.expr("1.0 / (1.0 + z2)"), "event_type")
    wall = Window.partitionBy()
    p = z.select(
        "event_type",
        "n",
        "z2",
        F.expr("1.0 / (1.0 + z2)").alias("p_cheb"),
        F.row_number().over(wr).cast("bigint").alias("bh_rank"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("m"),
    )
    k = p.select(
        "*",
        F.max(
            F.expr(
                "CASE WHEN p_cheb * CAST(m AS DOUBLE)"
                " <= CAST(bh_rank AS DOUBLE) * 0.10 THEN bh_rank ELSE 0 END"
            )
        )
        .over(wall)
        .alias("bh_k"),
    )
    return k.selectExpr(
        "event_type",
        "n",
        "z2",
        "p_cheb",
        "bh_rank",
        "CASE WHEN bh_rank <= bh_k THEN 1 ELSE 0 END AS rejected",
    ).orderBy("bh_rank")


@register(
    name="skyline_parts_pareto",
    survey="A7 W3 J6 F28",
    doc="2-D skyline (Pareto frontier) of parts maximizing (revenue, "
    "quantity): a part survives iff no other part has >= on both axes "
    "with one strict. NOT the naive O(n^2) dominance self-join: phase 1 "
    "bands per-part revenue-cents (div 1e5) and prefix-maxes band-max "
    "quantity over strictly-higher bands — a window over BOUNDED band "
    "cells — pruning every part whose quantity fails its higher-band "
    "ceiling (a higher band implies strictly higher revenue, so ceiling "
    "failure proves a dominator exists); phase 2 resolves same-band "
    "dominance with a band-keyed EQUI-join anti-filter over the pruned "
    "survivors only. At 1000 executors both phases are linear scans plus "
    "one bounded broadcast; no global per-row sort. Revenue uses "
    "l_extendedprice cents (exact BIGINT sums).",
    oracle="""
        WITH pa AS (
          SELECT l_partkey,
                 CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents,
                 CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                     AS qty_sum
          FROM lineitem GROUP BY l_partkey
        ), m AS (
          SELECT l_partkey, rev_cents, qty_sum,
                 MAX(qty_sum) OVER (
                   ORDER BY rev_cents
                   RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                 ) AS hi_max,
                 MAX(qty_sum) OVER (PARTITION BY rev_cents) AS same_max
          FROM pa
        )
        SELECT l_partkey, rev_cents, qty_sum
        FROM m
        WHERE (hi_max IS NULL OR qty_sum > hi_max) AND qty_sum = same_max
        ORDER BY rev_cents DESC, l_partkey
    """,
)
def skyline_parts_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    pa = (
        load(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_partkey",
            "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents",
            "CAST(ROUND(l_quantity) AS BIGINT) AS qty",
        )
        .groupBy("l_partkey")
        .agg(
            F.sum("price_cents").cast("bigint").alias("rev_cents"),
            F.sum("qty").cast("bigint").alias("qty_sum"),
        )
        .withColumn("band", F.expr("rev_cents div 100000"))
    )
    band_max = pa.groupBy("band").agg(F.max("qty_sum").alias("band_max"))
    w_hi = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ceilings = band_max.select(
        "band", F.max("band_max").over(w_hi).alias("higher_band_max")
    )
    cand = pa.join(F.broadcast(ceilings), "band").where(
        F.col("higher_band_max").isNull()
        | (F.col("qty_sum") > F.col("higher_band_max"))
    )
    dom = cand.alias("c").join(
        pa.alias("p"),
        (F.col("c.band") == F.col("p.band"))
        & (
            (
                (F.col("p.rev_cents") > F.col("c.rev_cents"))
                & (F.col("p.qty_sum") >= F.col("c.qty_sum"))
            )
            | (
                (F.col("p.rev_cents") == F.col("c.rev_cents"))
                & (F.col("p.qty_sum") > F.col("c.qty_sum"))
            )
        ),
        "left_anti",
    )
    return dom.select("c.l_partkey", "c.rev_cents", "c.qty_sum").orderBy(
        F.col("rev_cents").desc(), "l_partkey"
    )


@register(
    name="audience_overlap_matrix",
    survey="A8 J6 A7",
    doc="Pairwise audience overlap between event types: distinct-user "
    "sets per type, exact intersection sizes via a user-keyed self-join "
    "of the deduped (type, user) pairs (co-partitioned equi-join on "
    "user_id — the distinct and the join reuse one hash partitioning), "
    "and Jaccard from the inclusion-exclusion identity. 10 unordered "
    "type pairs out; sizes join is a broadcast of the 5-row type-size "
    "table. The set-intersection-as-equi-join shape is the scale answer "
    "to bitmap AND at 100 TB (no driver-side bitmaps).",
    oracle="""
        WITH d AS (
          SELECT DISTINCT event_type, user_id FROM events
        ), sizes AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
          FROM d GROUP BY event_type
        ), pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(COUNT(*) AS BIGINT) AS n_both
          FROM d a JOIN d b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT p.type_a, p.type_b, sa.n_users AS n_a, sb.n_users AS n_b,
               p.n_both,
               CAST(p.n_both AS DOUBLE)
                 / CAST(sa.n_users + sb.n_users - p.n_both AS DOUBLE)
                   AS jaccard
        FROM pairs p
        JOIN sizes sa ON sa.event_type = p.type_a
        JOIN sizes sb ON sb.event_type = p.type_b
        ORDER BY p.type_a, p.type_b
    """,
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    sizes = d.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    sa = F.broadcast(sizes).alias("sa")
    sb = F.broadcast(sizes).alias("sb")
    return (
        pairs.join(sa, F.col("sa.event_type") == F.col("type_a"))
        .join(sb, F.col("sb.event_type") == F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.col("sa.n_users").alias("n_a"),
            F.col("sb.n_users").alias("n_b"),
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("sa.n_users") + F.col("sb.n_users") - F.col("n_both")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    name="feature_hashing_vectorize",
    survey="A7 F28 UD4",
    doc="Hashing-trick (feature hashing) vectorization audit: every token "
    "maps to one of 64 buckets via the md5 hash family with a separate "
    "md5-derived sign bit (the signed construction that makes collision "
    "noise zero-mean). Output is the per-bucket audit a vectorizer needs "
    "before committing to a width: distinct terms landing in the bucket "
    "(collision pressure), total term frequency, and the signed sum. All "
    "integer arithmetic; the hash family is the repo's cross-engine "
    "conv/substr(md5) pattern. One explode + one hash agg — linear, "
    "shuffle only on the 64-bucket key space.",
    oracle="""
        WITH tok AS (
          SELECT unnest(string_split(text, ' ')) AS w
          FROM documents
        ), hashed AS (
          SELECT w,
                 CAST('0x' || substr(md5('fh-' || w), 1, 15) AS BIGINT) % 64
                     AS bucket,
                 CASE WHEN substr(md5('sign-' || w), 1, 1)
                           IN ('0','1','2','3','4','5','6','7')
                      THEN 1 ELSE -1 END AS sgn
          FROM tok WHERE w <> ''
        )
        SELECT bucket,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS n_terms,
               CAST(COUNT(*) AS BIGINT) AS total_tf,
               CAST(SUM(sgn) AS BIGINT) AS signed_sum
        FROM hashed
        GROUP BY bucket
        ORDER BY bucket
    """,
)
def feature_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    hashed = tok.selectExpr(
        "w",
        "CAST(conv(substr(md5('fh-' || w), 1, 15), 16, 10) AS BIGINT) % 64"
        " AS bucket",
        "CASE WHEN substr(md5('sign-' || w), 1, 1)"
        " IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS sgn",
    )
    return (
        hashed.groupBy("bucket")
        .agg(
            F.countDistinct("w").cast("bigint").alias("n_terms"),
            F.count(F.lit(1)).cast("bigint").alias("total_tf"),
            F.sum("sgn").cast("bigint").alias("signed_sum"),
        )
        .orderBy("bucket")
    )


# Dirichlet-smoothed query-likelihood per (doc, term), in micro units.
# floor(ln * 1e6) BEFORE summation — the repo's libm-drift discipline
# (see retrieval.py bm25): ranking happens on exact BIGINT sums.
_DIRICHLET_MICRO = (
    "CAST(floor(ln((CAST(tf AS DOUBLE)"
    " + 2000.0 * CAST(c_t AS DOUBLE) / CAST(total_tokens AS DOUBLE))"
    " / (CAST(len_d AS DOUBLE) + 2000.0)) * 1000000) AS BIGINT)"
)


@register(
    name="lm_dirichlet_topk",
    survey="A7 J5 W1 F28",
    doc="Query-likelihood retrieval with Dirichlet smoothing (mu=2000): "
    "score(d|q) = sum_t ln((tf + mu p_c(t)) / (len_d + mu)) — the "
    "language-modeling counterpart of bm25_topk_docs. The corpus unigram "
    "model and the 4-term query are broadcast (rows: n_terms x n_docs "
    "via broadcast nested-loop over a 4-row side, then a left join picks "
    "up per-doc tfs); absent terms contribute the smoothing-only mass, "
    "exactly as the formula requires. Per-term ln is micro-quantized "
    "before the exact BIGINT sum so ranking never touches drifting "
    "doubles. Top-10 with doc_id tiebreak.",
    oracle="""
        WITH q(term) AS (
          VALUES ('join'), ('hash'), ('window'), ('stream')
        ), tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents
        ), lens AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len_d
          FROM tok WHERE w <> '' GROUP BY doc_id
        ), corpus AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS c_t
          FROM tok WHERE w <> '' GROUP BY w
        ), total AS (
          SELECT CAST(SUM(c_t) AS BIGINT) AS total_tokens FROM corpus
        ), tfs AS (
          SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok WHERE w <> '' GROUP BY doc_id, w
        ), scored AS (
          SELECT l.doc_id,
                 CAST(SUM(CAST(floor(ln((CAST(COALESCE(t.tf, 0) AS DOUBLE)
                   + 2000.0 * CAST(c.c_t AS DOUBLE)
                     / CAST(tt.total_tokens AS DOUBLE))
                   / (CAST(l.len_d AS DOUBLE) + 2000.0)) * 1000000)
                   AS BIGINT)) AS BIGINT) AS score_micro
          FROM lens l
          CROSS JOIN q
          JOIN corpus c ON c.w = q.term
          CROSS JOIN total tt
          LEFT JOIN tfs t ON t.doc_id = l.doc_id AND t.w = q.term
          GROUP BY l.doc_id
        )
        SELECT doc_id, score_micro,
               CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
                    AS BIGINT) AS rnk
        FROM scored
        ORDER BY score_micro DESC, doc_id
        LIMIT 10
    """,
)
def lm_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = spark.createDataFrame(
        [("join",), ("hash",), ("window",), ("stream",)], ["term"]
    )
    tok = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    lens = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("len_d"))
    corpus = tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c_t"))
    total = corpus.agg(F.sum("c_t").cast("bigint").alias("total_tokens"))
    tfs = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    qmodel = (
        terms.join(corpus, F.col("w") == F.col("term"))
        .drop("w")
        .crossJoin(total)
    )
    scored = (
        lens.crossJoin(F.broadcast(qmodel))
        .join(
            tfs.withColumnRenamed("doc_id", "t_doc"),
            (F.col("t_doc") == F.col("doc_id")) & (F.col("w") == F.col("term")),
            "left",
        )
        .withColumn("tf", F.coalesce(F.col("tf"), F.lit(0)))
        .groupBy("doc_id")
        .agg(F.sum(F.expr(_DIRICHLET_MICRO)).cast("bigint").alias("score_micro"))
    )
    # Top-10 FIRST (TakeOrderedAndProject — no global sort), THEN the rank
    # annotation window over the 10 surviving rows only.
    top = scored.orderBy(F.col("score_micro").desc(), "doc_id").limit(10)
    w_rank = Window.orderBy(F.col("score_micro").desc(), "doc_id")
    return top.select(
        "doc_id",
        "score_micro",
        F.row_number().over(w_rank).cast("bigint").alias("rnk"),
    ).orderBy(F.col("score_micro").desc(), "doc_id")


@register(
    name="l_diversity_report",
    survey="A7 A8 F28",
    doc="l-diversity audit, the companion to k_anonymity_report: for each "
    "quasi-identifier group (nation x market segment) over customers, "
    "the sensitive attribute (account-balance $1000 band) must take at "
    "least l distinct values or the group is re-identifiable by "
    "homogeneity even when k-anonymous. One hash agg over the bounded "
    "QI domain; emits group size k, distinct-sensitive l, and the "
    "l >= 3 pass flag per group, worst groups first.",
    oracle="""
        WITH g AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(COUNT(*) AS BIGINT) AS k_size,
                 CAST(COUNT(DISTINCT
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT)
                     AS l_diversity
          FROM customer
          GROUP BY c_nationkey, c_mktsegment
        )
        SELECT c_nationkey, c_mktsegment, k_size, l_diversity,
               CASE WHEN l_diversity >= 3 THEN 1 ELSE 0 END AS passes_l3
        FROM g
        ORDER BY l_diversity, k_size, c_nationkey, c_mktsegment
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_size"),
            F.countDistinct(F.expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)"))
            .cast("bigint")
            .alias("l_diversity"),
        )
    )
    return g.selectExpr(
        "c_nationkey",
        "c_mktsegment",
        "k_size",
        "l_diversity",
        "CASE WHEN l_diversity >= 3 THEN 1 ELSE 0 END AS passes_l3",
    ).orderBy("l_diversity", "k_size", "c_nationkey", "c_mktsegment")


@register(
    name="dp_noised_counts",
    survey="A7 F28",
    doc="Differentially-private count release mechanics with a "
    "DETERMINISTIC Laplace draw: per event type, noise = "
    "-b sign(u) ln(1 - 2|u|) with u a md5-derived uniform in (-0.5, "
    "0.5) and b = sensitivity/epsilon = 1/1.0 — the inverse-CDF "
    "sampling a real DP release would do with a seeded RNG, made "
    "replayable (and oracle-checkable) by hashing the partition key "
    "instead of consuming RNG state. ln is micro-quantized before the "
    "integer add (libm discipline). Emits true count, the uniform "
    "draw, and the noised count per type; one hash agg over the "
    "bounded type domain.",
    oracle="""
        WITH g AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_n
          FROM events GROUP BY event_type
        ), u AS (
          SELECT event_type, true_n,
                 (CAST(CAST('0x' || substr(md5('dp-' || event_type), 1, 15)
                       AS BIGINT) % 1000000 AS DOUBLE) + 0.5) / 1000000.0
                   - 0.5 AS udraw
          FROM g
        ), n AS (
          SELECT event_type, true_n, udraw,
                 CAST(floor(
                   -1.0 * (CASE WHEN udraw >= 0.0 THEN 1.0 ELSE -1.0 END)
                   * ln(1.0 - 2.0 * abs(udraw)) * 1000000
                 ) AS BIGINT) AS noise_micro
          FROM u
        )
        SELECT event_type, true_n, udraw, noise_micro,
               true_n + CAST(ROUND(CAST(noise_micro AS DOUBLE) / 1000000.0)
                             AS BIGINT) AS noised_n
        FROM n
        ORDER BY event_type
    """,
)
def dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    )
    u = g.selectExpr(
        "event_type",
        "true_n",
        "(CAST(CAST(conv(substr(md5('dp-' || event_type), 1, 15), 16, 10)"
        " AS BIGINT) % 1000000 AS DOUBLE) + 0.5) / 1000000.0 - 0.5 AS udraw",
    )
    n = u.selectExpr(
        "event_type",
        "true_n",
        "udraw",
        "CAST(floor("
        " -1.0 * (CASE WHEN udraw >= 0.0 THEN 1.0 ELSE -1.0 END)"
        " * ln(1.0 - 2.0 * abs(udraw)) * 1000000"
        ") AS BIGINT) AS noise_micro",
    )
    return n.selectExpr(
        "event_type",
        "true_n",
        "udraw",
        "noise_micro",
        "true_n + CAST(ROUND(CAST(noise_micro AS DOUBLE) / 1000000.0)"
        " AS BIGINT) AS noised_n",
    ).orderBy("event_type")


_H_BITS = 4  # hilbert grid bits per dimension (16 x 16 cells)


def _hilbert_oracle() -> str:
    from uk_procurement_data_pipeline_spark.functions.hilbert import (
        oracle_hilbert_ctes,
    )

    n = (1 << _H_BITS) - 1
    chain, last = oracle_hilbert_ctes("cells", _H_BITS)
    return f"""
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
                   least({n}, greatest(0, CAST(floor(
                       (CAST(o_custkey - lo_c AS DOUBLE)
                        / CAST(hi_c - lo_c AS DOUBLE)) * {n})
                       AS BIGINT))) AS hx,
                   least({n}, greatest(0, CAST(floor(
                       (CAST(oday - lo_d AS DOUBLE)
                        / CAST(hi_d - lo_d AS DOUBLE)) * {n})
                       AS BIGINT))) AS hy
            FROM base, stats),
        cells AS (
            SELECT hx, hy,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(min(o_custkey) AS BIGINT) AS min_custkey,
                   CAST(max(o_custkey) AS BIGINT) AS max_custkey,
                   CAST(min(oday) AS BIGINT) AS min_day,
                   CAST(max(oday) AS BIGINT) AS max_day
            FROM ranked GROUP BY hx, hy),
        {chain}
        SELECT hd // 4 AS hcell,
               CAST(SUM(n_orders) AS BIGINT) AS n_orders,
               CAST(min(min_custkey) AS BIGINT) AS min_custkey,
               CAST(max(max_custkey) AS BIGINT) AS max_custkey,
               CAST(min(min_day) AS BIGINT) AS min_day,
               CAST(max(max_day) AS BIGINT) AS max_day
        FROM {last}
        GROUP BY 1
        ORDER BY 1
    """


@register(
    name="hilbert_cell_stats",
    survey="S7 A7 F15",
    doc="Hilbert-curve clustering key over orders — the locality-tighter "
    "companion to zorder_cell_stats (same (o_custkey, order-day) "
    "min-max 4-bit ranks, same broadcast one-row stats join, directly "
    "comparable per-cell span columns). The curve index is computed on "
    "the AGGREGATED 16x16 cell table, not the row population: rows pay "
    "only the rank arithmetic + one hash agg, then the unrolled xy2d "
    "rotation (functions/hilbert.py, 4 staged projections, XOR expanded "
    "to CASE — no engine bitwise dialect) runs over at most 256 rows. "
    "At 100 TB the write-side use is identical to z-order: "
    "repartitionByRange + sortWithinPartitions on hd.",
    oracle=_hilbert_oracle(),
)
def hilbert_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.hilbert import with_hilbert_d
    from uk_procurement_data_pipeline_spark.functions.zorder import int_rank

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
        int_rank(F.col("o_custkey"), F.col("lo_c"), F.col("hi_c"), _H_BITS).alias(
            "hx"
        ),
        int_rank(F.col("oday"), F.col("lo_d"), F.col("hi_d"), _H_BITS).alias("hy"),
    )
    cells = ranked.groupBy("hx", "hy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("o_custkey").cast("bigint").alias("min_custkey"),
        F.max("o_custkey").cast("bigint").alias("max_custkey"),
        F.min("oday").cast("bigint").alias("min_day"),
        F.max("oday").cast("bigint").alias("max_day"),
    )
    keyed = with_hilbert_d(cells, "hx", "hy", _H_BITS)
    return (
        keyed.groupBy(F.expr("hd div 4").alias("hcell"))
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.min("min_custkey").cast("bigint").alias("min_custkey"),
            F.max("max_custkey").cast("bigint").alias("max_custkey"),
            F.min("min_day").cast("bigint").alias("min_day"),
            F.max("max_day").cast("bigint").alias("max_day"),
        )
        .orderBy("hcell")
    )


# Fellegi-Sunter log2-free match weights in micro-nats, precomputed as
# Python literals (math.log at plan-build time — ZERO libm in either
# engine). Fields: market segment (m=.9, u=.2), $1000 balance band
# (m=.95, u=.1), exact dollar balance (m=.8, u=1e-4).
_FS_W = {
    "seg": (1504077, -2079442),
    "band": (2251292, -2890372),
    "dollar": (8987197, -1609338),
}
_FS_UPPER = 4_000_000  # >= : link
_FS_LOWER = -4_000_000  # <= : non-link


@register(
    name="fellegi_sunter_linkage",
    survey="J6 A7 F28",
    doc="Fellegi-Sunter probabilistic record linkage mechanics over "
    "nation-blocked customer pairs: per-field agreement weights "
    "ln(m/u) / ln((1-m)/(1-u)) with fixed published (m, u) priors, "
    "precomputed to micro-nat INTEGER literals at plan build (no libm "
    "in-engine). Emits the agreement-PATTERN histogram — pair count and "
    "total match weight per (segment, $1000-band, exact-dollar) "
    "agreement vector, with the classic link/possible/non-link "
    "three-way classification — rather than per-pair rows, so output "
    "stays bounded by the 2^3 pattern domain. Blocking is the standard "
    "quadratic-cost control: the self-join is EQUI on c_nationkey; at "
    "100 TB you block finer (nation x segment x band) to cap block "
    "sizes, which this same plan expresses by adding join keys.",
    oracle=f"""
        WITH p AS (
          SELECT
            CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END
                AS seg_agree,
            CASE WHEN CAST(floor(a.c_acctbal / 1000.0) AS BIGINT)
                      = CAST(floor(b.c_acctbal / 1000.0) AS BIGINT)
                 THEN 1 ELSE 0 END AS band_agree,
            CASE WHEN CAST(floor(a.c_acctbal) AS BIGINT)
                      = CAST(floor(b.c_acctbal) AS BIGINT)
                 THEN 1 ELSE 0 END AS dollar_agree
          FROM customer a JOIN customer b
            ON a.c_nationkey = b.c_nationkey
           AND a.c_custkey < b.c_custkey
        ), g AS (
          SELECT seg_agree, band_agree, dollar_agree,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(CASE WHEN seg_agree = 1 THEN {_FS_W["seg"][0]}
                      ELSE {_FS_W["seg"][1]} END
                 + CASE WHEN band_agree = 1 THEN {_FS_W["band"][0]}
                      ELSE {_FS_W["band"][1]} END
                 + CASE WHEN dollar_agree = 1 THEN {_FS_W["dollar"][0]}
                      ELSE {_FS_W["dollar"][1]} END AS BIGINT)
                     AS weight_micro
          FROM p GROUP BY 1, 2, 3
        )
        SELECT seg_agree, band_agree, dollar_agree, n_pairs, weight_micro,
               CASE WHEN weight_micro >= {_FS_UPPER} THEN 'link'
                    WHEN weight_micro <= {_FS_LOWER} THEN 'non-link'
                    ELSE 'possible' END AS decision
        FROM g
        ORDER BY weight_micro DESC, seg_agree, band_agree, dollar_agree
    """,
)
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    p = (
        c.alias("a")
        .join(
            c.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .selectExpr(
            "CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END"
            " AS seg_agree",
            "CASE WHEN CAST(floor(a.c_acctbal / 1000.0) AS BIGINT)"
            " = CAST(floor(b.c_acctbal / 1000.0) AS BIGINT)"
            " THEN 1 ELSE 0 END AS band_agree",
            "CASE WHEN CAST(floor(a.c_acctbal) AS BIGINT)"
            " = CAST(floor(b.c_acctbal) AS BIGINT)"
            " THEN 1 ELSE 0 END AS dollar_agree",
        )
    )
    wexpr = (
        f"CAST(CASE WHEN seg_agree = 1 THEN {_FS_W['seg'][0]}"
        f" ELSE {_FS_W['seg'][1]} END"
        f" + CASE WHEN band_agree = 1 THEN {_FS_W['band'][0]}"
        f" ELSE {_FS_W['band'][1]} END"
        f" + CASE WHEN dollar_agree = 1 THEN {_FS_W['dollar'][0]}"
        f" ELSE {_FS_W['dollar'][1]} END AS BIGINT)"
    )
    g = (
        p.groupBy("seg_agree", "band_agree", "dollar_agree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn("weight_micro", F.expr(wexpr))
    )
    return g.selectExpr(
        "seg_agree",
        "band_agree",
        "dollar_agree",
        "n_pairs",
        "weight_micro",
        f"CASE WHEN weight_micro >= {_FS_UPPER} THEN 'link'"
        f" WHEN weight_micro <= {_FS_LOWER} THEN 'non-link'"
        f" ELSE 'possible' END AS decision",
    ).orderBy(
        F.col("weight_micro").desc(), "seg_agree", "band_agree", "dollar_agree"
    )


@register(
    name="fellegi_sunter_banded",
    survey="J9 J6 A7 F28 A8",
    doc="The 100-TB scale path for fellegi_sunter_linkage: multi-pass "
    "FINE blocking instead of the coarse 25-value nation block whose "
    "within-block pairs grow k^2 under any k-fold data growth "
    "(SCALING.md round-9 table). Two equi-join candidate passes — "
    "(nation, $1000 acctbal band) and (nation, mktsegment, band<>band) "
    "— DISJOINT by construction (the segment pass excludes "
    "band-agreeing pairs), so the union needs no pair-level dedup "
    "shuffle and the pattern aggregation is map-side partial into an "
    "8-row domain. Scored with the identical micro-nat weights. "
    "Exactness argument, pinned in tests: dollar_agree=1 "
    "implies band_agree=1 (a $1 floor interval never straddles a "
    "$1000 boundary), so the only pattern the passes cannot see is "
    "(0,0,0), whose weight -6,579,152 <= -4,000,000 is a definite "
    "non-link — fine blocking provably drops ONLY non-links. Output is "
    "the same agreement-pattern histogram restricted to candidates, "
    "plus cand_ppm_of_quadratic: candidate pairs as ppm of the full "
    "within-nation pair count (computed from per-nation counts, no "
    "quadratic join), the measured blocking gain. Honest asymptotics: "
    "any FIXED blocking-key domain still grows pairs Theta(N^2 / "
    "n_blocks) — fine blocking buys the 1/n_blocks constant (the ppm "
    "readout), which is the standard practice; unbounded growth needs "
    "blocking keys whose cardinality scales with the data (exact "
    "dollar here: the value domain) or per-block pair sampling.",
    oracle=f"""
        WITH c AS (
          SELECT c_custkey, c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band,
                 CAST(floor(c_acctbal) AS BIGINT) AS dollar
          FROM customer
        ), cand AS (
          SELECT a.c_custkey AS ka, b.c_custkey AS kb,
                 CASE WHEN a.c_mktsegment = b.c_mktsegment
                      THEN 1 ELSE 0 END AS seg_agree,
                 CASE WHEN a.band = b.band THEN 1 ELSE 0 END AS band_agree,
                 CASE WHEN a.dollar = b.dollar THEN 1 ELSE 0 END
                     AS dollar_agree
          FROM c a JOIN c b
            ON a.c_nationkey = b.c_nationkey AND a.band = b.band
           AND a.c_custkey < b.c_custkey
          UNION ALL
          SELECT a.c_custkey, b.c_custkey,
                 CASE WHEN a.c_mktsegment = b.c_mktsegment
                      THEN 1 ELSE 0 END,
                 0,
                 CASE WHEN a.dollar = b.dollar THEN 1 ELSE 0 END
          FROM c a JOIN c b
            ON a.c_nationkey = b.c_nationkey
           AND a.c_mktsegment = b.c_mktsegment
           AND a.c_custkey < b.c_custkey
           AND a.band <> b.band
        ), quad AS (
          SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS n_quad
          FROM (SELECT COUNT(*) AS n FROM customer GROUP BY c_nationkey)
        ), tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand
        ), g AS (
          SELECT seg_agree, band_agree, dollar_agree,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(CASE WHEN seg_agree = 1 THEN {_FS_W["seg"][0]}
                      ELSE {_FS_W["seg"][1]} END
                 + CASE WHEN band_agree = 1 THEN {_FS_W["band"][0]}
                      ELSE {_FS_W["band"][1]} END
                 + CASE WHEN dollar_agree = 1 THEN {_FS_W["dollar"][0]}
                      ELSE {_FS_W["dollar"][1]} END AS BIGINT)
                     AS weight_micro
          FROM cand GROUP BY 1, 2, 3
        )
        SELECT seg_agree, band_agree, dollar_agree, n_pairs, weight_micro,
               CASE WHEN weight_micro >= {_FS_UPPER} THEN 'link'
                    WHEN weight_micro <= {_FS_LOWER} THEN 'non-link'
                    ELSE 'possible' END AS decision,
               CAST(1000000 * tot.n_cand // quad.n_quad AS BIGINT)
                   AS cand_ppm_of_quadratic
        FROM g, tot, quad
        ORDER BY weight_micro DESC, seg_agree, band_agree, dollar_agree
    """,
)
def fellegi_sunter_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        "CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band",
        "CAST(floor(c_acctbal) AS BIGINT) AS dollar",
    )
    bits = [
        "CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END"
        " AS seg_agree",
        "CASE WHEN a.band = b.band THEN 1 ELSE 0 END AS band_agree",
        "CASE WHEN a.dollar = b.dollar THEN 1 ELSE 0 END AS dollar_agree",
    ]
    pass_band = (
        c.alias("a")
        .join(
            c.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .selectExpr("a.c_custkey AS ka", "b.c_custkey AS kb", *bits)
    )
    # The segment pass EXCLUDES band-agreeing pairs, so the two passes
    # partition the candidate set and the union needs no pair-level
    # distinct — the pattern aggregation is then map-side partial into an
    # 8-row domain, never a pair-sized shuffle (measured 2x at k=5).
    pass_seg = (
        c.alias("a")
        .join(
            c.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.band") != F.col("b.band"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .selectExpr(
            "a.c_custkey AS ka",
            "b.c_custkey AS kb",
            bits[0],
            "0 AS band_agree",
            bits[2],
        )
    )
    cand = pass_band.unionByName(pass_seg)
    # Blocking-gain denominator from per-nation COUNTS — linear, never a
    # pair join; both totals are 1-row aggregates broadcast via crossJoin
    # (the scalar-subquery shape used throughout this module).
    quad = (
        c.groupBy("c_nationkey")
        .count()
        .agg(
            F.sum(F.expr("count * (count - 1) / 2"))
            .cast("bigint")
            .alias("n_quad")
        )
    )
    tot = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    wexpr = (
        f"CAST(CASE WHEN seg_agree = 1 THEN {_FS_W['seg'][0]}"
        f" ELSE {_FS_W['seg'][1]} END"
        f" + CASE WHEN band_agree = 1 THEN {_FS_W['band'][0]}"
        f" ELSE {_FS_W['band'][1]} END"
        f" + CASE WHEN dollar_agree = 1 THEN {_FS_W['dollar'][0]}"
        f" ELSE {_FS_W['dollar'][1]} END AS BIGINT)"
    )
    g = (
        cand.groupBy("seg_agree", "band_agree", "dollar_agree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn("weight_micro", F.expr(wexpr))
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(quad))
        .selectExpr(
            "seg_agree",
            "band_agree",
            "dollar_agree",
            "n_pairs",
            "weight_micro",
            f"CASE WHEN weight_micro >= {_FS_UPPER} THEN 'link'"
            f" WHEN weight_micro <= {_FS_LOWER} THEN 'non-link'"
            f" ELSE 'possible' END AS decision",
            "CAST((1000000 * n_cand) DIV n_quad AS BIGINT)"
            " AS cand_ppm_of_quadratic",
        )
        .orderBy(
            F.col("weight_micro").desc(),
            "seg_agree",
            "band_agree",
            "dollar_agree",
        )
    )


@register(
    name="exact_median_two_phase",
    survey="A7 W3 O4 F28",
    doc="EXACT distributed median (lower median, k = (n+1) div 2) of "
    "l_extendedprice without a global per-row sort — the two-phase "
    "selection algorithm that scales: phase 1 histograms cents into "
    "$1000 bands (one hash agg; band domain bounded by the price "
    "range), cumulative-counts the BOUNDED band table to locate the "
    "band containing the k-th value, and broadcasts that one row; "
    "phase 2 rescans only rows in the selected band (predicate reaches "
    "the scan), aggregates per distinct cent (bounded by 100k cents "
    "per band) and cumulative-counts within the band. Both windows run "
    "over bounded cell tables; row data is never globally sorted. The "
    "oracle is the direct ORDER BY ... OFFSET selection.",
    oracle="""
        WITH v AS (
          SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem
        ), n AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 (CAST(COUNT(*) AS BIGINT) + 1) // 2 AS k
          FROM v
        )
        SELECT n.n_rows, n.k,
               (SELECT cents FROM v ORDER BY cents
                LIMIT 1 OFFSET (SELECT k - 1 FROM n)) AS kth_cents,
               CAST((SELECT cents FROM v ORDER BY cents
                     LIMIT 1 OFFSET (SELECT k - 1 FROM n)) AS DOUBLE)
                 / 100.0 AS median_dollars
        FROM n
    """,
)
def exact_median_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents"
    )
    banded = v.withColumn("band", F.expr("cents div 100000"))
    hist = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = hist.agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.expr("(CAST(SUM(c) AS BIGINT) + 1) div 2").alias("k"),
    )
    w_b = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "band",
        "c",
        F.coalesce(F.sum("c").over(w_b), F.lit(0)).cast("bigint").alias("before"),
    )
    sel_band = (
        cum.crossJoin(F.broadcast(totals))
        .where((F.col("before") < F.col("k")) & (F.col("before") + F.col("c") >= F.col("k")))
        .select("band", (F.col("k") - F.col("before")).alias("k_in_band"), "n_rows", "k")
    )
    in_band = banded.join(F.broadcast(sel_band), "band")
    cents_cells = in_band.groupBy("cents", "k_in_band", "n_rows", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("cc")
    )
    w_c = Window.partitionBy("k_in_band").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    picked = (
        cents_cells.select(
            "cents",
            "cc",
            "k_in_band",
            "n_rows",
            "k",
            F.coalesce(F.sum("cc").over(w_c), F.lit(0)).cast("bigint").alias("cb"),
        )
        .where(
            (F.col("cb") < F.col("k_in_band"))
            & (F.col("cb") + F.col("cc") >= F.col("k_in_band"))
        )
    )
    return picked.selectExpr(
        "n_rows",
        "k",
        "cents AS kth_cents",
        "CAST(cents AS DOUBLE) / 100.0 AS median_dollars",
    )


# Phrase-level BPE over word tokens: each round counts adjacent-token
# pairs, takes the single best (count desc, pair asc), and merges its
# greedy left-to-right non-overlapping occurrences corpus-wide. The merge
# uses plain (non-regex) replace() on a DOUBLE-SPACED token string:
# every token is flanked by two spaces, the search key " a  b " uses one
# of each boundary pair, so matches align only at token boundaries and
# consecutive occurrences ("a b a b") still merge independently —
# lookaround regex would be needed otherwise, and DuckDB's RE2 has none.
_BPE_SEP = "'  '"


def _bpe_merge_sql(t: str, a: str, b: str) -> str:
    """Engine-neutral SQL: merge pair (a, b) in doubled-space string t."""
    return (
        f"replace({t}, ' ' || {a} || '  ' || {b} || ' ',"
        f" ' ' || {a} || '_' || {b} || ' ')"
    )


@register(
    name="bpe_merge_unrolled",
    survey="A7 O4 F17 F28 J5",
    doc="Two unrolled BPE tokenizer-training merges at the word level "
    "(the phrase-merge form of curation.py bpe_pair_counts' first "
    "iteration): per round, count adjacent token pairs corpus-wide, "
    "take THE top pair (TakeOrderedAndProject, full count-desc/pair-asc "
    "tiebreak), broadcast it, and apply the greedy non-overlapping "
    "merge with plain replace() on a doubled-space token string (no "
    "regex — RE2 lacks lookaround; boundary safety comes from the "
    "spacing invariant). Each round is one linear scan + one bounded "
    "broadcast — the shape an N-round distributed tokenizer trainer "
    "needs. Emits (round, left_sym, right_sym, pair_count).",
    oracle=f"""
        WITH t0 AS (
          SELECT doc_id,
                 {_BPE_SEP} || array_to_string(list_filter(
                     string_split(text, ' '), x -> x <> ''), {_BPE_SEP})
                 || {_BPE_SEP} AS t
          FROM documents
        ), toks1 AS (
          SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '')
                     AS a
          FROM t0
        ), pairs1 AS (
          SELECT a[s.i] AS ls, a[s.i + 1] AS rs
          FROM toks1, LATERAL (SELECT unnest(range(1, len(a))) AS i) s
        ), top1 AS MATERIALIZED (
          SELECT ls, rs, CAST(COUNT(*) AS BIGINT) AS c
          FROM pairs1 GROUP BY ls, rs
          ORDER BY c DESC, ls, rs LIMIT 1
        ), t1 AS (
          SELECT t0.doc_id,
                 {_BPE_SEP} || array_to_string(list_filter(string_split(
                     {_bpe_merge_sql('t0.t', 'top1.ls', 'top1.rs')},
                     ' '), x -> x <> ''), {_BPE_SEP}) || {_BPE_SEP} AS t
          FROM t0, top1
        ), toks2 AS (
          SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '')
                     AS a
          FROM t1
        ), pairs2 AS (
          SELECT a[s.i] AS ls, a[s.i + 1] AS rs
          FROM toks2, LATERAL (SELECT unnest(range(1, len(a))) AS i) s
        ), top2 AS MATERIALIZED (
          SELECT ls, rs, CAST(COUNT(*) AS BIGINT) AS c
          FROM pairs2 GROUP BY ls, rs
          ORDER BY c DESC, ls, rs LIMIT 1
        )
        SELECT CAST(1 AS BIGINT) AS round, ls AS left_sym, rs AS right_sym,
               c AS pair_count
        FROM top1
        UNION ALL
        SELECT CAST(2 AS BIGINT), ls, rs, c FROM top2
        ORDER BY round
    """,
)
def bpe_merge_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "'  ' || array_join(filter(split(text, ' '), x -> x != ''), '  ')"
        " || '  ' AS t",
    )

    def pair_counts(tdf: DataFrame) -> DataFrame:
        toks = tdf.selectExpr("filter(split(t, ' '), x -> x != '') AS a")
        pairs = toks.selectExpr(
            "explode(IF(size(a) < 2, array(),"
            " transform(sequence(1, size(a) - 1),"
            " i -> struct(a[i - 1] AS ls, a[i] AS rs)))) AS p"
        ).select("p.ls", "p.rs")
        return pairs.groupBy("ls", "rs").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )

    top1 = pair_counts(docs).orderBy(F.desc("c"), "ls", "rs").limit(1)
    merged1 = docs.crossJoin(F.broadcast(top1.selectExpr("ls AS m_ls", "rs AS m_rs"))).selectExpr(
        "doc_id",
        "'  ' || array_join(filter(split("
        + _bpe_merge_sql("t", "m_ls", "m_rs")
        + ", ' '), x -> x != ''), '  ') || '  ' AS t",
    )
    top2 = pair_counts(merged1).orderBy(F.desc("c"), "ls", "rs").limit(1)
    r1 = top1.selectExpr(
        "CAST(1 AS BIGINT) AS round",
        "ls AS left_sym",
        "rs AS right_sym",
        "c AS pair_count",
    )
    r2 = top2.selectExpr(
        "CAST(2 AS BIGINT) AS round",
        "ls AS left_sym",
        "rs AS right_sym",
        "c AS pair_count",
    )
    return r1.unionByName(r2).orderBy("round")


# Mahalanobis distance from exact integer moment sums; x is DOLLAR-
# quantized (not cents) so sum-of-squares stays under 2^53 through sf1
# (1e5^2 x 6e6 rows ~ 6e16 needs bigint, double cast of the SUM is exact
# only to 2^53 — dollars give 1e10 x 6e6 = 6e16... see doc).
_MD2 = (
    "((vyy * dx - vxy * dy) * dx + (vxx * dy - vxy * dx) * dy) / det"
)


@register(
    name="mahalanobis_outliers_2d",
    survey="A7 O4 F28",
    doc="Top-20 bivariate outliers of (extended price, quantity) by "
    "Mahalanobis distance: one linear scan collects exact BIGINT "
    "moments (n, Sx, Sy, Sxx, Syy, Sxy) over dollar-quantized price "
    "and integer quantity; the 2x2 covariance is inverted in closed "
    "form and broadcast as one row; a second scan computes d^2 per "
    "row and TakeOrderedAndProject keeps 20 (full orderkey/linenumber "
    "tiebreak). The d^2 doubles come from identical expression trees "
    "on both engines. Integer headroom: dollar^2 sums reach ~6e14 at "
    "sf0.1 (2^63 exact; the double cast is exact below 2^53, holding "
    "through sf1 — beyond that, rebase to kilodollars as exact.py "
    "prescribes).",
    oracle="""
        WITH v AS (
          SELECT l_orderkey, l_linenumber,
                 CAST(ROUND(l_extendedprice) AS BIGINT) AS x,
                 CAST(ROUND(l_quantity) AS BIGINT) AS y
          FROM lineitem
        ), m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM v
        ), c AS (
          SELECT n,
                 CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
                 CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
                 (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vxx,
                 (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vyy,
                 (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vxy
          FROM m
        ), d AS (
          SELECT c.*, vxx * vyy - vxy * vxy AS det FROM c
        ), scored AS (
          SELECT v.l_orderkey, v.l_linenumber, v.x, v.y,
                 ((vyy * (CAST(v.x AS DOUBLE) - mx)
                     - vxy * (CAST(v.y AS DOUBLE) - my))
                    * (CAST(v.x AS DOUBLE) - mx)
                  + (vxx * (CAST(v.y AS DOUBLE) - my)
                     - vxy * (CAST(v.x AS DOUBLE) - mx))
                    * (CAST(v.y AS DOUBLE) - my)) / det AS md2
          FROM v, d
        )
        SELECT l_orderkey, l_linenumber, x AS price_dollars, y AS qty, md2
        FROM scored
        ORDER BY md2 DESC, l_orderkey, l_linenumber
        LIMIT 20
    """,
)
def mahalanobis_outliers_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        "l_linenumber",
        "CAST(ROUND(l_extendedprice) AS BIGINT) AS x",
        "CAST(ROUND(l_quantity) AS BIGINT) AS y",
    )
    m = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
    )
    c = m.selectExpr(
        "n",
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx",
        "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my",
        "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vxx",
        "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vyy",
        "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vxy",
    ).withColumn("det", F.expr("vxx * vyy - vxy * vxy"))
    scored = v.crossJoin(F.broadcast(c)).selectExpr(
        "l_orderkey",
        "l_linenumber",
        "x",
        "y",
        "((vyy * (CAST(x AS DOUBLE) - mx) - vxy * (CAST(y AS DOUBLE) - my))"
        " * (CAST(x AS DOUBLE) - mx)"
        " + (vxx * (CAST(y AS DOUBLE) - my) - vxy * (CAST(x AS DOUBLE) - mx))"
        " * (CAST(y AS DOUBLE) - my)) / det AS md2",
    )
    return (
        scored.selectExpr(
            "l_orderkey", "l_linenumber", "x AS price_dollars", "y AS qty", "md2"
        )
        .orderBy(F.desc("md2"), "l_orderkey", "l_linenumber")
        .limit(20)
    )


# Deterministic pseudo-coordinates in [0, 1): the md5 hash family gives
# every entity a stable position, so the spatial-join PATTERN (grid
# blocking + neighbor-cell equi-join + exact refine) is exercised and
# oracle-checkable without a geo column in the fixtures.
_XY = (
    "CAST(CAST({h} AS BIGINT) % 1000000 AS DOUBLE) / 1000000.0"
)
_R = 0.02  # join radius; grid cell size == radius => 3x3 neighbor probe


def _spark_xy(prefix: str, key: str) -> tuple[str, str]:
    hx = f"conv(substr(md5('{prefix}x-' || CAST({key} AS STRING)), 1, 15), 16, 10)"
    hy = f"conv(substr(md5('{prefix}y-' || CAST({key} AS STRING)), 1, 15), 16, 10)"
    return _XY.format(h=hx), _XY.format(h=hy)


def _duck_xy(prefix: str, key: str) -> tuple[str, str]:
    hx = (
        f"CAST('0x' || substr(md5('{prefix}x-' || CAST({key} AS VARCHAR)), 1, 15)"
        f" AS BIGINT)"
    )
    hy = (
        f"CAST('0x' || substr(md5('{prefix}y-' || CAST({key} AS VARCHAR)), 1, 15)"
        f" AS BIGINT)"
    )
    return _XY.format(h=hx), _XY.format(h=hy)


@register(
    name="grid_spatial_join",
    survey="J6 J8 A7 F28",
    doc="Distributed spatial (radius) join via grid blocking: suppliers "
    "and customers get deterministic md5 pseudo-coordinates in the unit "
    "square; each point maps to a radius-sized grid cell, the PROBE "
    "side replicates to its 3x3 neighbor cells (explode of a 9-element "
    "literal array), candidates meet in a plain EQUI-join on the cell "
    "key, and an exact L2 filter refines. This is the standard "
    "all-to-all-free spatial join: shuffle is linear in points x 9, "
    "never |A| x |B|. The ORACLE deliberately uses the naive quadratic "
    "distance join — two different algorithms must produce identical "
    "neighbor sets. Output: per-supplier neighbor count and min "
    "squared distance (IEEE-exact products).",
    oracle=f"""
        WITH c AS (
          SELECT c_custkey,
                 {_duck_xy("c", "c_custkey")[0]} AS x,
                 {_duck_xy("c", "c_custkey")[1]} AS y
          FROM customer
        ), s AS (
          SELECT s_suppkey,
                 {_duck_xy("s", "s_suppkey")[0]} AS x,
                 {_duck_xy("s", "s_suppkey")[1]} AS y
          FROM supplier
        )
        SELECT s.s_suppkey,
               CAST(COUNT(*) AS BIGINT) AS n_within,
               MIN((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y))
                   AS min_dist2
        FROM s JOIN c
          ON (s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)
             <= {_R} * {_R}
        GROUP BY s.s_suppkey
        ORDER BY s.s_suppkey
    """,
)
def grid_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cx, cy = _spark_xy("c", "c_custkey")
    sx, sy = _spark_xy("s", "s_suppkey")
    cust = (
        load(spark, sf_dir, "customer")
        .selectExpr("c_custkey", f"{cx} AS x", f"{cy} AS y")
        .selectExpr(
            "c_custkey",
            "x",
            "y",
            f"CAST(floor(x / {_R}) AS BIGINT) AS gx",
            f"CAST(floor(y / {_R}) AS BIGINT) AS gy",
        )
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .selectExpr("s_suppkey", f"{sx} AS x", f"{sy} AS y")
        .selectExpr(
            "s_suppkey",
            "x AS sx",
            "y AS sy",
            f"CAST(floor(x / {_R}) AS BIGINT) AS g0x",
            f"CAST(floor(y / {_R}) AS BIGINT) AS g0y",
        )
        .selectExpr(
            "s_suppkey",
            "sx",
            "sy",
            "explode(array(-1, 0, 1)) AS dx",
            "g0x",
            "g0y",
        )
        .selectExpr(
            "s_suppkey",
            "sx",
            "sy",
            "g0x + dx AS gx",
            "explode(array(g0y - 1, g0y, g0y + 1)) AS gy",
        )
    )
    joined = supp.join(cust, ["gx", "gy"]).where(
        F.expr(f"(sx - x) * (sx - x) + (sy - y) * (sy - y) <= {_R} * {_R}")
    )
    return (
        joined.groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_within"),
            F.min(F.expr("(sx - x) * (sx - x) + (sy - y) * (sy - y)")).alias(
                "min_dist2"
            ),
        )
        .orderBy("s_suppkey")
    )


@register(
    name="ips_offline_policy_value",
    survey="A7 F28 J5",
    doc="Counterfactual (off-policy) evaluation via inverse-propensity "
    "scoring: the event log is treated as a logged uniform-ish policy "
    "(empirical propensity p(a) = n_a / N), the target policy is a "
    "deterministic context rule (purchase for even user_id, click for "
    "odd), and the IPS / self-normalized SNIPS estimates of the target "
    "policy's expected reward come from exact BIGINT cell sums: rows "
    "collapse to (action, target-matched) cells, so every ratio is "
    "integer/integer with an identical double expression tree. "
    "Effective sample size (sum w)^2 / sum w^2 quantifies the "
    "propensity mismatch. One linear scan, bounded cell domain. NO "
    "cross-cell double summation: each per-action term is quantized by "
    "INTEGER division (micro for IPS/w/w2, with the shared-subterm "
    "staging written identically in both engines) and summed as "
    "BIGINT; only the final readout divides doubles. Headroom: "
    "cents_m x 1e6 < 2^63 through sf1; beyond, drop the quantization "
    "scale or widen to decimal(38,0).",
    oracle="""
        WITH v AS (
          SELECT event_type AS a,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents,
                 CASE WHEN (user_id % 2 = 0 AND event_type = 'purchase')
                        OR (user_id % 2 = 1 AND event_type = 'click')
                      THEN 1 ELSE 0 END AS matched
          FROM events
        ), na AS (
          SELECT a, CAST(COUNT(*) AS BIGINT) AS n_a FROM v GROUP BY a
        ), cells AS (
          SELECT v.a, CAST(SUM(v.matched) AS BIGINT) AS n_m,
                 CAST(SUM(CASE WHEN v.matched = 1 THEN v.cents ELSE 0 END)
                      AS BIGINT) AS cents_m
          FROM v GROUP BY v.a
        ), tot AS (
          SELECT CAST(SUM(n_a) AS BIGINT) AS n FROM na
        ), terms AS (
          SELECT t.n,
                 (c.cents_m * 1000000) // na.n_a AS ips_micro,
                 ((c.n_m * 1000000) // na.n_a) * t.n AS w_micro,
                 ((c.cents_m * 1000) // na.n_a) * t.n AS wr_milli,
                 ((((c.n_m * 1000000) // na.n_a) * t.n) // na.n_a) * t.n
                     AS w2_micro
          FROM cells c JOIN na ON na.a = c.a CROSS JOIN tot t
        ), agg AS (
          SELECT n,
                 CAST(SUM(ips_micro) AS BIGINT) AS s_ips,
                 CAST(SUM(w_micro) AS BIGINT) AS s_w,
                 CAST(SUM(wr_milli) AS BIGINT) AS s_wr,
                 CAST(SUM(w2_micro) AS BIGINT) AS s_w2
          FROM terms GROUP BY n
        )
        SELECT n,
               CAST(s_ips AS DOUBLE) / 1000000.0 / 100.0
                   AS ips_value_dollars,
               CAST(s_wr AS DOUBLE) * 1000.0 / CAST(s_w AS DOUBLE) / 100.0
                   AS snips_value_dollars,
               CAST(s_w AS DOUBLE) * CAST(s_w AS DOUBLE)
                 / CAST(s_w2 AS DOUBLE) / 1000000.0
                   AS effective_sample_size
        FROM agg
    """,
)
def ips_offline_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load(spark, sf_dir, "events").selectExpr(
        "event_type AS a",
        "CAST(ROUND(value * 100) AS BIGINT) AS cents",
        "CASE WHEN (user_id % 2 = 0 AND event_type = 'purchase')"
        " OR (user_id % 2 = 1 AND event_type = 'click')"
        " THEN 1 ELSE 0 END AS matched",
    )
    na = v.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    cells = v.groupBy("a").agg(
        F.sum("matched").cast("bigint").alias("n_m"),
        F.sum(F.expr("CASE WHEN matched = 1 THEN cents ELSE 0 END"))
        .cast("bigint")
        .alias("cents_m"),
    )
    tot = na.agg(F.sum("n_a").cast("bigint").alias("n"))
    terms = (
        cells.join(F.broadcast(na), "a")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "n",
            "(cents_m * 1000000) div n_a AS ips_micro",
            "((n_m * 1000000) div n_a) * n AS w_micro",
            "((cents_m * 1000) div n_a) * n AS wr_milli",
            "((((n_m * 1000000) div n_a) * n) div n_a) * n AS w2_micro",
        )
    )
    agg = terms.groupBy("n").agg(
        F.sum("ips_micro").cast("bigint").alias("s_ips"),
        F.sum("w_micro").cast("bigint").alias("s_w"),
        F.sum("wr_milli").cast("bigint").alias("s_wr"),
        F.sum("w2_micro").cast("bigint").alias("s_w2"),
    )
    return agg.selectExpr(
        "n",
        "CAST(s_ips AS DOUBLE) / 1000000.0 / 100.0 AS ips_value_dollars",
        "CAST(s_wr AS DOUBLE) * 1000.0 / CAST(s_w AS DOUBLE) / 100.0"
        " AS snips_value_dollars",
        "CAST(s_w AS DOUBLE) * CAST(s_w AS DOUBLE) / CAST(s_w2 AS DOUBLE)"
        " / 1000000.0 AS effective_sample_size",
    )


@register(
    name="ransac_line_fit",
    survey="A7 J6 O4 F15 F28",
    doc="Deterministic RANSAC line fit of daily event revenue vs day "
    "index, ENTIRELY in integer arithmetic: the row population first "
    "collapses to the bounded daily-total table, candidate models are "
    "ALL day pairs (exhaustive RANSAC is affordable and deterministic "
    "on a bounded model domain — no RNG), and the inlier test clears "
    "the slope fraction by cross-multiplication: a day (x, y) is an "
    "inlier of the (x1,y1)-(x2,y2) line iff |(y-y1)(x2-x1) - "
    "(x-x1)(y2-y1)| <= tol * (x2-x1) — exact BIGINTs, no epsilon. "
    "Models x days is a bounded broadcast nested evaluation; the best "
    "model is TakeOrdered with a full tiebreak. Only the readout "
    "slope/intercept are doubles.",
    oracle="""
        WITH daily AS (
          SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                     AS x,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                     AS y
          FROM events GROUP BY 1
        ), models AS (
          SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
          FROM daily a JOIN daily b ON b.x > a.x
        ), scored AS (
          SELECT m.x1, m.y1, m.x2, m.y2,
                 CAST(SUM(CASE WHEN abs((d.y - m.y1) * (m.x2 - m.x1)
                                  - (d.x - m.x1) * (m.y2 - m.y1))
                               <= 75000 * (m.x2 - m.x1)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
          FROM models m CROSS JOIN daily d
          GROUP BY m.x1, m.y1, m.x2, m.y2
        ), best AS (
          SELECT * FROM scored
          ORDER BY n_inliers DESC, x1, x2 LIMIT 1
        )
        SELECT x1 AS anchor_day_1, x2 AS anchor_day_2, n_inliers,
               CAST(y2 - y1 AS DOUBLE) / CAST(x2 - x1 AS DOUBLE) / 100.0
                   AS slope_dollars_per_day,
               (CAST(y1 AS DOUBLE)
                - CAST(x1 AS DOUBLE) * CAST(y2 - y1 AS DOUBLE)
                  / CAST(x2 - x1 AS DOUBLE)) / 100.0
                   AS intercept_dollars
        FROM best
    """,
)
def ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "datediff(CAST(ts AS DATE), DATE '2024-01-01') AS x",
            "CAST(ROUND(value * 100) AS BIGINT) AS cents",
        )
        .groupBy("x")
        .agg(F.sum("cents").cast("bigint").alias("y"))
    )
    models = (
        daily.alias("a")
        .join(daily.alias("b"), F.col("b.x") > F.col("a.x"))
        .selectExpr("a.x AS x1", "a.y AS y1", "b.x AS x2", "b.y AS y2")
    )
    scored = (
        models.crossJoin(F.broadcast(daily.selectExpr("x AS dx", "y AS dy")))
        .groupBy("x1", "y1", "x2", "y2")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN abs((dy - y1) * (x2 - x1)"
                    " - (dx - x1) * (y2 - y1)) <= 75000 * (x2 - x1)"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_inliers")
        )
    )
    best = scored.orderBy(F.desc("n_inliers"), "x1", "x2").limit(1)
    return best.selectExpr(
        "x1 AS anchor_day_1",
        "x2 AS anchor_day_2",
        "n_inliers",
        "CAST(y2 - y1 AS DOUBLE) / CAST(x2 - x1 AS DOUBLE) / 100.0"
        " AS slope_dollars_per_day",
        "(CAST(y1 AS DOUBLE) - CAST(x1 AS DOUBLE) * CAST(y2 - y1 AS DOUBLE)"
        " / CAST(x2 - x1 AS DOUBLE)) / 100.0 AS intercept_dollars",
    )


@register(
    name="federated_median_audit",
    survey="A7 F28",
    doc="Accuracy audit of the federated-quantile shortcut: the exact "
    "per-event-type medians (computed group-local, as a federated site "
    "would) are median-combined and compared against the TRUE global "
    "median. Both medians interpolate even counts identically (mean of "
    "the two middles — exact .5 doubles from integer cents). The audit "
    "quantifies what the shortcut loses; the scale-exact alternative is "
    "exact_median_two_phase. Per-group percentile sorts are bounded by "
    "group size; the combine step is a 5-cell bounded aggregate.",
    oracle="""
        WITH v AS (
          SELECT event_type,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ), per_t AS (
          SELECT event_type, median(cents) AS m FROM v GROUP BY event_type
        ), fed AS (
          SELECT median(m) AS fed_median_cents FROM per_t
        ), tru AS (
          SELECT median(cents) AS true_median_cents FROM v
        )
        SELECT fed.fed_median_cents / 100.0 AS fed_median_dollars,
               tru.true_median_cents / 100.0 AS true_median_dollars,
               abs(fed.fed_median_cents - tru.true_median_cents) / 100.0
                   AS abs_error_dollars
        FROM fed, tru
    """,
)
def federated_median_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(ROUND(value * 100) AS BIGINT) AS cents"
    )
    per_t = v.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("m")
    )
    fed = per_t.agg(F.expr("percentile(m, 0.5)").alias("fed_median_cents"))
    tru = v.agg(F.expr("percentile(cents, 0.5)").alias("true_median_cents"))
    return (
        fed.crossJoin(tru)
        .selectExpr(
            "fed_median_cents / 100.0 AS fed_median_dollars",
            "true_median_cents / 100.0 AS true_median_dollars",
            "abs(fed_median_cents - true_median_cents) / 100.0"
            " AS abs_error_dollars",
        )
    )


@register(
    name="arrow_token_profile",
    survey="UD4 A7 F28",
    doc="mapInArrow vectorized stage (the zero-copy sibling of "
    "mapInPandas — batches stay pyarrow RecordBatches, no pandas "
    "conversion): per-document token counts computed with "
    "pyarrow.compute list/split kernels, then aggregated per source "
    "with exact BIGINT sums. The oracle recomputes the same counts in "
    "pure SQL, pinning the Arrow kernel semantics (split on single "
    "space, empty tokens dropped) cross-engine. Arrow batch shape and "
    "column pruning (only doc_id/source/text reach Python) are the "
    "scale-relevant properties.",
    oracle="""
        WITH t AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                      x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
               CAST(MAX(n_tok) AS BIGINT) AS max_tokens
        FROM t GROUP BY source
        ORDER BY source
    """,
)
def arrow_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def count_tokens(batches):
        import numpy as np
        import pyarrow.compute as pc

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            split = pc.split_pattern(tbl.column("text"), pattern=" ")
            # Non-empty tokens per row = list length minus the number of
            # empty strings, re-aggregated per row via the list offsets
            # (all Arrow/numpy kernels — no Python per-row loop).
            la = split.combine_chunks()
            total = np.asarray(pc.list_value_length(la), dtype=np.int64)
            empty = np.asarray(pc.equal(pc.list_flatten(la), ""), dtype=np.int64)
            off = np.asarray(la.offsets)
            emp_cum = np.concatenate([[0], np.cumsum(empty)])
            n_tok = total - (emp_cum[off[1:]] - emp_cum[off[:-1]])
            yield pa.RecordBatch.from_arrays(
                [
                    tbl.column("source").combine_chunks(),
                    pa.array(n_tok, type=pa.int64()),
                ],
                names=["source", "n_tok"],
            )

    docs = load(spark, sf_dir, "documents").select("source", "text")
    profiled = docs.mapInArrow(count_tokens, schema="source string, n_tok long")
    return (
        profiled.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.min("n_tok").cast("bigint").alias("min_tokens"),
            F.max("n_tok").cast("bigint").alias("max_tokens"),
        )
        .orderBy("source")
    )


@register(
    name="python_datasource_feed",
    survey="S4 S9 A7 F28 UD1",
    doc="Custom connector through the Spark 4 Python Data Source API "
    "(sources/python_datasource.py): the synthetic notice feed is a "
    "registered spark.read.format('notice_feed') source whose "
    "partitions() yields one InputPartition per page, so executors "
    "generate pages in parallel — the DataFrame-native form of the "
    "reference's paginated HTTP ingest loop. Every field is a pure md5 "
    "function of the row id, so the DuckDB oracle REGENERATES the "
    "entire feed from generate_series with identical arithmetic and "
    "must aggregate to the same per-region totals — connector, "
    "partitioning, and schema all differentially checked. Fixed n=2000 "
    "over 8 pages (a connector contract, not an sf-scaled table).",
    oracle="""
        WITH feed AS (
          SELECT i AS notice_id,
                 ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']
                   [(CAST('0x' || substr(md5('nfr-' || CAST(i AS VARCHAR)),
                          1, 15) AS BIGINT) % 5) + 1] AS region,
                 CAST('0x' || substr(md5('nfa-' || CAST(i AS VARCHAR)),
                      1, 15) AS BIGINT) % 10000000 AS amount_cents,
                 DATE '2024-01-01'
                   + CAST(CAST('0x' || substr(md5('nfd-' ||
                         CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 365
                     AS INTEGER) AS published
          FROM generate_series(0, 1999) t(i)
        )
        SELECT region,
               CAST(COUNT(*) AS BIGINT) AS n_notices,
               CAST(SUM(amount_cents) AS BIGINT) AS total_cents,
               CAST(min(notice_id) AS BIGINT) AS min_id,
               CAST(date_diff('day', DATE '2024-01-01', min(published))
                    AS BIGINT) AS min_pub_day,
               CAST(date_diff('day', DATE '2024-01-01', max(published))
                    AS BIGINT) AS max_pub_day
        FROM feed
        GROUP BY region
        ORDER BY region
    """,
)
def python_datasource_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.sources.python_datasource import (
        register_notice_feed,
    )

    register_notice_feed(spark)
    feed = (
        spark.read.format("notice_feed")
        .option("n", 2000)
        .option("pages", 8)
        .load()
    )
    return (
        feed.groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_notices"),
            F.sum("amount_cents").cast("bigint").alias("total_cents"),
            F.min("notice_id").cast("bigint").alias("min_id"),
            F.datediff(F.min("published"), F.lit("2024-01-01"))
            .cast("bigint")
            .alias("min_pub_day"),
            F.datediff(F.max("published"), F.lit("2024-01-01"))
            .cast("bigint")
            .alias("max_pub_day"),
        )
        .orderBy("region")
    )


@register(
    name="variant_props_decode",
    survey="F22 A7 P6 P8",
    doc="Semi-structured decoding through the Spark 4 VARIANT type: "
    "parse_json lifts events.props into a variant, variant_get "
    "extracts typed paths ('$.k' as bigint), try_variant_get returns "
    "null (not an error) for a missing path — the shape-tolerant "
    "ingestion the F22/from_json row does with a declared schema, now "
    "schemaless. At 100 TB VARIANT's binary encoding decodes once at "
    "scan time instead of re-parsing JSON text per expression. The "
    "oracle uses DuckDB's json_extract on identical paths; outputs "
    "are engine-neutral integers.",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               CAST(SUM(CASE WHEN json_extract_string(props, '$.absent')
                             IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_absent_path,
               CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k')
                                       AS BIGINT) % 2 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_even_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def variant_props_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").selectExpr(
        "event_type",
        "parse_json(props) AS v",
    )
    decoded = ev.selectExpr(
        "event_type",
        "variant_get(v, '$.k', 'bigint') AS k",
        "try_variant_get(v, '$.absent', 'string') AS absent",
    )
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.sum(F.expr("CASE WHEN absent IS NULL THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_absent_path"),
            F.sum(F.expr("CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_even_k"),
        )
        .orderBy("event_type")
    )


@register(
    name="python_datasource_stream_feed",
    survey="S4 ST5 ST1 A7 UD1",
    eager=True,
    doc="The same Python Data Source consumed through its STREAMING face "
    "(SimpleDataSourceStreamReader): offsets are page cursors, each "
    "micro-batch advances one 500-row page, readBetweenOffsets replays "
    "ranges deterministically (the checkpoint-recovery contract), and a "
    "complete-mode aggregation drains into a memory sink until the "
    "finite feed is exhausted. Complete mode makes the final table "
    "batch-identical however the pages landed in micro-batches, so the "
    "SAME DuckDB feed-regeneration oracle checks the streaming path "
    "end-to-end. Two 1000-row pages at n=2000 (r09, was four 500-row "
    "pages: the final table is page-size-invariant by the complete-mode "
    "argument above, the multi-page offset walk still exercises, and "
    "each micro-batch costs ~1.5s of fixed overhead at bench time; the "
    "finer-grained readBetweenOffsets replay contract is pinned "
    "separately in tests).",
    oracle="""
        WITH feed AS (
          SELECT i AS notice_id,
                 ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']
                   [(CAST('0x' || substr(md5('nfr-' || CAST(i AS VARCHAR)),
                          1, 15) AS BIGINT) % 5) + 1] AS region,
                 CAST('0x' || substr(md5('nfa-' || CAST(i AS VARCHAR)),
                      1, 15) AS BIGINT) % 10000000 AS amount_cents
          FROM generate_series(0, 1999) t(i)
        )
        SELECT region,
               CAST(COUNT(*) AS BIGINT) AS n_notices,
               CAST(SUM(amount_cents) AS BIGINT) AS total_cents
        FROM feed
        GROUP BY region
        ORDER BY region
    """,
)
def python_datasource_stream_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib

    from uk_procurement_data_pipeline_spark.queries.events import _drain
    from uk_procurement_data_pipeline_spark.sources.python_datasource import (
        register_notice_feed,
    )

    register_notice_feed(spark)
    qname = f"pyds_stream_{zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF:08x}"
    n = 2000
    src = (
        spark.readStream.format("notice_feed")
        .option("n", n)
        .option("page_rows", 1000)
        .load()
    )
    agg = src.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_notices"),
        F.sum("amount_cents").cast("bigint").alias("total_cents"),
    )
    # The offsets are page cursors, so the drain waits for cursor >= n:
    # the final page is then already in the complete-mode table.
    return _drain(agg, qname, "complete", rows=n).orderBy("region")


@register(
    name="iter_udf_source_normalize",
    survey="UD4 A7 F28",
    doc="Iterator-form Pandas UDF (SCALAR_ITER): the Iterator[pd.Series] "
    "-> Iterator[pd.Series] signature lets per-WORKER initialization "
    "(here a compiled regex, standing in for a tokenizer/model load) "
    "happen once per Python worker instead of once per batch — the "
    "shape that matters when the init is 100s of ms and a 100 TB scan "
    "has millions of batches. Normalizes source labels (digits -> '#') "
    "and aggregates; the oracle mirrors with SQL regexp_replace, "
    "pinning the UDF's semantics.",
    oracle="""
        SELECT regexp_replace(source, '[0-9]+', '#', 'g') AS norm_source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
        ORDER BY 1
    """,
)
def iter_udf_source_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Iterator/pd live in MODULE globals (imports at the top of this
    # file): pandas_udf resolves the postponed string annotations with
    # typing.get_type_hints against the function's globals, so names
    # imported only inside this enclosing function would not resolve.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def normalize(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        pat = re.compile(r"[0-9]+")  # once per worker, amortized
        for s in batches:
            yield s.str.replace(pat, "#", regex=True)

    docs = load(spark, sf_dir, "documents").select("source", "n_chars")
    return (
        docs.withColumn("norm_source", normalize(F.col("source")))
        .groupBy("norm_source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("norm_source")
    )


@register(
    name="recursive_cte_reachability",
    survey="J6 A8 A7 U1",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="Bounded-hop transitive closure with a RECURSIVE CTE (Spark 4 "
    "WITH RECURSIVE — the SQL-native form of the unrolled BFS joins in "
    "functions/graph.py): from seed supplier 1, walk the co-supply "
    "graph (suppliers sharing a part, built by one self-join of the "
    "distinct part->supplier postings) for two hops and count the "
    "DISTINCT frontier per hop. The hop bound terminates the recursion "
    "independent of cycles (UNION ALL + WHERE hop < 2), and the final "
    "distinct-min collapse makes path multiplicity irrelevant to the "
    "answer. At 100 TB the same recursion shape holds: each step is an "
    "equi-join against the edge list, path fan-out capped by the hop "
    "bound. DuckDB runs the identical recursive SQL.",
    oracle="""
        WITH RECURSIVE edges AS (
          SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey
        ), walk(node, hop) AS (
          SELECT CAST(1 AS BIGINT) AS node, 0 AS hop
          UNION ALL
          SELECT e.dst, w.hop + 1
          FROM walk w JOIN edges e ON e.src = w.node
          WHERE w.hop < 2
        ), best AS (
          SELECT node, CAST(MIN(hop) AS BIGINT) AS first_hop FROM walk
          GROUP BY node
        )
        SELECT first_hop, CAST(COUNT(*) AS BIGINT) AS n_reached
        FROM best GROUP BY first_hop ORDER BY first_hop
    """,
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the edge list BEFORE the recursion: a CTE referenced
    # inside the recursive step would be re-planned (and the distinct
    # self-join re-executed) once per iteration — localCheckpoint turns
    # it into a scanned-once table (23s -> ~4s at sf0.1).
    # r12 batch 2 (guide §2.3/§2.4): replace the postings self-join with a
    # per-part collect_set + map-side canonical (s1 < s2) pair explode.
    # The old plan shuffled the distinct postings twice for a sort-merge
    # self-join, emitted ~17M directed pair rows at sf0.1, and pushed all
    # of them through the DISTINCT exchange. The new plan shuffles raw
    # postings ONCE (groupBy part), generates only the s1 < s2 half of
    # each part's pair square map-side (~8.7M rows), dedups that half, and
    # reconstructs both directions AFTER the checkpoint with a 2-row
    # inline per pair. Same distinct edge set; measured 5.9s -> 3.8s for
    # the build at sf0.1.
    canon = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.collect_set("l_suppkey").alias("ss"))
        .select(F.explode("ss").alias("s1"), "ss")
        .select("s1", F.explode("ss").alias("s2"))
        .where(F.col("s1") < F.col("s2"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = canon.selectExpr(
        "inline(array(struct(s1 AS src, s2 AS dst),"
        " struct(s2 AS src, s1 AS dst)))"
    )
    edges.createOrReplaceTempView("edges_rcte")
    # BROADCAST(w): the frontier is at most the node set (tiny next to the
    # edge list), so each UnionLoop iteration joins broadcast-frontier
    # against a local scan of the pinned edges — the per-iteration shuffle
    # of the full edge list is gone (guide §3.1; recursion 3.4s -> 1.6s).
    return spark.sql(
        """
        WITH RECURSIVE walk(node, hop) AS (
          SELECT CAST(1 AS BIGINT) AS node, 0 AS hop
          UNION ALL
          SELECT /*+ BROADCAST(w) */ e.dst, w.hop + 1
          FROM walk w JOIN edges_rcte e ON e.src = w.node
          WHERE w.hop < 2
        ), best AS (
          SELECT node, CAST(MIN(hop) AS BIGINT) AS first_hop FROM walk
          GROUP BY node
        )
        SELECT first_hop, CAST(COUNT(*) AS BIGINT) AS n_reached
        FROM best GROUP BY first_hop ORDER BY first_hop
        """
    )


@register(
    name="lateral_top2_per_order",
    survey="J3 A10 O4 F15",
    doc="Correlated LATERAL subquery (Spark 4 LATERAL in FROM): the "
    "top-2 lineitems per January-1995 order via a per-row ordered-"
    "limited subquery — the SQL-standard alternative to the window "
    "row_number<=2 idiom (windows.py topk_parts_per_brand). Catalyst "
    "rewrites the lateral into a join + per-group limit, so the plan "
    "stays a shuffled join, not a driver loop. Full (price desc, "
    "linenumber) tiebreak keeps the 2-row set unique. DuckDB executes "
    "the identical lateral SQL.",
    oracle="""
        SELECT o.o_orderkey, t.l_linenumber,
               CAST(ROUND(t.l_extendedprice * 100) AS BIGINT)
                   AS price_cents
        FROM orders o,
        LATERAL (
          SELECT l_linenumber, l_extendedprice
          FROM lineitem
          WHERE lineitem.l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber
          LIMIT 2
        ) t
        WHERE o.o_orderdate >= DATE '1995-01-01'
          AND o.o_orderdate < DATE '1995-02-01'
        ORDER BY o.o_orderkey, price_cents DESC, t.l_linenumber
    """,
)
def lateral_top2_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("ord_lat")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_lat")
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_linenumber,
               CAST(ROUND(t.l_extendedprice * 100) AS BIGINT)
                   AS price_cents
        FROM ord_lat o,
        LATERAL (
          SELECT l_linenumber, l_extendedprice
          FROM li_lat
          WHERE li_lat.l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber
          LIMIT 2
        ) t
        WHERE o.o_orderdate >= DATE '1995-01-01'
          AND o.o_orderdate < DATE '1995-02-01'
        ORDER BY o.o_orderkey, price_cents DESC, t.l_linenumber
        """
    )


@register(
    name="isotonic_calibration_pav",
    survey="A7 W3 J8 F28",
    doc="Isotonic (monotone non-decreasing) calibration of purchase "
    "probability against the value score, via the PAV minimax identity "
    "fit(i) = max_{j<=i} min_{k>=i} avg(y over bins j..k) — no "
    "sequential pooling loop, so the whole fit is a closed-form "
    "composition of joins and windows. Rows collapse FIRST to one cell "
    "per $10 value band (bounded by the value domain, never the row "
    "count), then the band-pair triangle (j <= k) is built by a "
    "broadcast range join over those cells (~56^2 pairs at any SF), a "
    "per-j suffix-min window gives min_{k>=i}, and a per-i max collapses "
    "the triangle. Block averages are IEEE divisions of exact BIGINT "
    "cumulative sums — bit-identical in DuckDB. The output is the "
    "stepwise-monotone calibration curve (pinned monotone in tests).",
    oracle="""
        WITH v AS (
          SELECT CAST(ROUND(value * 100) AS BIGINT) // 1000 AS bin,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                     AS pos
          FROM events
          WHERE event_type IN ('purchase', 'click')
        ), cells AS (
          SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS p
          FROM v GROUP BY bin
        ), idx AS (
          SELECT bin, n, p,
                 CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS i,
                 CAST(SUM(n) OVER (ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
                 CAST(SUM(p) OVER (ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
          FROM cells
        ), pairs AS (
          SELECT a.i AS j, b.i AS k,
                 CAST(b.cp - (a.cp - a.p) AS DOUBLE)
                 / CAST(b.cn - (a.cn - a.n) AS DOUBLE) AS avg_jk
          FROM idx a JOIN idx b ON b.i >= a.i
        ), sufmin AS (
          SELECT j, k,
                 MIN(avg_jk) OVER (PARTITION BY j ORDER BY k DESC
                      ROWS UNBOUNDED PRECEDING) AS m_jk
          FROM pairs
        ), fit AS (
          SELECT k AS i, MAX(m_jk) AS iso_rate FROM sufmin GROUP BY k
        )
        SELECT idx.bin, idx.n AS n_bin, idx.p AS pos_bin, fit.iso_rate
        FROM idx JOIN fit ON fit.i = idx.i
        ORDER BY idx.bin
    """,
)
def isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    cells = (
        ev.select(
            F.expr(f"{_CENTS} div 1000").alias("bin"),
            F.expr(
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            ).alias("pos"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("p"),
        )
    )
    # Unpartitioned windows are safe HERE ONLY because cells is one row
    # per $10 band — bounded by the value domain (plan_lint whitelist).
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    idx = cells.select(
        "bin",
        "n",
        "p",
        F.row_number().over(Window.orderBy("bin")).cast("bigint").alias("i"),
        F.sum("n").over(wcum).cast("bigint").alias("cn"),
        F.sum("p").over(wcum).cast("bigint").alias("cp"),
    )
    a = idx.select(
        F.col("i").alias("j"),
        (F.col("cp") - F.col("p")).alias("cpm"),
        (F.col("cn") - F.col("n")).alias("cnm"),
    )
    b = idx.select(
        F.col("i").alias("k"), F.col("cp").alias("cpk"), F.col("cn").alias("cnk")
    )
    pairs = a.join(F.broadcast(b), F.col("k") >= F.col("j")).select(
        "j",
        "k",
        (
            (F.col("cpk") - F.col("cpm")).cast("double")
            / (F.col("cnk") - F.col("cnm")).cast("double")
        ).alias("avg_jk"),
    )
    wsuf = Window.partitionBy("j").orderBy(F.col("k").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    fit = (
        pairs.select("j", "k", F.min("avg_jk").over(wsuf).alias("m_jk"))
        .groupBy("k")
        .agg(F.max("m_jk").alias("iso_rate"))
    )
    return (
        idx.join(fit, idx["i"] == fit["k"])
        .select(
            "bin",
            F.col("n").alias("n_bin"),
            F.col("p").alias("pos_bin"),
            "iso_rate",
        )
        .orderBy("bin")
    )


_AIPW_T = (
    "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8), 16, 10)"
    " AS BIGINT) % 2"
)
_AIPW_T_DUCK = (
    "CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)"
    " AS BIGINT) % 2"
)


@register(
    name="aipw_doubly_robust_ate",
    survey="A7 J5 F28",
    doc="Doubly-robust (AIPW) average-treatment-effect estimator over a "
    "deterministic md5 order-key split (the repo's standard cohort "
    "hash, cuped_adjusted_lift convention): outcome = order cents, "
    "strata = o_orderpriority. The outcome model is DELIBERATELY coarse "
    "(global treated/control means, ignoring strata) while the "
    "propensity e_s = n1_s/n_s is per-stratum — so the IPW correction "
    "term is non-degenerate and the estimator visibly repairs the "
    "model's bias (with per-stratum outcome means the correction is "
    "algebraically zero). Everything reduces at the first shuffle to "
    "5 stratum rows of exact BIGINT sums; the per-stratum correction "
    "is micro-rounded to integer cents before the final 5-addend sum, "
    "so no double accumulation order can drift cross-engine. One "
    "summary row out.",
    oracle=f"""
        WITH o AS (
          SELECT o_orderpriority AS s,
                 CASE WHEN {_AIPW_T_DUCK} = 0 THEN 1 ELSE 0 END AS t,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
          FROM orders
        ), strata AS (
          SELECT s,
                 CAST(COUNT(*) AS BIGINT) AS n_s,
                 CAST(SUM(t) AS BIGINT) AS n1_s,
                 CAST(SUM(t * y) AS BIGINT) AS sy1_s,
                 CAST(SUM((1 - t) * y) AS BIGINT) AS sy0_s
          FROM o GROUP BY s
        ), g AS (
          SELECT CAST(SUM(n_s) AS BIGINT) AS n,
                 CAST(SUM(n1_s) AS BIGINT) AS n1,
                 CAST(SUM(sy1_s) AS BIGINT) AS sy1,
                 CAST(SUM(n_s - n1_s) AS BIGINT) AS n0,
                 CAST(SUM(sy0_s) AS BIGINT) AS sy0
          FROM strata
        ), corr AS (
          SELECT CAST(SUM(CAST(floor(
                   (CAST(sy1_s AS DOUBLE)
                      - CAST(n1_s AS DOUBLE)
                        * (CAST(g.sy1 AS DOUBLE) / CAST(g.n1 AS DOUBLE)))
                     * CAST(n_s AS DOUBLE) / CAST(n1_s AS DOUBLE)
                   - (CAST(sy0_s AS DOUBLE)
                      - CAST(n_s - n1_s AS DOUBLE)
                        * (CAST(g.sy0 AS DOUBLE) / CAST(g.n0 AS DOUBLE)))
                     * CAST(n_s AS DOUBLE) / CAST(n_s - n1_s AS DOUBLE)
                   + 0.5) AS BIGINT)) AS BIGINT) AS corr_cents
          FROM strata, g
        )
        SELECT g.n AS n_orders,
               CAST(g.sy1 AS DOUBLE) / CAST(g.n1 AS DOUBLE) AS mu1_cents,
               CAST(g.sy0 AS DOUBLE) / CAST(g.n0 AS DOUBLE) AS mu0_cents,
               CAST(g.sy1 AS DOUBLE) / CAST(g.n1 AS DOUBLE)
                 - CAST(g.sy0 AS DOUBLE) / CAST(g.n0 AS DOUBLE)
                   AS ate_naive_cents,
               CAST(corr.corr_cents AS DOUBLE) / CAST(g.n AS DOUBLE)
                   AS dr_correction_cents,
               (CAST(g.sy1 AS DOUBLE) / CAST(g.n1 AS DOUBLE)
                 - CAST(g.sy0 AS DOUBLE) / CAST(g.n0 AS DOUBLE))
                 + CAST(corr.corr_cents AS DOUBLE) / CAST(g.n AS DOUBLE)
                   AS ate_dr_cents
        FROM g, corr
    """,
)
def aipw_doubly_robust_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("s"),
        F.expr(f"CASE WHEN {_AIPW_T} = 0 THEN 1 ELSE 0 END").alias("t"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("y"),
    )
    strata = o.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
        F.sum("t").cast("bigint").alias("n1_s"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sy1_s"),
        F.sum((F.lit(1) - F.col("t")) * F.col("y"))
        .cast("bigint")
        .alias("sy0_s"),
    )
    g = strata.agg(
        F.sum("n_s").cast("bigint").alias("n"),
        F.sum("n1_s").cast("bigint").alias("n1"),
        F.sum("sy1_s").cast("bigint").alias("sy1"),
        F.sum(F.col("n_s") - F.col("n1_s")).cast("bigint").alias("n0"),
        F.sum("sy0_s").cast("bigint").alias("sy0"),
    )
    corr = strata.crossJoin(F.broadcast(g)).agg(
        F.sum(
            F.expr(
                """CAST(floor(
                     (CAST(sy1_s AS DOUBLE)
                        - CAST(n1_s AS DOUBLE)
                          * (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
                       * CAST(n_s AS DOUBLE) / CAST(n1_s AS DOUBLE)
                   - (CAST(sy0_s AS DOUBLE)
                        - CAST(n_s - n1_s AS DOUBLE)
                          * (CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
                       * CAST(n_s AS DOUBLE) / CAST(n_s - n1_s AS DOUBLE)
                   + 0.5) AS BIGINT)"""
            )
        )
        .cast("bigint")
        .alias("corr_cents")
    )
    return (
        g.crossJoin(F.broadcast(corr))
        .select(
            F.col("n").alias("n_orders"),
            F.expr("CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)").alias(
                "mu1_cents"
            ),
            F.expr("CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)").alias(
                "mu0_cents"
            ),
            F.expr(
                "CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
                " - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
            ).alias("ate_naive_cents"),
            F.expr(
                "CAST(corr_cents AS DOUBLE) / CAST(n AS DOUBLE)"
            ).alias("dr_correction_cents"),
            F.expr(
                "(CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
                " - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
                " + CAST(corr_cents AS DOUBLE) / CAST(n AS DOUBLE)"
            ).alias("ate_dr_cents"),
        )
    )


@register(
    name="dbscan_grid_clusters",
    survey="J6 J8 A7 U1",
    eager=True,  # fn materializes the neighbor table and iterates CC; time it honestly
    doc="Density clustering (DBSCAN) at join scale: customers get the "
    "md5 pseudo-coordinates (grid_spatial_join family), the radius is "
    "SCALE-ADAPTIVE (r^2 = 0.6/n, so expected degree stays ~1.9 and "
    "cluster sizes stay bounded at ANY SF — fixed-radius density would "
    "percolate into one giant component as n grows), neighbor pairs "
    "come from the 3x3 grid-cell equi-join (linear shuffle, never "
    "all-pairs), core points have >= 2 neighbors (minPts=3 with self), "
    "core-core components come from the pointer-jumping "
    "connected_components (log-diameter rounds), and border points "
    "join deterministically to the MIN neighboring core cluster "
    "(classic DBSCAN leaves border assignment order-dependent; min() "
    "makes it engine-invariant). The ORACLE runs the naive quadratic "
    "neighbor join plus a full-reachability recursive CTE — two "
    "different algorithms, identical clusters. Output: one row per "
    "cluster (id = min core custkey) with core/border counts.",
    oracle=f"""
        WITH RECURSIVE pts AS (
          SELECT c_custkey AS k,
                 {_duck_xy("c", "c_custkey")[0]} AS x,
                 {_duck_xy("c", "c_custkey")[1]} AS y
          FROM customer
        ), params AS (
          SELECT 0.6 / CAST(COUNT(*) AS DOUBLE) AS r2 FROM pts
        ), nbr AS (
          SELECT a.k AS ka, b.k AS kb
          FROM pts a, pts b, params
          WHERE a.k <> b.k
            AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                <= params.r2
        ), core AS (
          SELECT ka AS k FROM nbr GROUP BY ka HAVING COUNT(*) >= 2
        ), edges AS (
          SELECT n.ka, n.kb FROM nbr n
          WHERE n.ka IN (SELECT k FROM core)
            AND n.kb IN (SELECT k FROM core)
        ), walk(node, lab) AS (
          SELECT k, k FROM core
          UNION
          SELECT e.kb, w.lab FROM walk w JOIN edges e ON e.ka = w.node
        ), comp AS (
          SELECT node, CAST(MIN(lab) AS BIGINT) AS cluster_id
          FROM walk GROUP BY node
        ), ncore AS (
          SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_core
          FROM comp GROUP BY cluster_id
        ), border AS (
          SELECT n.ka AS k, MIN(c.cluster_id) AS cluster_id
          FROM nbr n JOIN comp c ON c.node = n.kb
          WHERE n.ka NOT IN (SELECT k FROM core)
          GROUP BY n.ka
        ), nbord AS (
          SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_border
          FROM border GROUP BY cluster_id
        )
        SELECT ncore.cluster_id, ncore.n_core,
               CAST(COALESCE(nbord.n_border, 0) AS BIGINT) AS n_border
        FROM ncore LEFT JOIN nbord ON nbord.cluster_id = ncore.cluster_id
        ORDER BY ncore.cluster_id
    """,
)
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.graph import (
        connected_components,
    )

    cx, cy = _spark_xy("c", "c_custkey")
    pts = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS k", f"{cx} AS x", f"{cy} AS y"
    )
    params = pts.agg(
        (F.lit(0.6) / F.count(F.lit(1)).cast("double")).alias("r2"),
        F.sqrt(F.lit(0.6) / F.count(F.lit(1)).cast("double")).alias("r"),
    )
    p = pts.crossJoin(F.broadcast(params)).selectExpr(
        "k",
        "x",
        "y",
        "r2",
        "CAST(floor(x / r) AS BIGINT) AS gx",
        "CAST(floor(y / r) AS BIGINT) AS gy",
    )
    # probe side replicates into its 3x3 neighborhood; build side stays
    # put -> every true neighbor pair meets in exactly one cell via a
    # plain equi-join (linear shuffle, the grid_spatial_join pattern)
    probe = p.selectExpr(
        "k AS kb",
        "x AS xb",
        "y AS yb",
        "explode(array(-1, 0, 1)) AS dgx",
        "gx",
        "gy",
    ).selectExpr(
        "kb", "xb", "yb", "gx + dgx AS gx", "explode(array(gy - 1, gy, gy + 1)) AS gy"
    )
    nbr = (
        p.join(probe, ["gx", "gy"])
        .where(
            (F.col("k") != F.col("kb"))
            & (
                (F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb"))
                + (F.col("y") - F.col("yb")) * (F.col("y") - F.col("yb"))
                <= F.col("r2")
            )
        )
        .select(F.col("k").alias("ka"), "kb")
    )
    nbr = nbr.localCheckpoint(eager=True)  # reused 4x below (degree, edges, border)
    core = (
        nbr.groupBy("ka")
        .count()
        .where(F.col("count") >= 2)
        .select(F.col("ka").alias("k"))
    )
    edges = (
        nbr.join(core.withColumnRenamed("k", "ka"), "ka")
        .join(core.withColumnRenamed("k", "kb"), "kb")
        .select(F.col("ka").alias("src"), F.col("kb").alias("dst"))
    )
    # method="label": DBSCAN components are sub-percolation by
    # construction (r^2 = 0.6/n), so diameters are tiny and plain
    # min-label propagation converges in ~3 rounds — the pointer-jumping
    # join would cost more per round than it saves (measured 9.2s vs
    # 5.9s at sf0.1). Deep-chain graphs should still use "jump".
    comp = connected_components(edges, method="label").select(
        F.col("node"), F.col("label").cast("bigint").alias("cluster_id")
    )
    # connected_components drops isolated nodes; a core with no CORE
    # neighbor is its own singleton cluster
    comp = comp.unionByName(
        core.join(comp, core["k"] == comp["node"], "left_anti").select(
            F.col("k").alias("node"), F.col("k").cast("bigint").alias("cluster_id")
        )
    )
    n_core = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core")
    )
    border = (
        nbr.join(core.withColumnRenamed("k", "ka"), "ka", "left_anti")
        .join(comp.withColumnRenamed("node", "kb"), "kb")
        .groupBy("ka")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    n_border = border.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_border")
    )
    return (
        n_core.join(n_border, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_core",
            F.coalesce(F.col("n_border"), F.lit(0)).cast("bigint").alias(
                "n_border"
            ),
        )
        .orderBy("cluster_id")
    )


_PERM_B = 48  # deterministic relabelings = bit-slices 1..48 of one md5


@register(
    name="permutation_test_spend",
    survey="A7 F13 F28",
    doc="Permutation test for the spend difference between two hash "
    "cohorts, with DETERMINISTIC resampling and ONE hash per row: "
    "h = first 60 bits of md5(orderkey); the observed split is bit 0 "
    "and relabeling r in 1..48 is bit r — md5 bits are independent, so "
    "the 48 bit-slices form 48 exchangeable relabelings at 1/64 the "
    "hash cost of hashing (row, rep) pairs (measured: 6.4s -> ~1s at "
    "sf0.1). Both engines enumerate the identical family — no RNG, no "
    "seed plumbing, reproducible across engines and cluster shapes. "
    "The observed statistic is the cents-mean difference; the p-value "
    "is the fraction of relabelings whose |difference| meets or beats "
    "it. Execution shape: explode a 48-element sequence (map-side "
    "fan-out of one bigint), ONE partial+final hash aggregate over "
    "(rep, bit) — 96 cells — then a broadcast compare with the "
    "observed row. At 100 TB you would sample units or drop reps, "
    "both one-line changes.",
    oracle=f"""
        WITH o AS (
          SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                      1, 15) AS BIGINT) AS h,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
          FROM orders
        ), obs AS (
          SELECT CAST(SUM(CASE WHEN (h & 1) = 0 THEN y END) AS DOUBLE)
                   / CAST(COUNT(CASE WHEN (h & 1) = 0 THEN 1 END)
                          AS DOUBLE)
               - CAST(SUM(CASE WHEN (h & 1) = 1 THEN y END) AS DOUBLE)
                   / CAST(COUNT(CASE WHEN (h & 1) = 1 THEN 1 END)
                          AS DOUBLE) AS d_obs
          FROM o
        ), reps AS (
          SELECT r.r, (o.h >> r.r) & 1 AS pgrp, o.y
          FROM o, (SELECT unnest(range(1, {{B}} + 1)) AS r) r
        ), rep_stats AS (
          SELECT r,
                 CAST(SUM(CASE WHEN pgrp = 0 THEN y END) AS DOUBLE)
                   / CAST(COUNT(CASE WHEN pgrp = 0 THEN 1 END) AS DOUBLE)
               - CAST(SUM(CASE WHEN pgrp = 1 THEN y END) AS DOUBLE)
                   / CAST(COUNT(CASE WHEN pgrp = 1 THEN 1 END) AS DOUBLE)
                     AS d_r
          FROM reps GROUP BY r
        )
        SELECT CAST({{B}} AS BIGINT) AS n_reps,
               obs.d_obs AS d_obs_cents,
               CAST(SUM(CASE WHEN abs(d_r) >= abs(obs.d_obs)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
               CAST(SUM(CASE WHEN abs(d_r) >= abs(obs.d_obs)
                             THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST({{B}} AS DOUBLE) AS p_value
        FROM rep_stats, obs
        GROUP BY obs.d_obs
    """.format(B=_PERM_B),
)
def permutation_test_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").selectExpr(
        "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT) AS h",
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y",
    )
    _diff = (
        "CAST(SUM(CASE WHEN {g} = 0 THEN y END) AS DOUBLE)"
        " / CAST(COUNT(CASE WHEN {g} = 0 THEN 1 END) AS DOUBLE)"
        " - CAST(SUM(CASE WHEN {g} = 1 THEN y END) AS DOUBLE)"
        " / CAST(COUNT(CASE WHEN {g} = 1 THEN 1 END) AS DOUBLE)"
    )
    obs = o.agg(F.expr(_diff.format(g="(h & 1)")).alias("d_obs"))
    reps = o.selectExpr(
        f"explode(sequence(1, {_PERM_B})) AS r", "h", "y"
    ).selectExpr("r", "shiftright(h, r) & 1 AS pgrp", "y")
    rep_stats = reps.groupBy("r").agg(
        F.expr(_diff.format(g="pgrp")).alias("d_r")
    )
    return (
        rep_stats.crossJoin(F.broadcast(obs))
        .groupBy("d_obs")
        .agg(
            F.lit(_PERM_B).cast("bigint").alias("n_reps"),
            F.sum(
                F.expr(
                    "CASE WHEN abs(d_r) >= abs(d_obs) THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_extreme"),
            (
                F.sum(
                    F.expr(
                        "CASE WHEN abs(d_r) >= abs(d_obs) THEN 1 ELSE 0 END"
                    )
                ).cast("double")
                / F.lit(float(_PERM_B))
            ).alias("p_value"),
        )
        .select(
            "n_reps",
            F.col("d_obs").alias("d_obs_cents"),
            "n_extreme",
            "p_value",
        )
    )


@register(
    name="brier_reliability_table",
    survey="A7 F28 W3",
    doc="Forecast-calibration reliability table (the per-band view "
    "behind the Murphy decomposition of the Brier score, and the "
    "binned companion to isotonic_calibration_pav): the normalized "
    "value score f = cents/max_cents is a [0,1] 'forecast' of "
    "purchase-vs-click, binned into 20 equal-width bands; each band "
    "reports count, positives, mean forecast and event rate. "
    "Exactness: f is a ratio of exact integers (identical IEEE "
    "division both engines), the band id floor(f*20) is exact, and "
    "every band statistic is a ratio of BIGINT sums — no double is "
    "ever summed across rows. The Murphy REL/RES/UNC identity over "
    "this table is pinned in tests (integer-numerator algebra, "
    "overflow-checked).",
    oracle="""
        WITH v AS (
          SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                     AS pos
          FROM events WHERE event_type IN ('purchase', 'click')
        ), mx AS (
          SELECT MAX(c) AS m FROM v
        ), banded AS (
          SELECT LEAST(CAST(floor(CAST(v.c AS DOUBLE)
                                  / CAST(mx.m AS DOUBLE) * 20)
                            AS INTEGER), 19) AS band,
                 v.c, v.pos
          FROM v, mx
        )
        SELECT CAST(band AS BIGINT) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(c) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE)
                    * CAST((SELECT m FROM mx) AS DOUBLE))
                   AS mean_forecast,
               CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS event_rate
        FROM banded
        GROUP BY band
        ORDER BY band
    """,
)
def brier_reliability_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
            F.expr(
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            ).alias("pos"),
        )
    )
    mx = v.agg(F.max("c").alias("m"))
    banded = v.crossJoin(F.broadcast(mx)).select(
        F.expr(
            "LEAST(CAST(floor(CAST(c AS DOUBLE) / CAST(m AS DOUBLE) * 20)"
            " AS INT), 19)"
        ).alias("band"),
        "c",
        "pos",
        "m",
    )
    return (
        banded.groupBy("band", "m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.sum("c").cast("bigint").alias("sum_c"),
        )
        .select(
            F.col("band").cast("bigint").alias("band"),
            "n_events",
            "n_pos",
            F.expr(
                "CAST(sum_c AS DOUBLE)"
                " / (CAST(n_events AS DOUBLE) * CAST(m AS DOUBLE))"
            ).alias("mean_forecast"),
            F.expr(
                "CAST(n_pos AS DOUBLE) / CAST(n_events AS DOUBLE)"
            ).alias("event_rate"),
        )
        .orderBy("band")
    )


_RD_C = 25_000_000  # cutoff: $250k order value, in cents
_RD_H = 10_000_000  # bandwidth: +/- $100k


@register(
    name="regression_discontinuity_items",
    survey="A7 J6 F28",
    doc="Sharp regression discontinuity at the $250k order-value "
    "cutoff, completing the causal suite (DiD / CUPED / IPS / AIPW): "
    "outcome = lineitems per order, running variable = order cents "
    "CENTERED at the cutoff (u = cents - C, |u| <= $100k bandwidth — "
    "centering keeps every OLS moment sum inside int64; raw-cents "
    "squares would overflow), one closed-form local-linear fit per "
    "side from exact BIGINT moment sums (n, Su, Sy, Suu, Suy), and "
    "the RD estimate is the difference of the two fitted values AT "
    "the cutoff: intercept_u0 = (Suu*Sy - Su*Suy) / (n*Suu - Su^2). "
    "The final ratios multiply exact bigints in IEEE double with an "
    "identical expression tree in DuckDB. Execution: one broadcast-"
    "side-free join orders->lineitem counts, one 2-row aggregate.",
    oracle=f"""
        WITH oc AS (
          SELECT o.o_orderkey,
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                     - {_RD_C} AS u,
                 CAST(COUNT(l.l_orderkey) AS BIGINT) AS y
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY o.o_orderkey, o.o_totalprice
        ), sides AS (
          SELECT CASE WHEN u >= 0 THEN 'right' ELSE 'left' END AS side,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(u) AS BIGINT) AS su,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(u * u) AS BIGINT) AS suu,
                 CAST(SUM(u * y) AS BIGINT) AS suy
          FROM oc
          WHERE u BETWEEN -{_RD_H} AND {_RD_H}
          GROUP BY 1
        ), fits AS (
          SELECT side, n,
                 (CAST(suu AS DOUBLE) * CAST(sy AS DOUBLE)
                  - CAST(su AS DOUBLE) * CAST(suy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
                    - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
                     AS at_cutoff
          FROM sides
        )
        SELECT l.n AS n_left, r.n AS n_right,
               l.at_cutoff AS left_at_cutoff,
               r.at_cutoff AS right_at_cutoff,
               r.at_cutoff - l.at_cutoff AS rd_jump
        FROM (SELECT * FROM fits WHERE side = 'left') l,
             (SELECT * FROM fits WHERE side = 'right') r
    """,
)
def regression_discontinuity_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            f"CAST(ROUND(o_totalprice * 100) AS BIGINT) - {_RD_C}"
        ).alias("u"),
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    oc = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .where(F.col("u").between(-_RD_H, _RD_H))
    )
    sides = oc.groupBy(
        F.expr("CASE WHEN u >= 0 THEN 'right' ELSE 'left' END").alias(
            "side"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("u").cast("bigint").alias("su"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("u") * F.col("u")).cast("bigint").alias("suu"),
        F.sum(F.col("u") * F.col("y")).cast("bigint").alias("suy"),
    )
    fits = sides.select(
        "side",
        "n",
        F.expr(
            "(CAST(suu AS DOUBLE) * CAST(sy AS DOUBLE)"
            " - CAST(su AS DOUBLE) * CAST(suy AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)"
            " - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))"
        ).alias("at_cutoff"),
    )
    left = fits.where("side = 'left'").select(
        F.col("n").alias("n_left"), F.col("at_cutoff").alias("left_at_cutoff")
    )
    right = fits.where("side = 'right'").select(
        F.col("n").alias("n_right"),
        F.col("at_cutoff").alias("right_at_cutoff"),
    )
    return left.crossJoin(F.broadcast(right)).select(
        "n_left",
        "n_right",
        "left_at_cutoff",
        "right_at_cutoff",
        (F.col("right_at_cutoff") - F.col("left_at_cutoff")).alias(
            "rd_jump"
        ),
    )


@register(
    name="gini_mean_difference_per_type",
    survey="A7 W1 F28",
    doc="EXACT Gini mean difference per event type — the all-pairs "
    "mean |x_i - x_j| with NEITHER the quadratic pair join NOR a "
    "per-row rank: rows collapse first to (type, cents) CELLS "
    "(bounded by the value domain), and the order-statistic identity "
    "GMD = 2/(n(n-1)) * sum_i (2i-n-1) x_(i) is summed in closed "
    "form per tied cell — a cell of m copies of x starting at "
    "cumulative position p contributes x*(2(p*m + m(m+1)/2) - "
    "m(n+1)) exactly. The only window runs over cells (per-type "
    "cumulative count), so parallelism is never capped by the 5 "
    "type partitions the naive per-row rank window would funnel "
    "into (measured 2.14x wall at 5x data; the cell form is flat). "
    "Numerator stays an exact BIGINT; the oracle uses the per-row "
    "row_number identity — two different algebras, identical "
    "integers.",
    oracle="""
        WITH v AS (
          SELECT event_type,
                 CAST(ROUND(value * 100) AS BIGINT) AS c,
                 CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY CAST(ROUND(value * 100)
                                                       AS BIGINT),
                                                  event_id) AS BIGINT)
                     AS i,
                 CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                     AS n
          FROM events
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n_events,
               CAST(2 AS DOUBLE)
                 * CAST(SUM((2 * i - n - 1) * c) AS DOUBLE)
                 / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) - 1 AS DOUBLE))
                   AS gmd_cents,
               CAST(SUM(c) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
                   AS mean_cents
        FROM v
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def gini_mean_difference_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cells = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    ranked = cells.select(
        "event_type",
        "c",
        "m",
        (F.sum("m").over(w) - F.col("m")).cast("bigint").alias("p"),
        F.sum("m").over(wn).cast("bigint").alias("n"),
    )
    # tied-cell closed form: sum over rows p+1..p+m of (2i - n - 1) * c
    contrib = ranked.select(
        "event_type",
        "n",
        F.expr(
            "c * (2 * (p * m + m * (m + 1) div 2) - m * (n + 1))"
        ).alias("t"),
        F.expr("c * m").alias("cm"),
    )
    return (
        contrib.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.expr(
                "CAST(2 AS DOUBLE) * CAST(SUM(t) AS DOUBLE)"
                " / (CAST(MAX(n) AS DOUBLE)"
                "    * CAST(MAX(n) - 1 AS DOUBLE))"
            ).alias("gmd_cents"),
            F.expr(
                "CAST(SUM(cm) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)"
            ).alias("mean_cents"),
        )
        .orderBy("event_type")
    )


# Caliper = ~20 expected unit spacings: order values are ~uniform on
# [0, 5e7] cents, so spacing ~ 5e7/n and caliper c = 1e9/n keeps the
# banded join's candidate count ~3*n*(n*c/range) = 60n — LINEAR at any
# SF. A FIXED caliper is density-quadratic: $50k here meant 10 bands
# and a 10M-pair near-cross-join (measured 15s at sf0.01, 27s at
# sf0.1 even at $500); adaptive-c holds ~0.5s at both.
_CALIPER_NUM = 1_000_000_000


@register(
    name="caliper_matching_att",
    survey="A7 J8 W1 F28",
    doc="1-nearest-neighbor caliper matching (with replacement) for "
    "the ATT — the MATCHING member of the causal suite (vs the "
    "weighting of IPS/AIPW and the local fits of RD): treated = md5 "
    "bit cohort, covariate = order cents, outcome = lineitems per "
    "order. Each treated order meets candidate controls through a "
    "caliper-band equi-join (floor(x/c) +/- 1 neighbor bands) whose "
    "caliper c = 1e9/n SHRINKS with unit density, pinning candidates "
    "to ~60 per treated at every SF (the module comment has the "
    "arithmetic; a fixed caliper is density-quadratic and measured "
    "15-27s before this fix). Keeps |dx| <= c and picks the match by "
    "the fully-deterministic (|dx|, control key) tiebreak via one "
    "keyed row_number. ATT = mean over matched treated of (y_t - "
    "y_c), an exact BIGINT difference sum; the unmatched-treated "
    "count is reported — silent caliper drops would bias the "
    "estimand.",
    oracle=f"""
        WITH oc AS (
          SELECT o.o_orderkey AS k,
                 CAST('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)),
                      1, 8) AS BIGINT) % 2 AS t,
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS x,
                 CAST(COUNT(*) AS BIGINT) AS y
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY o.o_orderkey, o.o_totalprice
        ), cal AS (
          SELECT CAST({_CALIPER_NUM} // COUNT(*) AS BIGINT) AS c FROM oc
        ), tr AS (
          SELECT k, x, y, x // cal.c AS band, cal.c FROM oc, cal
          WHERE t = 0
        ), ct AS (
          SELECT k, x, y, x // cal.c + v.d AS band FROM oc, cal,
               (VALUES (-1), (0), (1)) v(d)
          WHERE t = 1
        ), cand AS (
          SELECT tr.k AS tk, tr.y AS ty, ct.k AS ck, ct.y AS cy,
                 abs(tr.x - ct.x) AS dx
          FROM tr JOIN ct ON ct.band = tr.band
          WHERE abs(tr.x - ct.x) <= tr.c
        ), best AS (
          SELECT tk, ty, cy,
                 ROW_NUMBER() OVER (PARTITION BY tk
                                    ORDER BY dx, ck) AS rn
          FROM cand
        ), matched AS (
          SELECT tk, ty - cy AS d FROM best WHERE rn = 1
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tr) AS n_treated,
               CAST(COUNT(*) AS BIGINT) AS n_matched,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM tr)
                 - CAST(COUNT(*) AS BIGINT) AS n_unmatched,
               CAST(SUM(d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS att_items
        FROM matched
    """,
)
def caliper_matching_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 2"
        ).alias("t"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("x"),
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    # r12 optimization (guide §2.3 aggregate before you shuffle): count
    # lineitems per order FIRST (narrow one-column partial+final agg),
    # then join the per-order counts to orders — the old join-then-groupBy
    # shuffled every lineitem row widened by (t, x). The caliper only
    # needs the matched-order count, which equals the aggregated table's
    # row count (fixture referential integrity: every l_orderkey exists
    # in orders), so it reads the cheap side alone.
    ycnt = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    oc = o.join(ycnt, o["o_orderkey"] == ycnt["l_orderkey"]).select(
        "o_orderkey", "t", "x", "y"
    )
    cal = ycnt.agg(
        F.expr(f"CAST({_CALIPER_NUM} div COUNT(*) AS BIGINT)").alias("c")
    )
    occ = oc.crossJoin(F.broadcast(cal))
    tr = occ.where("t = 0").select(
        F.col("o_orderkey").alias("tk"),
        F.col("x").alias("tx"),
        F.col("y").alias("ty"),
        F.col("c"),
        F.expr("x div c").alias("band"),
    )
    ct = occ.where("t = 1").selectExpr(
        "o_orderkey AS ck",
        "x AS cx",
        "y AS cy",
        "explode(array(x div c - 1, x div c, x div c + 1)) AS band",
    )
    cand = (
        tr.join(ct, "band")
        .where(F.expr("abs(tx - cx) <= c"))
        .select("tk", "ty", "ck", "cy", F.expr("abs(tx - cx)").alias("dx"))
    )
    w = Window.partitionBy("tk").orderBy("dx", "ck")
    matched = (
        cand.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("tk", F.expr("ty - cy").alias("d"))
    )
    n_tr = tr.agg(F.count(F.lit(1)).cast("bigint").alias("n_treated"))
    return (
        matched.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.sum("d").cast("bigint").alias("sd"),
        )
        .crossJoin(F.broadcast(n_tr))
        .select(
            "n_treated",
            "n_matched",
            (F.col("n_treated") - F.col("n_matched"))
            .cast("bigint")
            .alias("n_unmatched"),
            F.expr(
                "CAST(sd AS DOUBLE) / CAST(n_matched AS DOUBLE)"
            ).alias("att_items"),
        )
    )


@register(
    name="cochran_armitage_trend",
    survey="A7 F28",
    doc="Cochran-Armitage test for a LINEAR TREND in the purchase "
    "proportion across the five ordered $150 value bands (scores s_b "
    "= 0..4) — the ordered-alternative complement to the omnibus "
    "chi-square (event_type_value_chi2 tests ANY deviation; this "
    "tests monotone dose-response, the right question for 'does "
    "conversion rise with value band'). Z^2 = T^2 / [pbar(1-pbar) "
    "(sum s^2 n - (sum s n)^2 / N)] with T = sum s_b (r_b - R n_b / "
    "N). Every moment is an exact BIGINT from the 5-cell contingency "
    "collapse (one partial+final aggregate over the row population); "
    "the final statistic is a ratio of exact-integer-derived doubles "
    "with an identical expression tree in DuckDB.",
    oracle="""
        WITH v AS (
          SELECT LEAST(CAST(ROUND(value * 100) AS BIGINT) // 15000, 4)
                     AS s,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                     AS pos
          FROM events
          WHERE event_type IN ('purchase', 'click')
        ), cells AS (
          SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS r
          FROM v GROUP BY s
        ), m AS (
          SELECT CAST(SUM(n) AS BIGINT) AS nn,
                 CAST(SUM(r) AS BIGINT) AS rr,
                 CAST(SUM(s * n) AS BIGINT) AS sn,
                 CAST(SUM(s * r) AS BIGINT) AS sr,
                 CAST(SUM(s * s * n) AS BIGINT) AS ssn
          FROM cells
        )
        SELECT nn AS n_total, rr AS n_pos,
               CAST(sr AS DOUBLE)
                 - CAST(rr AS DOUBLE) * CAST(sn AS DOUBLE)
                   / CAST(nn AS DOUBLE) AS trend_t,
               (CAST(sr AS DOUBLE)
                 - CAST(rr AS DOUBLE) * CAST(sn AS DOUBLE)
                   / CAST(nn AS DOUBLE))
               * (CAST(sr AS DOUBLE)
                 - CAST(rr AS DOUBLE) * CAST(sn AS DOUBLE)
                   / CAST(nn AS DOUBLE))
               / ((CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                  * (1 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                  * (CAST(ssn AS DOUBLE)
                     - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
                       / CAST(nn AS DOUBLE))) AS z_squared
        FROM m
    """,
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.expr(
                "LEAST(CAST(ROUND(value * 100) AS BIGINT) div 15000, 4)"
            ).alias("s"),
            F.expr(
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            ).alias("pos"),
        )
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("r"),
        )
    )
    m = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("r").cast("bigint").alias("rr"),
        F.sum(F.col("s") * F.col("n")).cast("bigint").alias("sn"),
        F.sum(F.col("s") * F.col("r")).cast("bigint").alias("sr"),
        F.sum(F.col("s") * F.col("s") * F.col("n"))
        .cast("bigint")
        .alias("ssn"),
    )
    t_expr = (
        "CAST(sr AS DOUBLE)"
        " - CAST(rr AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)"
    )
    return m.select(
        F.col("nn").alias("n_total"),
        F.col("rr").alias("n_pos"),
        F.expr(t_expr).alias("trend_t"),
        F.expr(
            f"({t_expr}) * ({t_expr})"
            " / ((CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))"
            "    * (1 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))"
            "    * (CAST(ssn AS DOUBLE)"
            "       - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)"
            "         / CAST(nn AS DOUBLE)))"
        ).alias("z_squared"),
    )


@register(
    name="moods_median_test",
    survey="A7 W3 F28",
    doc="Mood's median test across the five event types: the grand "
    "median comes from the banded cumulative-count pass over (cents) "
    "CELLS (bounded by the value domain — the exact_median_two_phase "
    "shape, never a global row sort), each type's above/not-above "
    "median counts form the 2x5 contingency table, and the statistic "
    "is the plain chi-square over it. The rank-free nonparametric "
    "location test — robust companion to welch_ttest_value (means) "
    "and kruskal_wallis_h (ranks). Everything is exact BIGINT until "
    "the final expected-count ratios, which share one expression tree "
    "with DuckDB.",
    oracle="""
        WITH v AS (
          SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
          FROM events
        ), cells AS (
          SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM v GROUP BY c
        ), cum AS (
          SELECT c, SUM(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                     AS cm
          FROM cells
        ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
        med AS (
          SELECT MIN(c) AS mc FROM cum, tot WHERE cm >= (tot.n + 1) // 2
        ), per_type AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nj,
                 CAST(SUM(CASE WHEN v.c > med.mc THEN 1 ELSE 0 END)
                      AS BIGINT) AS aj
          FROM v, med GROUP BY event_type
        ), tots AS (
          SELECT CAST(SUM(nj) AS BIGINT) AS n,
                 CAST(SUM(aj) AS BIGINT) AS a
          FROM per_type
        )
        SELECT tots.n AS n_total, med.mc AS median_cents,
               -- per-type terms are micro-quantized to 1e-12 BEFORE the
               -- 5-addend sum: a raw double sum is accumulation-order-
               -- dependent and hash-mismatched by one ulp (seen sf0.01)
               CAST(SUM(CAST(floor((
                 (CAST(aj AS DOUBLE) - CAST(nj AS DOUBLE)
                    * CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(aj AS DOUBLE) - CAST(nj AS DOUBLE)
                    * CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(nj AS DOUBLE) * CAST(a AS DOUBLE)
                    / CAST(n AS DOUBLE))
               + (CAST(nj - aj AS DOUBLE) - CAST(nj AS DOUBLE)
                    * CAST(n - a AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(nj - aj AS DOUBLE) - CAST(nj AS DOUBLE)
                    * CAST(n - a AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(nj AS DOUBLE) * CAST(n - a AS DOUBLE)
                    / CAST(n AS DOUBLE))
               ) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS chi2
        FROM per_type, tots, med
        GROUP BY tots.n, med.mc
    """,
)
def moods_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    v = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
    )
    cells = v.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    # bounded-domain cells only — plan_lint whitelisted
    wcum = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select("c", F.sum("m").over(wcum).alias("cm"))
    tot = v.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.expr("cm >= (n + 1) div 2"))
        .agg(F.min("c").alias("mc"))
    )
    per_type = (
        v.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nj"),
            F.sum(F.expr("CASE WHEN c > mc THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("aj"),
        )
    )
    tots = per_type.agg(
        F.sum("nj").cast("bigint").alias("n"),
        F.sum("aj").cast("bigint").alias("a"),
    )
    return (
        per_type.crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(med))
        .groupBy("n", "mc")
        .agg(
            F.expr(
                """CAST(SUM(CAST(floor((
                 (CAST(aj AS DOUBLE) - CAST(nj AS DOUBLE)
                    * CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(aj AS DOUBLE) - CAST(nj AS DOUBLE)
                    * CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(nj AS DOUBLE) * CAST(a AS DOUBLE)
                    / CAST(n AS DOUBLE))
               + (CAST(nj - aj AS DOUBLE) - CAST(nj AS DOUBLE)
                    * CAST(n - a AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(nj - aj AS DOUBLE) - CAST(nj AS DOUBLE)
                    * CAST(n - a AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(nj AS DOUBLE) * CAST(n - a AS DOUBLE)
                    / CAST(n AS DOUBLE))
               ) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12"""
            ).alias("chi2")
        )
        .select(
            F.col("n").alias("n_total"),
            F.col("mc").alias("median_cents"),
            "chi2",
        )
    )


@register(
    name="kruskal_wallis_h",
    survey="A7 W3 F28",
    doc="Kruskal-Wallis H (tie-corrected) across the five event "
    "types, computed WITHOUT ranking any row: global (cents) cells "
    "give each tied block's doubled midrank 2p + m + 1 as an exact "
    "INTEGER (p = cumulative count before the block), per-type "
    "doubled rank sums come from the (type, cents) cell join, and "
    "the tie correction sum(m^3 - m) also folds over cells. The only "
    "window is the bounded-domain cell cumulative. Doubled ranks "
    "keep every intermediate exact; the final H divides identically "
    "in both engines. Completes the nonparametric family: KS "
    "(distribution), Mood (location, median), KW (location, ranks), "
    "Mann-Whitney/ROC (two-sample).",
    oracle="""
        WITH v AS (
          SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
          FROM events
        ), cells AS (
          SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM v GROUP BY c
        ), pos AS (
          SELECT c, m,
                 CAST(SUM(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                      - m AS BIGINT) AS p
          FROM cells
        ), tv AS (
          SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS mt
          FROM v GROUP BY event_type, c
        ), rj AS (
          SELECT tv.event_type,
                 CAST(SUM(tv.mt) AS BIGINT) AS nj,
                 CAST(SUM(tv.mt * (2 * pos.p + pos.m + 1)) AS BIGINT)
                     AS r2j
          FROM tv JOIN pos ON pos.c = tv.c
          GROUP BY tv.event_type
        ), tot AS (SELECT CAST(SUM(nj) AS BIGINT) AS n FROM rj),
        ties AS (
          SELECT CAST(SUM(m * m * m - m) AS BIGINT) AS t FROM cells
        )
        SELECT tot.n AS n_total,
               -- per-type terms micro-quantized to 1e-9 before the
               -- 5-addend sum (raw double sums are accumulation-order-
               -- dependent across engines; moods_median_test precedent)
               (CAST(SUM(CAST(floor(
                   12.0 * CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE)
                   / (4.0 * CAST(nj AS DOUBLE))
                   / (CAST(tot.n AS DOUBLE) * CAST(tot.n + 1 AS DOUBLE))
                   * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
                - 3.0 * CAST(tot.n + 1 AS DOUBLE))
               / (1.0 - CAST(ties.t AS DOUBLE)
                        / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)
                           * CAST(tot.n AS DOUBLE)
                           - CAST(tot.n AS DOUBLE)))
                   AS h_statistic
        FROM rj, tot, ties
        GROUP BY tot.n, ties.t
    """,
)
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    v = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
    )
    cells = v.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    wcum = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pos = cells.select(
        "c", "m", (F.sum("m").over(wcum) - F.col("m")).cast("bigint").alias("p")
    )
    tv = v.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("mt")
    )
    rj = (
        tv.join(pos, "c")
        .groupBy("event_type")
        .agg(
            F.sum("mt").cast("bigint").alias("nj"),
            F.sum(F.expr("mt * (2 * p + m + 1)")).cast("bigint").alias("r2j"),
        )
    )
    tot = rj.agg(F.sum("nj").cast("bigint").alias("n"))
    ties = cells.agg(
        F.sum(F.expr("m * m * m - m")).cast("bigint").alias("t")
    )
    return (
        rj.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .groupBy("n", "t")
        .agg(
            F.expr(
                """(CAST(SUM(CAST(floor(
                   12.0 * CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE)
                   / (4.0 * CAST(nj AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
                   * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
                - 3.0 * CAST(n + 1 AS DOUBLE))
               / (1.0 - CAST(t AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))"""
            ).alias("h_statistic")
        )
        .select(F.col("n").alias("n_total"), "h_statistic")
    )


@register(
    name="kendall_tau_b_cells",
    survey="A7 J6 F28",
    doc="Kendall's tau-b between value band (5 ordinal levels) and "
    "hour-of-day (24 levels), computed EXACTLY from the bounded 2D "
    "contingency cells — never the O(n^2) row-pair join: concordant/"
    "discordant counts are sums of m_a*m_b over ordered CELL pairs "
    "(<= 120^2 regardless of row count), and the tie corrections "
    "fold over the cell margins. This is the tie-aware rank "
    "correlation the catalog's Spearman (banded) approximates; on a "
    "fully-discrete pair of variables the cell identity is exact. "
    "All counts BIGINT; the one sqrt is IEEE-correctly-rounded in "
    "both engines.",
    oracle="""
        WITH v AS (
          SELECT LEAST(CAST(ROUND(value * 100) AS BIGINT) // 15000, 4)
                     AS x,
                 CAST(date_part('hour', ts) AS BIGINT) AS y
          FROM events
        ), cells AS (
          SELECT x, y, CAST(COUNT(*) AS BIGINT) AS m FROM v GROUP BY x, y
        ), pairs AS (
          SELECT a.m AS ma, b.m AS mb,
                 CASE WHEN (a.x < b.x AND a.y < b.y)
                        OR (a.x > b.x AND a.y > b.y) THEN 1
                      WHEN (a.x < b.x AND a.y > b.y)
                        OR (a.x > b.x AND a.y < b.y) THEN -1
                      ELSE 0 END AS sgn
          FROM cells a JOIN cells b
            ON (a.x > b.x) OR (a.x = b.x AND a.y > b.y)
        ), tot AS (
          SELECT CAST(SUM(m) AS BIGINT) AS n FROM cells
        ), tx AS (
          SELECT CAST(SUM(mm * (mm - 1)) AS BIGINT) AS tie_x2
          FROM (SELECT SUM(m) AS mm FROM cells GROUP BY x)
        ), ty AS (
          SELECT CAST(SUM(mm * (mm - 1)) AS BIGINT) AS tie_y2
          FROM (SELECT SUM(m) AS mm FROM cells GROUP BY y)
        )
        SELECT tot.n AS n_events,
               CAST(SUM(CASE WHEN sgn = 1 THEN ma * mb ELSE 0 END)
                    AS BIGINT) AS concordant,
               CAST(SUM(CASE WHEN sgn = -1 THEN ma * mb ELSE 0 END)
                    AS BIGINT) AS discordant,
               CAST(SUM(sgn * ma * mb) AS DOUBLE)
               / sqrt((CAST(tot.n AS DOUBLE) * CAST(tot.n - 1 AS DOUBLE)
                         / 2.0 - CAST(tx.tie_x2 AS DOUBLE) / 2.0)
                    * (CAST(tot.n AS DOUBLE) * CAST(tot.n - 1 AS DOUBLE)
                         / 2.0 - CAST(ty.tie_y2 AS DOUBLE) / 2.0))
                   AS tau_b
        FROM pairs, tot, tx, ty
        GROUP BY tot.n, tx.tie_x2, ty.tie_y2
    """,
)
def kendall_tau_b_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load(spark, sf_dir, "events").select(
        F.expr(
            "LEAST(CAST(ROUND(value * 100) AS BIGINT) div 15000, 4)"
        ).alias("x"),
        F.expr("CAST(hour(ts) AS BIGINT)").alias("y"),
    )
    cells = v.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("m").alias("ma")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("m").alias("mb")
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("xa") > F.col("xb"))
        | ((F.col("xa") == F.col("xb")) & (F.col("ya") > F.col("yb"))),
    ).select(
        "ma",
        "mb",
        F.expr(
            "CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb)"
            " THEN 1 WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb)"
            " THEN -1 ELSE 0 END"
        ).alias("sgn"),
    )
    tot = cells.agg(F.sum("m").cast("bigint").alias("n"))
    tx = (
        cells.groupBy("x")
        .agg(F.sum("m").alias("mm"))
        .agg(F.sum(F.expr("mm * (mm - 1)")).cast("bigint").alias("tie_x2"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("m").alias("mm"))
        .agg(F.sum(F.expr("mm * (mm - 1)")).cast("bigint").alias("tie_y2"))
    )
    return (
        pairs.agg(
            F.sum(F.expr("CASE WHEN sgn = 1 THEN ma * mb ELSE 0 END"))
            .cast("bigint")
            .alias("concordant"),
            F.sum(F.expr("CASE WHEN sgn = -1 THEN ma * mb ELSE 0 END"))
            .cast("bigint")
            .alias("discordant"),
            F.sum(F.expr("sgn * ma * mb")).cast("bigint").alias("net"),
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("n").alias("n_events"),
            "concordant",
            "discordant",
            F.expr(
                "CAST(net AS DOUBLE)"
                " / sqrt((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) / 2.0"
                "         - CAST(tie_x2 AS DOUBLE) / 2.0)"
                "      * (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) / 2.0"
                "         - CAST(tie_y2 AS DOUBLE) / 2.0))"
            ).alias("tau_b"),
        )
    )


@register(
    name="variance_ratio_test",
    survey="A7 W3 F15 F28",
    doc="Lo-MacKinlay variance-ratio test (q=5) on the daily revenue "
    "series: VR(5) = Var(5-day overlapping sums) / (5 * Var(daily)) — "
    "~1 under a random walk, <1 under mean reversion. Daily totals "
    "are floored to WHOLE DOLLARS before any square so every moment "
    "(sum, sum-of-squares of days AND of overlapping 5-day windows) "
    "stays an exact BIGINT through ~25x this SF (cents-squared would "
    "overflow int64 at 5x); the overlapping sums come from one "
    "bounded-domain window over the ~30 day rows. The ratio divides "
    "exact integers identically in both engines.",
    oracle="""
        WITH d AS (
          SELECT CAST(date_part('day', ts) AS BIGINT) AS day,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) // 100
                      AS BIGINT) AS dollars
          FROM events GROUP BY 1
        ), base AS (
          SELECT day, dollars,
                 CAST(SUM(dollars) OVER (ORDER BY day
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS q5,
                 CAST(COUNT(*) OVER (ORDER BY day
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS qn
          FROM d
        ), m1 AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(dollars) AS BIGINT) AS s,
                 CAST(SUM(dollars * dollars) AS BIGINT) AS ss
          FROM d
        ), m5 AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n5,
                 CAST(SUM(q5) AS BIGINT) AS s5,
                 CAST(SUM(q5 * q5) AS BIGINT) AS ss5
          FROM base WHERE qn = 5
        )
        SELECT m1.n AS n_days, m5.n5 AS n_windows,
               (CAST(ss5 AS DOUBLE) / CAST(n5 AS DOUBLE)
                - (CAST(s5 AS DOUBLE) / CAST(n5 AS DOUBLE))
                  * (CAST(s5 AS DOUBLE) / CAST(n5 AS DOUBLE)))
               / (5.0 * (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))
                   AS variance_ratio_q5
        FROM m1, m5
    """,
)
def variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = (
        load(spark, sf_dir, "events")
        .select(
            F.expr("CAST(day(ts) AS BIGINT)").alias("day"),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(SUM(c) div 100 AS BIGINT)").alias("dollars"))
    )
    # day-domain window (~30 rows) — bounded, plan_lint whitelisted
    w = Window.orderBy("day").rowsBetween(-4, Window.currentRow)
    base = d.select(
        "day",
        "dollars",
        F.sum("dollars").over(w).cast("bigint").alias("q5"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("qn"),
    )
    m1 = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dollars").cast("bigint").alias("s"),
        F.sum(F.expr("dollars * dollars")).cast("bigint").alias("ss"),
    )
    m5 = base.where("qn = 5").agg(
        F.count(F.lit(1)).cast("bigint").alias("n5"),
        F.sum("q5").cast("bigint").alias("s5"),
        F.sum(F.expr("q5 * q5")).cast("bigint").alias("ss5"),
    )
    return (
        m1.crossJoin(F.broadcast(m5))
        .select(
            F.col("n").alias("n_days"),
            F.col("n5").alias("n_windows"),
            F.expr(
                """(CAST(ss5 AS DOUBLE) / CAST(n5 AS DOUBLE)
                - (CAST(s5 AS DOUBLE) / CAST(n5 AS DOUBLE))
                  * (CAST(s5 AS DOUBLE) / CAST(n5 AS DOUBLE)))
               / (5.0 * (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))"""
            ).alias("variance_ratio_q5"),
        )
    )


@register(
    name="runs_test_daily_moves",
    survey="A7 W2 F15 F28",
    doc="Wald-Wolfowitz runs test for randomness of the daily revenue "
    "direction: each day is classified up/down vs the previous day "
    "(lag over the bounded ~30-row day series; zero-change days drop, "
    "the classical treatment), the number of runs is 1 + count of "
    "sign changes, and the z-score compares it to the exact "
    "E[R] = 2 n1 n2 / n + 1 and Var[R] = 2 n1 n2 (2 n1 n2 - n) / "
    "(n^2 (n-1)). Counts are exact BIGINTs; the z ratio and its sqrt "
    "are single IEEE ops shared with DuckDB. Complements the "
    "autocorrelation and variance-ratio diagnostics with the "
    "distribution-free randomness check.",
    oracle="""
        WITH d AS (
          SELECT CAST(date_part('day', ts) AS BIGINT) AS day,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                     AS cents
          FROM events GROUP BY 1
        ), mv AS (
          SELECT day,
                 CASE WHEN cents > LAG(cents) OVER (ORDER BY day) THEN 1
                      WHEN cents < LAG(cents) OVER (ORDER BY day) THEN 0
                      END AS up
          FROM d
        ), seq AS (
          SELECT up,
                 LAG(up) OVER (ORDER BY day) AS prev_up
          FROM mv WHERE up IS NOT NULL
        ), stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(up) AS BIGINT) AS n1,
                 CAST(COUNT(*) - SUM(up) AS BIGINT) AS n2,
                 CAST(1 + SUM(CASE WHEN prev_up IS NOT NULL
                                    AND up <> prev_up
                               THEN 1 ELSE 0 END) AS BIGINT) AS runs
          FROM seq
        )
        SELECT n AS n_moves, n1 AS n_up, n2 AS n_down, runs,
               (CAST(runs AS DOUBLE)
                - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   / CAST(n AS DOUBLE) + 1.0))
               / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                         - CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         * CAST(n - 1 AS DOUBLE))) AS z_score
        FROM stats
    """,
)
def runs_test_daily_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = (
        load(spark, sf_dir, "events")
        .select(
            F.expr("CAST(day(ts) AS BIGINT)").alias("day"),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    # bounded ~30-row day series — plan_lint whitelisted
    w = Window.orderBy("day")
    mv = d.select(
        "day",
        F.expr(
            "CASE WHEN cents > LAG(cents) OVER (ORDER BY day) THEN 1"
            " WHEN cents < LAG(cents) OVER (ORDER BY day) THEN 0 END"
        ).alias("up"),
    )
    seq = mv.where("up IS NOT NULL").select(
        "up", F.lag("up").over(w).alias("prev_up")
    )
    stats = seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("up").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("up")).cast("bigint").alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.expr(
                    "CASE WHEN prev_up IS NOT NULL AND up <> prev_up"
                    " THEN 1 ELSE 0 END"
                )
            )
        )
        .cast("bigint")
        .alias("runs"),
    )
    return stats.select(
        F.col("n").alias("n_moves"),
        F.col("n1").alias("n_up"),
        F.col("n2").alias("n_down"),
        "runs",
        F.expr(
            """(CAST(runs AS DOUBLE)
                - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   / CAST(n AS DOUBLE) + 1.0))
               / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                         - CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         * CAST(n - 1 AS DOUBLE)))"""
        ).alias("z_score"),
    )


@register(
    name="median_qte_cohorts",
    survey="A7 W3 F28",
    doc="Quantile treatment effect at the median between the two md5 "
    "order cohorts: each cohort's EXACT median order cents comes from "
    "the banded cumulative-count pass over per-cohort (cents) cells "
    "(the moods_median_test machinery, keyed by cohort so the one "
    "window is partitioned), QTE = med_1 - med_0. Medians answer the "
    "distributional question the mean-based ATE/ATT/DR estimators "
    "miss (heavy-tail robustness); together they complete the "
    "location-effect family. Everything is BIGINT end to end — the "
    "output is integer cents.",
    oracle="""
        WITH o AS (
          SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                      1, 8) AS BIGINT) % 2 AS grp,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
          FROM orders
        ), cells AS (
          SELECT grp, c, CAST(COUNT(*) AS BIGINT) AS m
          FROM o GROUP BY grp, c
        ), cum AS (
          SELECT grp, c,
                 SUM(m) OVER (PARTITION BY grp ORDER BY c
                              ROWS UNBOUNDED PRECEDING) AS cm,
                 SUM(m) OVER (PARTITION BY grp) AS n
          FROM cells
        ), med AS (
          SELECT grp, CAST(MIN(c) AS BIGINT) AS med_cents,
                 CAST(MAX(n) AS BIGINT) AS n
          FROM cum WHERE cm >= (n + 1) // 2 GROUP BY grp
        )
        SELECT a.n AS n_grp0, b.n AS n_grp1,
               a.med_cents AS median0_cents,
               b.med_cents AS median1_cents,
               b.med_cents - a.med_cents AS qte_cents
        FROM (SELECT * FROM med WHERE grp = 0) a,
             (SELECT * FROM med WHERE grp = 1) b
    """,
)
def median_qte_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 2"
        ).alias("grp"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("c"),
    )
    cells = o.groupBy("grp", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    wcum = (
        Window.partitionBy("grp")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("grp")
    cum = cells.select(
        "grp",
        "c",
        F.sum("m").over(wcum).alias("cm"),
        F.sum("m").over(wn).alias("n"),
    )
    med = (
        cum.where(F.expr("cm >= (n + 1) div 2"))
        .groupBy("grp")
        .agg(
            F.min("c").cast("bigint").alias("med_cents"),
            F.max("n").cast("bigint").alias("n"),
        )
    )
    a = med.where("grp = 0").select(
        F.col("n").alias("n_grp0"), F.col("med_cents").alias("median0_cents")
    )
    b = med.where("grp = 1").select(
        F.col("n").alias("n_grp1"), F.col("med_cents").alias("median1_cents")
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_grp0",
        "n_grp1",
        "median0_cents",
        "median1_cents",
        (F.col("median1_cents") - F.col("median0_cents")).alias("qte_cents"),
    )


@register(
    name="simpsons_paradox_check",
    survey="A7 F28 A9",
    doc="Simpson's-paradox audit for the cohort conversion readout: "
    "the purchase-rate difference between the two md5 user cohorts is "
    "computed OVERALL and WITHIN each of the five value bands; a "
    "stratum whose difference flips sign against the overall one is "
    "the paradox signature (aggregation hiding a confounder — the "
    "value band doubles as the confounding covariate here). Output is "
    "one row per band plus the 'overall' row via a grouping-sets-"
    "style union, each carrying exact BIGINT cells, IEEE-identical "
    "rate differences, and the sign-agreement flag. The audit every "
    "experiment dashboard should run before shipping a cohort "
    "readout.",
    oracle="""
        WITH v AS (
          SELECT LEAST(CAST(ROUND(value * 100) AS BIGINT) // 15000, 4)
                     AS band,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 2 AS grp,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                     AS pos
          FROM events
          WHERE event_type IN ('purchase', 'click')
        ), cells AS (
          SELECT band, grp, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS p
          FROM v GROUP BY band, grp
        ), strata AS (
          SELECT CAST(band AS VARCHAR) AS stratum,
                 CAST(SUM(CASE WHEN grp = 0 THEN n END) AS BIGINT) AS n0,
                 CAST(SUM(CASE WHEN grp = 0 THEN p END) AS BIGINT) AS p0,
                 CAST(SUM(CASE WHEN grp = 1 THEN n END) AS BIGINT) AS n1,
                 CAST(SUM(CASE WHEN grp = 1 THEN p END) AS BIGINT) AS p1
          FROM cells GROUP BY band
          UNION ALL
          SELECT 'overall' AS stratum,
                 CAST(SUM(CASE WHEN grp = 0 THEN n END) AS BIGINT),
                 CAST(SUM(CASE WHEN grp = 0 THEN p END) AS BIGINT),
                 CAST(SUM(CASE WHEN grp = 1 THEN n END) AS BIGINT),
                 CAST(SUM(CASE WHEN grp = 1 THEN p END) AS BIGINT)
          FROM cells
        ), rates AS (
          SELECT stratum, n0, p0, n1, p1,
                 CAST(p1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(p0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS rate_diff
          FROM strata
        )
        SELECT r.stratum, r.n0, r.p0, r.n1, r.p1, r.rate_diff,
               CASE WHEN r.rate_diff
                         * (SELECT rate_diff FROM rates
                            WHERE stratum = 'overall') >= 0
                    THEN 1 ELSE 0 END AS agrees_with_overall
        FROM rates r
        ORDER BY r.stratum
    """,
)
def simpsons_paradox_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.expr(
                "LEAST(CAST(ROUND(value * 100) AS BIGINT) div 15000, 4)"
            ).alias("band"),
            F.expr(
                "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("grp"),
            F.expr(
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            ).alias("pos"),
        )
    )
    cells = v.groupBy("band", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    per_band = cells.groupBy("band").agg(
        F.sum(F.expr("CASE WHEN grp = 0 THEN n END")).cast("bigint").alias("n0"),
        F.sum(F.expr("CASE WHEN grp = 0 THEN p END")).cast("bigint").alias("p0"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN n END")).cast("bigint").alias("n1"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN p END")).cast("bigint").alias("p1"),
    ).select(F.col("band").cast("string").alias("stratum"), "n0", "p0", "n1", "p1")
    overall = cells.agg(
        F.sum(F.expr("CASE WHEN grp = 0 THEN n END")).cast("bigint").alias("n0"),
        F.sum(F.expr("CASE WHEN grp = 0 THEN p END")).cast("bigint").alias("p0"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN n END")).cast("bigint").alias("n1"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN p END")).cast("bigint").alias("p1"),
    ).select(F.lit("overall").alias("stratum"), "n0", "p0", "n1", "p1")
    rates = per_band.unionByName(overall).withColumn(
        "rate_diff",
        F.expr(
            "CAST(p1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            " - CAST(p0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
        ),
    )
    odiff = rates.where("stratum = 'overall'").select(
        F.col("rate_diff").alias("overall_diff")
    )
    return (
        rates.crossJoin(F.broadcast(odiff))
        .select(
            "stratum",
            "n0",
            "p0",
            "n1",
            "p1",
            "rate_diff",
            F.expr(
                "CASE WHEN rate_diff * overall_diff >= 0 THEN 1 ELSE 0 END"
            )
            .cast("int")
            .alias("agrees_with_overall"),
        )
        .orderBy("stratum")
    )


@register(
    name="arrow_grouped_lang_profile",
    survey="UD5 UD4 A7",
    doc="groupBy().applyInArrow grouped-map (the Arrow-native sibling of "
    "applyInPandas — each group arrives as a pyarrow.Table, zero pandas "
    "conversion): per-source language breakdown computed with pyarrow's "
    "own group_by/aggregate kernels inside the worker, so the Python "
    "stage is columnar end-to-end. The oracle is the plain two-key SQL "
    "aggregate, pinning the Arrow kernel semantics. One grouping "
    "shuffle on source — the same shape applyInPandas pays, minus the "
    "pandas materialization, which is the cost that matters when each "
    "group is millions of rows at 100 TB.",
    oracle="""
        SELECT source, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY source, lang
    """,
)
def arrow_grouped_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    # deliberately annotation-free: pyspark's hint inference treats any
    # unresolvable annotation as an error (and its failure path trips an
    # UnboundLocalError in 4.1); no hints -> the default grouped-map
    # (key, pa.Table) -> pa.Table eval type applies.
    def profile(key, tbl):
        g = tbl.group_by("lang").aggregate(
            [("doc_id", "count"), ("n_chars", "sum")]
        )
        k = key[0].as_py() if hasattr(key[0], "as_py") else key[0]
        return pa.table(
            {
                "source": pa.array([k] * g.num_rows),
                "lang": g.column("lang"),
                "n_docs": g.column("doc_id_count").cast(pa.int64()),
                "total_chars": g.column("n_chars_sum").cast(pa.int64()),
            }
        )

    docs = load(spark, sf_dir, "documents").select(
        "source", "lang", "doc_id", "n_chars"
    )
    return docs.groupBy("source").applyInArrow(
        profile,
        schema="source string, lang string, n_docs long, total_chars long",
    )
