"""Event-sequence analytics over the events table ([NORTH-STAR]
behavioral queries alongside queries/events.py's time windows).

The three shapes every event warehouse runs: funnel conversion (did the
user progress view -> click -> purchase, each step after the previous),
cohort retention (activity by days-since-first-seen), and fixed-width
value histograms. All are compositions of keyed aggregations and
user-keyed equi-joins — every shuffle is on user_id or a (small) group
key, no window over an unpartitioned frame, no driver-side state — so
the plans scale linearly with event volume.

Funnel step ordering uses min-timestamp-after-predecessor semantics:
step N's time is the earliest event of that type at-or-after step N-1's
time, NULL (and therefore non-converted) when the user never reached
it. A NULL predecessor propagates NULL through the >= comparison
identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load
from uk_procurement_data_pipeline_spark.functions.topk import global_rank, ntile
from uk_procurement_data_pipeline_spark.queries.base import register


@register(
    name="funnel_conversion",
    survey="A7 J7 F15 P6",
    doc="Three-step funnel per user: first view, first click at-or-after "
    "that view, first purchase at-or-after that click, plus the "
    "converted flag. One hash-agg for step 1, then per-step "
    "filter+join+min-agg — all shuffles keyed on user_id.",
    oracle="""
        WITH v AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view
            FROM events GROUP BY user_id),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS first_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts >= v.first_view
            GROUP BY e.user_id),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS first_purchase
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
            GROUP BY e.user_id)
        SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
               p.first_purchase IS NOT NULL AS converted
        FROM v
        LEFT JOIN c ON v.user_id = c.user_id
        LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        )
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            F.col("first_purchase").isNotNull().alias("converted"),
        )
    )


@register(
    name="cohort_retention",
    survey="A7 A8 F15 J5",
    doc="Cohort retention matrix: users grouped by first-seen day, "
    "activity counted by day offset from that cohort day. Two hash "
    "aggregations and one user-keyed join; count(distinct user) within "
    "(cohort_day, offset) groups is exact (no sketch).",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
            FROM events GROUP BY user_id)
        SELECT f.cohort_day,
               date_diff('day', f.cohort_day, date_trunc('day', e.ts))
                   AS day_offset,
               COUNT(DISTINCT e.user_id) AS active_users,
               COUNT(*) AS n_events
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
        GROUP BY f.cohort_day, day_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("DAY", "ts")).alias("cohort_day")
    )
    return (
        ev.join(first_seen, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.date_trunc("DAY", "ts"), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    name="value_histogram",
    survey="A7 F28",
    doc="Fixed-width value histogram per event type: 50-unit bins via "
    "floor division (engine-portable, no sampling), count per bin. One "
    "hash-agg shuffle on a bounded (type, bin) key domain.",
    oracle="""
        SELECT event_type,
               CAST(floor(value / 50) * 50 AS BIGINT) AS bin_lo,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type, bin_lo
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.floor(F.col("value") / 50) * 50).cast("bigint").alias("bin_lo"),
        )
        .groupBy("event_type", "bin_lo")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    name="user_activity_streaks",
    survey="A7 W1 F15",
    doc="Gap-and-islands: each user's runs of consecutive active days "
    "(streak start/end/length) via the anchor trick — epoch-day number "
    "minus per-user row_number is constant within a consecutive run. "
    "One window shuffle on user_id plus one hash-agg on the island key; "
    "no self-join, no sequence explosion.",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
        numbered AS (
            SELECT user_id, d,
                   date_diff('day', DATE '1970-01-01', CAST(d AS DATE))
                       - row_number() OVER (PARTITION BY user_id ORDER BY d)
                       AS anchor
            FROM days)
        SELECT user_id, MIN(d) AS streak_start, MAX(d) AS streak_end,
               COUNT(*) AS streak_days
        FROM numbered
        GROUP BY user_id, anchor
    """,
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    days = (
        load(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("DAY", "ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    numbered = days.select(
        "user_id",
        "d",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast("bigint")
            - F.row_number().over(w)
        ).alias("anchor"),
    )
    return (
        numbered.groupBy("user_id", "anchor")
        .agg(
            F.min("d").alias("streak_start"),
            F.max("d").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .drop("anchor")
    )


_GINI_BINS = 100


@register(
    name="lorenz_gini_binned",
    survey="A7 W3 J7 F28",
    doc=f"Binned Lorenz curve + Gini coefficient of customer spend "
    f"concentration: per-customer exact-decimal spend (zero for "
    f"customers with no orders), {_GINI_BINS} equal-width bins over "
    "[0, max], cumulative population and spend shares, and the Gini "
    "via the trapezoid rule with exact-decimal term summation (the "
    "chi2 pattern). The only row-sized work is the per-customer "
    "aggregation; every window runs on the fixed 100-bin domain. The "
    "unbinned Gini needs a global sort by spend — this is the form "
    "that exists at 100 TB.",
    oracle=f"""
        WITH spend AS (
          SELECT c.c_custkey,
                 COALESCE(CAST(ROUND(SUM(CAST(o.o_totalprice
                                              AS DECIMAL(38,8))), 4)
                               AS DOUBLE), 0.0) AS spend
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey
        ), mx AS (
          SELECT max(spend) AS mxs FROM spend
        ), binned AS (
          SELECT CAST(least(floor(spend / mxs * {_GINI_BINS}),
                            {_GINI_BINS} - 1) AS INT) AS bin,
                 count(*) AS n_cust,
                 CAST(ROUND(SUM(CAST(spend AS DECIMAL(38,8))), 4)
                      AS DOUBLE) AS bin_spend
          FROM spend, mx GROUP BY 1
        ), bins AS (
          SELECT s.b AS bin, COALESCE(n_cust, 0) AS n_cust,
                 COALESCE(bin_spend, 0.0) AS bin_spend
          FROM (SELECT unnest(range(0, {_GINI_BINS})) AS b) s
          LEFT JOIN binned ON binned.bin = s.b
        ), cum AS (
          SELECT bin, CAST(n_cust AS BIGINT) AS n_cust, bin_spend,
                 CAST(SUM(n_cust) OVER w AS DOUBLE)
                     / CAST(SUM(n_cust) OVER () AS DOUBLE) AS cum_pop_share,
                 CAST(ROUND(SUM(CAST(bin_spend AS DECIMAL(38,8))) OVER w, 4)
                      AS DOUBLE)
                     / CAST(ROUND(SUM(CAST(bin_spend AS DECIMAL(38,8)))
                                  OVER (), 4) AS DOUBLE) AS cum_spend_share,
                 CAST(n_cust AS DOUBLE)
                     / CAST(SUM(n_cust) OVER () AS DOUBLE) AS pop_share
          FROM bins
          WINDOW w AS (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), terms AS (
          SELECT cum.*,
                 pop_share * (cum_spend_share
                              + COALESCE(lag(cum_spend_share)
                                         OVER (ORDER BY bin), 0.0)) AS term
          FROM cum)
        SELECT bin, n_cust, bin_spend, cum_pop_share, cum_spend_share,
               1.0 - CAST(ROUND(SUM(CAST(term AS DECIMAL(38,8))) OVER (), 4)
                          AS DOUBLE) AS gini
        FROM terms
    """,
)
def lorenz_gini_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from uk_procurement_data_pipeline_spark.functions.exact import dec

    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.round(F.sum(dec("o_totalprice")), 4).cast("double"),
                F.lit(0.0),
            ).alias("spend")
        )
    )
    mx = spend.agg(F.max("spend").alias("mxs"))
    binned = (
        spend.crossJoin(F.broadcast(mx))
        .selectExpr(
            f"CAST(least(floor(spend / mxs * {_GINI_BINS}),"
            f" {_GINI_BINS} - 1) AS INT) AS bin",
            "spend",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum(dec("spend")), 4).cast("double").alias("bin_spend"),
        )
    )
    bins = (
        spark.range(_GINI_BINS)
        .selectExpr("CAST(id AS INT) AS bin")
        .join(binned, "bin", "left")
        .selectExpr(
            "bin",
            "COALESCE(n_cust, 0) AS n_cust",
            "COALESCE(bin_spend, 0.0) AS bin_spend",
        )
    )
    # Bounded domain: all windows below run on the fixed 100-bin table.
    wrun = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = bins.select(
        "bin",
        F.col("n_cust").cast("bigint").alias("n_cust"),
        "bin_spend",
        (
            F.sum("n_cust").over(wrun).cast("double")
            / F.sum("n_cust").over(wall).cast("double")
        ).alias("cum_pop_share"),
        (
            F.round(F.sum(dec("bin_spend")).over(wrun), 4).cast("double")
            / F.round(F.sum(dec("bin_spend")).over(wall), 4).cast("double")
        ).alias("cum_spend_share"),
        (
            F.col("n_cust").cast("double")
            / F.sum("n_cust").over(wall).cast("double")
        ).alias("pop_share"),
    )
    terms = cum.withColumn(
        "term",
        F.col("pop_share")
        * (
            F.col("cum_spend_share")
            + F.coalesce(
                F.lag("cum_spend_share").over(Window.orderBy("bin")),
                F.lit(0.0),
            )
        ),
    )
    return terms.select(
        "bin",
        "n_cust",
        "bin_spend",
        "cum_pop_share",
        "cum_spend_share",
        (
            F.lit(1.0)
            - F.round(F.sum(dec("term")).over(wall), 4).cast("double")
        ).alias("gini"),
    )


@register(
    name="rfm_customer_segments",
    survey="W1 A7 J6 F28",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="RFM (recency/frequency/monetary) customer segmentation, the "
    "classic marketing rollup: per purchasing customer, days since "
    "last order (vs the corpus max day), order count, and exact-"
    "decimal spend, each scored into terciles with ntile(3) semantics "
    "— computed WITHOUT an unpartitioned sort via topk.global_rank's "
    "banded rank + broadcast offsets and topk.ntile "
    "(bands: recency months, raw order counts, spend thousands). "
    "Scores are oriented so 3 is best (r_score inverts recency); the "
    "oracle keeps the literal ntile() windows, certifying the "
    "distributed rewrite against the textbook single-sort form.",
    oracle="""
        WITH rfm AS (
          SELECT o.o_custkey AS c_custkey,
                 date_diff('day', max(date_trunc('day', o.o_orderdate)),
                           (SELECT max(date_trunc('day', o_orderdate))
                            FROM orders)) AS recency_days,
                 count(*) AS frequency,
                 CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,8))), 4)
                      AS DOUBLE) AS monetary
          FROM orders o GROUP BY o.o_custkey
        ), scored AS (
          SELECT c_custkey,
                 CAST(recency_days AS BIGINT) AS recency_days,
                 CAST(frequency AS BIGINT) AS frequency,
                 monetary,
                 ntile(3) OVER (ORDER BY recency_days, c_custkey) AS r_t,
                 ntile(3) OVER (ORDER BY frequency, c_custkey) AS f_t,
                 ntile(3) OVER (ORDER BY monetary, c_custkey) AS m_t
          FROM rfm)
        SELECT c_custkey, recency_days, frequency, monetary,
               CAST(4 - r_t AS INT) AS r_score,
               CAST(f_t AS INT) AS f_score,
               CAST(m_t AS INT) AS m_score,
               CAST(4 - r_t AS VARCHAR) || CAST(f_t AS VARCHAR)
                   || CAST(m_t AS VARCHAR) AS segment
        FROM scored
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import dec

    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    mx = o.agg(
        F.date_trunc("day", F.max(F.date_trunc("day", "o_orderdate"))).alias(
            "mxd"
        )
    )
    rfm = (
        o.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max(F.date_trunc("day", "o_orderdate")).alias("last_day"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.round(F.sum(dec("o_totalprice")), 4)
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "c_custkey",
            F.datediff(F.col("mxd"), F.col("last_day"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
        # r12 optimization (guide §2.4): each tercile pass consumes its
        # input THREE times (rank window, band sizes, total count) and the
        # three passes chain, so without a barrier the orders aggregation
        # re-executed multiplicatively (~9 upstream runs for the third
        # pass). localCheckpoints pin each stage; the spec is eager so
        # the pinned builds stay inside the timed region.
        .localCheckpoint(eager=True)
    )

    x = rfm
    for metric, width, out in (
        ("recency_days", 30, "r_t"), ("frequency", None, "f_t"), ("monetary", 1000, "m_t")
    ):
        x = global_rank(x, [metric, "c_custkey"], width=width, size="n")
        x = (
            x.withColumn(out, ntile(F.col("rn"), F.col("n"), 3))
            .drop("rn", "n")
            .localCheckpoint(eager=True)  # 3 consumers in the next pass (r12)
        )
    return x.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        (4 - F.col("r_t")).cast("int").alias("r_score"),
        F.col("f_t").cast("int").alias("f_score"),
        F.col("m_t").cast("int").alias("m_score"),
        F.concat(
            (4 - F.col("r_t")).cast("string"),
            F.col("f_t").cast("string"),
            F.col("m_t").cast("string"),
        ).alias("segment"),
    )


_KM_CENSOR_DAYS = 90


@register(
    name="kaplan_meier_customer_lifetime",
    survey="A7 W3 F15 F28",
    doc="Kaplan-Meier survival curve over customer lifetimes (the churn "
    "model behind retention forecasting): lifetime = days between a "
    "customer's first and last order, censored when the last order is "
    f"within {_KM_CENSOR_DAYS} days of the corpus end (they may still "
    "return). Per distinct lifetime day: risk set n(t) = customers "
    "with lifetime >= t (exact integers, total minus a running sum), "
    "churn events d(t), censors, and the log-survival ln S(t) = "
    "cumulative sum of micro-quantized ln(1 - d/n) — an exact bigint, "
    "exp() is left to the consumer because engines differ in its last "
    "ulp. The per-customer rollup is the only row-sized work; every "
    "window runs on the calendar-bounded lifetime-day domain.",
    oracle=f"""
        WITH cust AS (
          SELECT o_custkey,
                 date_diff('day', min(date_trunc('day', o_orderdate)),
                           max(date_trunc('day', o_orderdate))) AS lifetime,
                 (date_diff('day', max(date_trunc('day', o_orderdate)),
                            (SELECT max(date_trunc('day', o_orderdate))
                             FROM orders)) < {_KM_CENSOR_DAYS}) AS censored
          FROM orders GROUP BY o_custkey
        ), per_day AS (
          SELECT lifetime AS t,
                 CAST(count(*) FILTER (WHERE NOT censored) AS BIGINT)
                     AS d_event,
                 CAST(count(*) FILTER (WHERE censored) AS BIGINT)
                     AS n_censor,
                 CAST(count(*) AS BIGINT) AS leaving
          FROM cust GROUP BY lifetime
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_total FROM cust
        ), risk AS (
          SELECT t, d_event, n_censor,
                 n_total
                 - CAST(COALESCE(SUM(leaving) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS n_risk
          FROM per_day, tot
        ), terms AS (
          SELECT t, n_risk, d_event, n_censor,
                 CASE WHEN d_event > 0 AND d_event < n_risk THEN
                   CAST(floor(ln(1.0 - CAST(d_event AS DOUBLE)
                                       / CAST(n_risk AS DOUBLE))
                              * 1000000 - 0.5) * -1 AS BIGINT) * -1
                 WHEN d_event = 0 THEN CAST(0 AS BIGINT)
                 END AS term_micro
          FROM risk)
        SELECT t, n_risk, d_event, n_censor,
               CAST(SUM(term_micro) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS km_log_micro
        FROM terms
    """,
)
def kaplan_meier_customer_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    mx = o.agg(
        F.max(F.date_trunc("day", "o_orderdate")).alias("mxd")
    )
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.min(F.date_trunc("day", "o_orderdate")).alias("d0"),
            F.max(F.date_trunc("day", "o_orderdate")).alias("d1"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff("d1", "d0").alias("lifetime"),
            (F.datediff("mxd", "d1") < _KM_CENSOR_DAYS).alias("censored"),
        )
    )
    per_day = cust.groupBy(F.col("lifetime").alias("t")).agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0))
        .cast("bigint")
        .alias("d_event"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_censor"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    tot = per_day.agg(F.sum("leaving").cast("bigint").alias("n_total"))
    # Bounded domain: one row per LIFETIME DAY (calendar-bounded), same
    # justification as cusum_changepoint / orders_open_interval_sweep.
    wprev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wrun = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = (
        per_day.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0)).cast(
                "bigint"
            ),
        )
    )
    term = F.when(
        (F.col("d_event") > 0) & (F.col("d_event") < F.col("n_risk")),
        (
            F.floor(
                F.log(
                    F.lit(1.0)
                    - F.col("d_event").cast("double")
                    / F.col("n_risk").cast("double")
                )
                * 1000000
                - 0.5
            )
            * -1
        ).cast("bigint")
        * -1,
    ).when(F.col("d_event") == 0, F.lit(0).cast("bigint"))
    return (
        risk.withColumn("term_micro", term)
        .withColumn(
            "km_log_micro",
            F.sum("term_micro").over(wrun).cast("bigint"),
        )
        .select("t", "n_risk", "d_event", "n_censor", "km_log_micro")
    )


_WF_WINDOW_MIN = 60  # funnel window: 60 minutes from the anchoring view


@register(
    name="window_funnel_timeout",
    survey="A7 J8 F15 W2",
    doc="Time-bounded window funnel (ClickHouse windowFunnel semantics): "
    "per user, the deepest view -> click -> purchase level reachable "
    f"where every step lands within {_WF_WINDOW_MIN} minutes of the "
    "anchoring view. Each view anchors a candidate chain (first click "
    "at-or-after it inside the window, then first purchase at-or-after "
    "that click inside the SAME window) and the user's level is the "
    "max over anchors. Events per user are bounded, so the range "
    "joins stay user-keyed and linear; contrast funnel_conversion, "
    "which is the unbounded-window form.",
    oracle=f"""
        WITH ev AS (
          SELECT user_id, event_type, ts FROM events
          WHERE event_type IN ('view', 'click', 'purchase')
        ), anchors AS (
          SELECT user_id, ts AS v_ts,
                 ts + INTERVAL {_WF_WINDOW_MIN} MINUTE AS deadline
          FROM ev WHERE event_type = 'view'
        ), step2 AS (
          SELECT a.user_id, a.v_ts, a.deadline,
                 MIN(c.ts) AS c_ts
          FROM anchors a
          LEFT JOIN ev c ON c.user_id = a.user_id
                        AND c.event_type = 'click'
                        AND c.ts >= a.v_ts AND c.ts <= a.deadline
          GROUP BY a.user_id, a.v_ts, a.deadline
        ), step3 AS (
          SELECT s.user_id, s.v_ts,
                 s.c_ts,
                 MIN(p.ts) AS p_ts
          FROM step2 s
          LEFT JOIN ev p ON p.user_id = s.user_id
                        AND p.event_type = 'purchase'
                        AND s.c_ts IS NOT NULL
                        AND p.ts >= s.c_ts AND p.ts <= s.deadline
          GROUP BY s.user_id, s.v_ts, s.c_ts
        ), levels AS (
          SELECT user_id,
                 CASE WHEN p_ts IS NOT NULL THEN 3
                      WHEN c_ts IS NOT NULL THEN 2
                      ELSE 1 END AS lvl
          FROM step3)
        SELECT user_id,
               CAST(MAX(lvl) AS INT) AS funnel_level,
               CAST(count(*) AS BIGINT) AS n_anchors
        FROM levels GROUP BY user_id
    """,
)
def window_funnel_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", "ts")
    )
    anchors = (
        ev.where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("ts").alias("v_ts"),
            (F.col("ts") + F.expr(f"INTERVAL {_WF_WINDOW_MIN} MINUTE")).alias(
                "deadline"
            ),
        )
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    step2 = (
        anchors.join(
            clicks,
            (F.col("cu") == F.col("user_id"))
            & (F.col("cts") >= F.col("v_ts"))
            & (F.col("cts") <= F.col("deadline")),
            "left",
        )
        .groupBy("user_id", "v_ts", "deadline")
        .agg(F.min("cts").alias("c_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    step3 = (
        step2.join(
            purchases,
            (F.col("pu") == F.col("user_id"))
            & F.col("c_ts").isNotNull()
            & (F.col("pts") >= F.col("c_ts"))
            & (F.col("pts") <= F.col("deadline")),
            "left",
        )
        .groupBy("user_id", "v_ts", "c_ts")
        .agg(F.min("pts").alias("p_ts"))
    )
    lvl = (
        F.when(F.col("p_ts").isNotNull(), 3)
        .when(F.col("c_ts").isNotNull(), 2)
        .otherwise(1)
    )
    return (
        step3.select("user_id", lvl.alias("lvl"))
        .groupBy("user_id")
        .agg(
            F.max("lvl").cast("int").alias("funnel_level"),
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        )
    )


@register(
    name="conversion_lag_stats",
    survey="A7 F15 J7 F28",
    doc="Time-to-convert distribution: per user, seconds from first "
    "view to the first purchase at-or-after it (the funnel_conversion "
    "chain reduced to its latency), then exact integer statistics of "
    "the lag — count, min, max, mean and the exact integer-second "
    "sum. epoch() differences are whole seconds, so every moment is "
    "an exact bigint; the mean divides once.",
    oracle="""
        WITH v AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ts END) AS fv
          FROM events GROUP BY user_id
        ), p AS (
          SELECT e.user_id, MIN(e.ts) AS fp
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= v.fv
          GROUP BY e.user_id
        ), lags AS (
          SELECT CAST(date_diff('second', v.fv, p.fp) AS BIGINT) AS lag_s
          FROM v JOIN p ON v.user_id = p.user_id)
        SELECT CAST(count(*) AS BIGINT) AS n_converters,
               CAST(MIN(lag_s) AS BIGINT) AS min_lag_s,
               CAST(MAX(lag_s) AS BIGINT) AS max_lag_s,
               CAST(SUM(lag_s) AS BIGINT) AS sum_lag_s,
               CAST(SUM(lag_s) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS mean_lag_s
        FROM lags
    """,
)
def conversion_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv")
    )
    p = (
        ev.join(v, "user_id")
        .where((F.col("event_type") == "purchase") & (F.col("ts") >= F.col("fv")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    lags = v.join(p, "user_id").select(
        (F.unix_timestamp("fp") - F.unix_timestamp("fv"))
        .cast("bigint")
        .alias("lag_s")
    )
    return lags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converters"),
        F.min("lag_s").cast("bigint").alias("min_lag_s"),
        F.max("lag_s").cast("bigint").alias("max_lag_s"),
        F.sum("lag_s").cast("bigint").alias("sum_lag_s"),
        (F.sum("lag_s").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_lag_s"
        ),
    )


@register(
    name="burst_day_detection",
    survey="A7 W2 F15 P4",
    doc="Per-user burst-day screen (the rate-based abuse/bot filter a "
    "training-data pipeline runs before trusting behavioral logs, "
    "complementing hourly_baseline_outliers' global seasonal z-scores "
    "with a per-actor view): group events into (user, calendar-day) "
    "cells, keep days with >= 6 events, and report the activity span "
    "and mean inter-arrival gap. All time arithmetic is integer "
    "epoch-microseconds (engine-identical), the only divisions are "
    "single IEEE ops on those integers, and the plan is one shuffle "
    "on the (user_id, day) key followed by a filter - linearly "
    "scalable, no windows, no driver state.",
    oracle="""
        SELECT user_id,
               date_trunc('day', ts) AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               max(epoch_us(ts)) - min(epoch_us(ts)) AS span_us,
               CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) - 1.0) AS mean_gap_us
        FROM events
        GROUP BY 1, 2
        HAVING count(*) >= 6
        ORDER BY user_id, day
    """,
)
def burst_day_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixture ts is TIMESTAMP_NTZ; session TZ is pinned UTC, so the cast
    # to TIMESTAMP is a no-op on the instant and unlocks unix_micros.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.max(us) - F.min(us)).alias("span_us"),
            (
                (F.max(us) - F.min(us)).cast("double")
                / (F.count(F.lit(1)).cast("double") - F.lit(1.0))
            ).alias("mean_gap_us"),
        )
        .where(F.col("n_events") >= 6)
        .orderBy("user_id", "day")
    )


_LN2 = 0.6931471805599453  # math.log(2), shared literal for both engines


@register(
    name="retention_decay_fit",
    survey="A7 J6 F15 F28 W2",
    doc="Exponential retention-decay fit: aggregate the cohort "
    "retention matrix across cohorts to active-user counts per "
    "day-offset, then fit ln(active) = a + b*offset by closed-form "
    "OLS over the calendar-bounded offset domain (offsets >= 1; "
    "ln() micro-quantized per the retrieval.py contract, all "
    "moments exact BIGINT sums) and report the daily decay rate, "
    "the implied retention half-life ln(2)/-b (NULL if activity is "
    "not decaying), and the fit's R^2. The cohort matrix costs one "
    "user-keyed join + aggregate; everything after runs on at most "
    "a-calendar-span rows.",
    oracle=f"""
        WITH first_seen AS (
            SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
            FROM events GROUP BY user_id),
        ret AS (
            SELECT date_diff('day', f.cohort_day, date_trunc('day', e.ts))
                       AS day_offset,
                   CAST(count(DISTINCT e.user_id) AS BIGINT) AS active
            FROM events e JOIN first_seen f USING (user_id)
            GROUP BY 1),
        pts AS (
            SELECT CAST(day_offset AS BIGINT) AS x,
                   CAST(floor(ln(CAST(active AS DOUBLE)) * 1000000 + 0.5)
                        AS BIGINT) AS y
            FROM ret WHERE day_offset >= 1),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM pts)
        SELECT k AS n_offsets,
               (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / 1000000.0 AS decay_per_day,
               CASE WHEN (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) < 0
                    THEN {_LN2!r}
                         / (-((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                              / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE)
                                   * CAST(sx AS DOUBLE))
                              / 1000000.0))
               END AS half_life_days,
               ((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                * (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
               / ((CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   AS r_squared
        FROM m
    """,
)
def retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    ret = (
        ev.join(first_seen, "user_id")
        .groupBy(
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset")
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("active"))
    )
    pts = ret.where(F.col("day_offset") >= 1).select(
        F.col("day_offset").alias("x"),
        F.floor(F.log(F.col("active").cast("double")) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    k = F.col("k").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = k * sxy - sx * sy
    slope = num / (k * sxx - sx * sx) / F.lit(1000000.0)
    return m.select(
        F.col("k").alias("n_offsets"),
        slope.alias("decay_per_day"),
        F.when(num < 0, F.lit(_LN2) / (-slope)).alias("half_life_days"),
        ((num * num) / ((k * sxx - sx * sx) * (k * syy - sy * sy))).alias(
            "r_squared"
        ),
    )


@register(
    name="pareto_8020_users",
    survey="W1 A7 F28 O4",
    doc="Pareto concentration point of user activity: the smallest "
    "top-K user set owning >= 80% of all events, reported as a "
    "count and fraction with its actual share (the '80/20' "
    "complement to lorenz_gini_binned's full curve). Users rank by "
    "(count DESC, user_id) through topk.global_rank - "
    "rank within each COUNT VALUE band (bounded domain) plus "
    "broadcast higher-band offsets, so no global sort of the user "
    "table - and the crossing test is integer cross-multiplied "
    "(5*cum >= 4*total), exact at any scale. The crossing row "
    "itself arrives via sort-limit on the (tiny) filtered set.",
    oracle="""
        WITH per_user AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY user_id
        ), ranked AS (
          SELECT user_id, c,
                 row_number() OVER (ORDER BY c DESC, user_id) AS rk,
                 SUM(c) OVER (ORDER BY c DESC, user_id
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM per_user
        ), t AS (
          SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(SUM(c) AS BIGINT) AS total_events
          FROM per_user
        ), hit AS (
          SELECT rk, cum FROM ranked, t
          WHERE 5 * cum >= 4 * total_events
          ORDER BY rk LIMIT 1)
        SELECT t.n_users, t.total_events,
               CAST(h.rk AS BIGINT) AS top_users_for_80pct,
               CAST(h.rk AS DOUBLE) / CAST(t.n_users AS DOUBLE)
                   AS user_frac,
               CAST(h.cum AS DOUBLE) / CAST(t.total_events AS DOUBLE)
                   AS actual_share
        FROM t CROSS JOIN hit h
    """,
)
def pareto_8020_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # The band is the count value itself (bounded domain).
    ranked = global_rank(per_user, ["c DESC", "user_id"], rank="rk", running={"cum": "c"})
    t = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("c").cast("bigint").alias("total_events"),
    )
    hit = (
        ranked.join(F.broadcast(t))
        .where(5 * F.col("cum") >= 4 * F.col("total_events"))
        .orderBy("rk")
        .limit(1)
        .select("rk", "cum")
    )
    return t.join(F.broadcast(hit)).select(
        "n_users",
        "total_events",
        F.col("rk").cast("bigint").alias("top_users_for_80pct"),
        (F.col("rk").cast("double") / F.col("n_users").cast("double")).alias(
            "user_frac"
        ),
        (F.col("cum").cast("double") / F.col("total_events").cast("double")).alias(
            "actual_share"
        ),
    )


@register(
    name="user_type_signature",
    survey="A7 A8 F28 W2",
    doc="Early-behavior signature census: encode the SET of event types "
    "in each user's FIRST 10 events as a 5-bit mask (bit_or of fixed "
    "per-type powers of two — set-algebraic, order-independent, no "
    "collect; the first-10 cut is a user-keyed row_number with a "
    "total (ts, event_id) tiebreak), then census the signature "
    "space: users per exact signature, breadth via bit_count, and "
    "the mean day-span of that early window (exact integer days, one "
    "display division). The segmentation pass a personalization "
    "pipeline runs to size onboarding cohorts. One user-keyed window "
    "+ two hash aggs, then a rollup onto the bounded <=31-row "
    "signature domain.",
    oracle="""
        WITH first10 AS (
          SELECT user_id, event_type, ts FROM (
            SELECT user_id, event_type, ts,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
                       AS rn
            FROM events) t
          WHERE rn <= 10
        ), ut AS (
          SELECT user_id,
                 bit_or(CASE event_type
                          WHEN 'click' THEN 1
                          WHEN 'error' THEN 2
                          WHEN 'purchase' THEN 4
                          WHEN 'signup' THEN 8
                          ELSE 16 END) AS sig,
                 CAST(date_diff('day',
                      CAST(min(date_trunc('day', ts)) AS DATE),
                      CAST(max(date_trunc('day', ts)) AS DATE))
                   AS BIGINT) AS span_days
          FROM first10 GROUP BY user_id
        )
        SELECT CAST(sig AS BIGINT) AS signature,
               CAST(bit_count(CAST(sig AS BIGINT)) AS BIGINT) AS breadth,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(SUM(span_days) AS BIGINT) AS total_span_days,
               CAST(SUM(span_days) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS avg_span_days
        FROM ut
        GROUP BY sig
        ORDER BY signature
    """,
)
def user_type_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    first10 = (
        load(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
    )
    ut = (
        first10
        .select(
            "user_id",
            F.when(F.col("event_type") == "click", 1)
            .when(F.col("event_type") == "error", 2)
            .when(F.col("event_type") == "purchase", 4)
            .when(F.col("event_type") == "signup", 8)
            .otherwise(16)
            .alias("bit"),
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .groupBy("user_id")
        .agg(
            F.expr("bit_or(bit)").alias("sig"),
            F.datediff(F.max("day"), F.min("day")).cast("bigint").alias("span_days"),
        )
    )
    return (
        ut.groupBy(F.col("sig").cast("bigint").alias("signature"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("span_days").cast("bigint").alias("total_span_days"),
            (
                F.sum("span_days").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_span_days"),
        )
        .select(
            "signature",
            F.bit_count("signature").cast("bigint").alias("breadth"),
            "n_users",
            "total_span_days",
            "avg_span_days",
        )
        .orderBy("signature")
    )


@register(
    name="segment_migration_matrix",
    survey="A7 J7 U1 F15 F28",
    doc="Customer lifecycle migration matrix — the period-over-period "
    "dynamics view that static RFM (rfm_customer_segments) cannot "
    "show: split the order history at the midpoint of the date range, "
    "band each customer's order count per half into activity segments "
    "(absent / one / casual 2-3 / loyal 4+), and cross-tabulate the "
    "H1 -> H2 transitions including churn (active -> absent) and "
    "acquisition (absent -> active). A FULL OUTER join of the two "
    "half-profiles keyed on customer implements the absent states "
    "without scanning customers who never ordered. All counts are "
    "exact integers; the within-H1-segment share is the single "
    "display division. Bounded 4x4 output.",
    oracle="""
        WITH bounds AS (
          SELECT CAST(min(CAST(o_orderdate AS DATE)) AS DATE) AS mn,
                 CAST(date_diff('day',
                      CAST(min(CAST(o_orderdate AS DATE)) AS DATE),
                      CAST(max(CAST(o_orderdate AS DATE)) AS DATE))
                   AS BIGINT) AS span
          FROM orders
        ), marked AS (
          SELECT o.o_custkey,
                 CASE WHEN CAST(date_diff('day', b.mn,
                                CAST(o.o_orderdate AS DATE)) AS BIGINT)
                      < b.span // 2
                      THEN 1 ELSE 2 END AS half
          FROM orders o CROSS JOIN bounds b
        ), per_half AS (
          SELECT o_custkey, half, CAST(count(*) AS BIGINT) AS n_orders
          FROM marked GROUP BY 1, 2
        ), h1 AS (
          SELECT o_custkey,
                 CASE WHEN n_orders >= 4 THEN 'loyal_4plus'
                      WHEN n_orders >= 2 THEN 'casual_2_3'
                      ELSE 'one_order' END AS seg
          FROM per_half WHERE half = 1
        ), h2 AS (
          SELECT o_custkey,
                 CASE WHEN n_orders >= 4 THEN 'loyal_4plus'
                      WHEN n_orders >= 2 THEN 'casual_2_3'
                      ELSE 'one_order' END AS seg
          FROM per_half WHERE half = 2
        ), cells AS (
          SELECT COALESCE(h1.seg, 'absent') AS seg_h1,
                 COALESCE(h2.seg, 'absent') AS seg_h2,
                 CAST(count(*) AS BIGINT) AS n_customers
          FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
          GROUP BY 1, 2
        )
        SELECT seg_h1, seg_h2, n_customers,
               CAST(n_customers AS DOUBLE)
                 / CAST(SUM(n_customers) OVER (PARTITION BY seg_h1)
                        AS DOUBLE) AS share_of_h1_segment
        FROM cells
        ORDER BY seg_h1, seg_h2
    """,
)
def segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("od")
    )
    bounds = orders.agg(
        F.min("od").alias("mn"),
        F.datediff(F.max("od"), F.min("od")).cast("bigint").alias("span"),
    )
    marked = orders.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        F.when(
            F.datediff(F.col("od"), F.col("mn")).cast("bigint")
            < F.expr("span div 2"),
            F.lit(1),
        )
        .otherwise(F.lit(2))
        .alias("half"),
    )
    per_half = marked.groupBy("o_custkey", "half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    seg = (
        F.when(F.col("n_orders") >= 4, "loyal_4plus")
        .when(F.col("n_orders") >= 2, "casual_2_3")
        .otherwise("one_order")
    )
    h1 = per_half.where(F.col("half") == 1).select(
        "o_custkey", seg.alias("seg1")
    )
    h2 = per_half.where(F.col("half") == 2).select(
        F.col("o_custkey").alias("ck2"), seg.alias("seg2")
    )
    cells = (
        h1.join(h2, h1.o_custkey == h2.ck2, "full_outer")
        .select(
            F.coalesce("seg1", F.lit("absent")).alias("seg_h1"),
            F.coalesce("seg2", F.lit("absent")).alias("seg_h2"),
        )
        .groupBy("seg_h1", "seg_h2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )
    wh1 = Window.partitionBy("seg_h1")
    return cells.select(
        "seg_h1",
        "seg_h2",
        "n_customers",
        (
            F.col("n_customers").cast("double")
            / F.sum("n_customers").over(wh1).cast("double")
        ).alias("share_of_h1_segment"),
    ).orderBy("seg_h1", "seg_h2")


@register(
    name="frequent_triples",
    survey="J6 A7 O4 F28",
    doc="Frequent 3-itemset mining over order baskets — one lattice "
    "level above association_rules_parts' pairs: two ascending "
    "self-joins of the distinct basket-membership table (p1 < p2 < "
    "p3 canonicalizes each set to ONE row, no post-dedup), support "
    "counted per triple, global top-15 with full lexicographic "
    "tiebreak via orderBy+limit (TakeOrderedAndProject — no "
    "single-partition window). Fan-out is C(basket,3) <= 35 per "
    "order at TPC-H basket sizes, so the expansion stays linear in "
    "orders; all joins key on the order id.",
    oracle="""
        WITH op AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ), tri AS (
          SELECT a.p AS p1, b.p AS p2, c.p AS p3,
                 CAST(count(*) AS BIGINT) AS support
          FROM op a
          JOIN op b ON a.o = b.o AND a.p < b.p
          JOIN op c ON b.o = c.o AND b.p < c.p
          GROUP BY 1, 2, 3
        )
        SELECT p1, p2, p3, support
        FROM tri
        ORDER BY support DESC, p1, p2, p3
        LIMIT 15
    """,
)
def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = op.alias("a")
    b = op.alias("b")
    c = op.alias("c")
    tri = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .join(c, (F.col("b.o") == F.col("c.o")) & (F.col("b.p") < F.col("c.p")))
        .groupBy(
            F.col("a.p").alias("p1"),
            F.col("b.p").alias("p2"),
            F.col("c.p").alias("p3"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    return tri.orderBy(
        F.col("support").desc(), "p1", "p2", "p3"
    ).limit(15)


@register(
    name="logrank_two_group",
    survey="A7 W3 J5 F15 F28",
    doc="Two-group log-rank test on customer lifetimes — the "
    "significance companion to kaplan_meier_customer_lifetime (same "
    "lifetime/censoring contract: lifetime = first-to-last-order "
    "days, censored within 90 days of corpus end), comparing the "
    "md5(custkey) mod 2 cohorts: at every distinct event day, "
    "observed group-1 events vs the hypergeometric expectation "
    "d*r1/r and variance d*r1*(r-r1)*(r-d)/(r^2*(r-1)). Both are "
    "integer-micro quantized with SEQUENTIAL integer divisions "
    "(documented estimator definition; keeps every term inside "
    "bigint), so the O-E and variance sums are exact and the chi^2 "
    "is one fixed-order double expression. At-risk counts come from "
    "total-minus-running-sum over the calendar-bounded lifetime-day "
    "domain — the only row-sized work is the per-customer rollup.",
    oracle="""
        WITH cust AS (
          SELECT o_custkey,
                 CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                     1, 8) AS BIGINT) % 2 AS grp,
                 CAST(date_diff('day',
                      min(date_trunc('day', o_orderdate)),
                      max(date_trunc('day', o_orderdate))) AS BIGINT)
                     AS lifetime,
                 (date_diff('day', max(date_trunc('day', o_orderdate)),
                            (SELECT max(date_trunc('day', o_orderdate))
                             FROM orders)) < 90) AS censored
          FROM orders GROUP BY o_custkey
        ), totals AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS n_g
          FROM cust GROUP BY grp
        ), per_day AS (
          SELECT lifetime AS t, grp,
                 CAST(count(*) AS BIGINT) AS ended,
                 CAST(count(*) FILTER (WHERE NOT censored) AS BIGINT)
                     AS d_g
          FROM cust GROUP BY 1, 2
        ), grid AS (
          SELECT DISTINCT t FROM per_day
        ), cells AS (
          SELECT g.t, tt.grp,
                 COALESCE(p.ended, 0) AS ended,
                 COALESCE(p.d_g, 0) AS d_g
          FROM grid g
          CROSS JOIN (SELECT DISTINCT grp FROM cust) tt
          LEFT JOIN per_day p ON p.t = g.t AND p.grp = tt.grp
        ), risk AS (
          SELECT c.t, c.grp, c.d_g,
                 tt.n_g - (SUM(c.ended) OVER (PARTITION BY c.grp
                           ORDER BY c.t ROWS UNBOUNDED PRECEDING)
                           - c.ended) AS r_g
          FROM cells c JOIN totals tt ON tt.grp = c.grp
        ), days AS (
          SELECT t,
                 SUM(CASE WHEN grp = 1 THEN d_g ELSE 0 END) AS d1,
                 SUM(d_g) AS d,
                 SUM(CASE WHEN grp = 1 THEN r_g ELSE 0 END) AS r1,
                 SUM(r_g) AS r
          FROM risk GROUP BY t
        ), terms AS (
          SELECT d1,
                 (d * r1 * 1000000) // r AS e1_micro,
                 ((((d * r1 * (r - r1)) // r) * (r - d)) * 1000000)
                   // (r * (r - 1)) AS v1_micro
          FROM days WHERE d > 0 AND r > 1
        )
        SELECT CAST(SUM(d1) AS BIGINT) AS o1,
               CAST(SUM(e1_micro) AS BIGINT) AS e1_micro,
               CAST(SUM(v1_micro) AS BIGINT) AS v1_micro,
               (CAST(SUM(d1) * 1000000 - SUM(e1_micro) AS DOUBLE)
                / 1000000.0)
               * (CAST(SUM(d1) * 1000000 - SUM(e1_micro) AS DOUBLE)
                / 1000000.0)
               / (CAST(SUM(v1_micro) AS DOUBLE) / 1000000.0)
                   AS logrank_chi2
        FROM terms
    """,
)
def logrank_two_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", F.date_trunc("day", "o_orderdate").cast("date").alias("od")
    )
    corpus_end = orders.agg(F.max("od").alias("end"))
    cust = (
        orders.crossJoin(F.broadcast(corpus_end))
        .groupBy(
            "o_custkey",
            F.expr(
                "CAST(conv(substr(md5(CAST(o_custkey AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("grp"),
        )
        .agg(
            F.datediff(F.max("od"), F.min("od")).cast("bigint").alias("lifetime"),
            (F.datediff(F.max("end"), F.max("od")) < 90).alias("censored"),
        )
    )
    totals = cust.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint").alias("n_g"))
    per_day = cust.groupBy(F.col("lifetime").alias("t"), "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("ended"),
        F.sum(F.when(~F.col("censored"), 1).otherwise(0))
        .cast("bigint")
        .alias("d_g"),
    )
    grid = per_day.select("t").distinct()
    grps = cust.select("grp").distinct()
    cells = (
        grid.crossJoin(F.broadcast(grps))
        .join(per_day, ["t", "grp"], "left")
        .select(
            "t",
            "grp",
            F.coalesce("ended", F.lit(0)).alias("ended"),
            F.coalesce("d_g", F.lit(0)).alias("d_g"),
        )
    )
    wcum = (
        Window.partitionBy("grp").orderBy("t").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    risk = cells.join(totals, "grp").select(
        "t",
        "grp",
        "d_g",
        (
            F.col("n_g")
            - (F.sum("ended").over(wcum) - F.col("ended"))
        ).alias("r_g"),
    )
    days = risk.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("d_g")).otherwise(0)).alias("d1"),
        F.sum("d_g").alias("d"),
        F.sum(F.when(F.col("grp") == 1, F.col("r_g")).otherwise(0)).alias("r1"),
        F.sum("r_g").alias("r"),
    )
    terms = days.where((F.col("d") > 0) & (F.col("r") > 1)).select(
        "d1",
        F.expr("(d * r1 * 1000000) div r").alias("e1_micro"),
        F.expr(
            "((((d * r1 * (r - r1)) div r) * (r - d)) * 1000000)"
            " div (r * (r - 1))"
        ).alias("v1_micro"),
    )
    return terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1_micro").cast("bigint").alias("e1_micro"),
        F.sum("v1_micro").cast("bigint").alias("v1_micro"),
        F.expr(
            "(CAST(SUM(d1) * 1000000 - SUM(e1_micro) AS DOUBLE) / 1000000.0)"
            " * (CAST(SUM(d1) * 1000000 - SUM(e1_micro) AS DOUBLE)"
            " / 1000000.0)"
            " / (CAST(SUM(v1_micro) AS DOUBLE) / 1000000.0)"
        ).alias("logrank_chi2"),
    )
