"""Distinct-count sketching and equi-depth binning ([NORTH-STAR] scale
path beside the exact aggregates in queries/relational.py and the
count-min sketch in queries/arrays_text.py).

KMV (k-minimum-values) is the classic mergeable distinct-count sketch
(Bar-Yossef et al.): hash every key, keep the k smallest distinct hash
values; the k-th smallest estimates cardinality as (k-1) * H / h_k for a
hash range H. Unlike HLL (whose register layout is engine-internal and
only tolerance-testable — see tests/test_operators.py), KMV built on the
repo's cross-engine md5 hash family is EXACTLY reproducible in DuckDB,
so the sketch itself sits under the differential oracle: both engines
must agree on every one of the k retained hashes and the resulting
estimate. At 100 TB the same plan holds: the hash projection is
scan-side, the distinct is one shuffle, and keeping k smallest is a
TakeOrderedAndProject (k rows to the driver-side sort, never the data).

Equi-depth histogram: ntile over a total order with an explicit unique
tiebreak — the complement of value_histogram's equi-WIDTH bins; the
standard feature-binning step before quantile-based capping/clipping in
a training-data pipeline. One window shuffle; bounded output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load
from uk_procurement_data_pipeline_spark.functions.topk import global_rank, ntile
from uk_procurement_data_pipeline_spark.queries.base import register

_K = 64
_HASH_RANGE = float(2**32)  # md5 first 8 hex chars -> [0, 2^32)

_N_BINS = 10


@register(
    name="kmv_distinct_sketch",
    survey="A8 A7 O4",
    doc="KMV distinct-count sketch over events.user_id, exactly oracle-"
    "checked: md5-based 32-bit hash (the dedup.py hash family), "
    "distinct hashes, 64 smallest kept via global sort-limit "
    "(TakeOrderedAndProject: only k rows cross to the final stage), "
    "estimate (k-1)*2^32/h_k floored to bigint, emitted beside the "
    "true distinct count and the absolute error so the estimate "
    "quality is part of the checked result.",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                                 1, 8) AS BIGINT) AS hv
            FROM events),
        kmin AS (
            SELECT hv FROM h ORDER BY hv LIMIT {_K}),
        sk AS (
            SELECT COUNT(*) AS k_used, MAX(hv) AS kth_min_hash
            FROM kmin),
        tru AS (
            SELECT COUNT(DISTINCT user_id) AS true_distinct FROM events)
        SELECT k_used, kth_min_hash,
               CAST(floor((CAST(k_used AS DOUBLE) - 1.0) * {_HASH_RANGE!r}
                          / CAST(kth_min_hash AS DOUBLE)) AS BIGINT)
                   AS est_distinct,
               true_distinct,
               abs(CAST(floor((CAST(k_used AS DOUBLE) - 1.0) * {_HASH_RANGE!r}
                              / CAST(kth_min_hash AS DOUBLE)) AS BIGINT)
                   - true_distinct) AS abs_err
        FROM sk, tru
    """,
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    h = events.select(
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT)"
        ).alias("hv")
    ).distinct()
    kmin = h.orderBy("hv").limit(_K)
    sk = kmin.agg(
        F.count(F.lit(1)).alias("k_used"), F.max("hv").alias("kth_min_hash")
    )
    tru = events.agg(F.count_distinct("user_id").alias("true_distinct"))
    est = F.floor(
        (F.col("k_used").cast("double") - F.lit(1.0))
        * F.lit(_HASH_RANGE)
        / F.col("kth_min_hash").cast("double")
    ).cast("bigint")
    return (
        sk.join(F.broadcast(tru))
        .withColumn("est_distinct", est)
        .withColumn(
            "abs_err", F.abs(F.col("est_distinct") - F.col("true_distinct"))
        )
        .select(
            "k_used", "kth_min_hash", "est_distinct", "true_distinct", "abs_err"
        )
    )


@register(
    name="equidepth_value_bins",
    survey="W1 A7 F28",
    doc="Equi-depth (quantile) binning of event values with ntile(10) "
    "semantics over the total order (value, event_id), computed WITHOUT "
    "an unpartitioned WindowExec: topk.global_rank in floor(value) "
    "bands (row_number within each band — parallel across bands — plus "
    "broadcast strictly-lower-band offsets) gives the global rank, and "
    "topk.ntile's first-(n%b)-buckets-get-one-extra rule is then pure "
    "arithmetic on (rank, n). The oracle keeps the literal ntile() "
    "window, certifying the distributed rewrite EQUALS the textbook "
    "single-sort semantics. Per-bin count/min/max/exact-sum output; "
    "the complement of value_histogram's equi-width bins.",
    oracle="""
        WITH binned AS (
            SELECT value,
                   ntile(10) OVER (ORDER BY value, event_id) AS bin
            FROM events WHERE value IS NOT NULL)
        SELECT bin, COUNT(*) AS n,
               min(value) AS lo, max(value) AS hi,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38,8))), 4) AS DOUBLE)
                   AS bin_sum
        FROM binned GROUP BY bin
    """,
)
def equidepth_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import exact_sum

    events = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_id", "value")
    )
    # Global rank without a global sort, in $1 value bands (bounded).
    ranked = global_rank(events, ["value", "event_id"], width=1, size="n")
    return (
        ranked.select("value", ntile(F.col("rn"), F.col("n"), _N_BINS).alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            exact_sum("value", "bin_sum"),
        )
    )


_DUCK_HV_UD = (
    "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '-' "
    "|| CAST(d AS VARCHAR)), 1, 8) AS BIGINT)"
)
_SPARK_HV_UD = (
    "CAST(conv(substr(md5(concat(CAST(user_id AS STRING), '-', "
    "CAST(d AS STRING))), 1, 8), 16, 10) AS BIGINT)"
)


@register(
    name="kmv_union_jaccard",
    survey="A8 A7 U3 O4",
    doc="KMV sketch MERGEABILITY — the property that makes a sketch a "
    "distributed aggregate: two overlapping active-user-day sets (days "
    "1-15 vs 10-25) are sketched independently (64 smallest distinct "
    "md5 hashes each), merged by re-minning the union of retained "
    "hashes, and the merged sketch estimates the union cardinality "
    "while the fraction of its hashes present in BOTH input sketches "
    "estimates Jaccard (hence the intersection). True union/intersect "
    "distinct counts sit in the same row, so the estimator's error is "
    "itself oracle-certified. Post-sketch frames are <=128 rows — "
    "every merge-side join is a broadcast of k hashes.",
    oracle=f"""
        WITH keys AS (
            SELECT DISTINCT user_id, date_part('day', ts) AS d
            FROM events),
        hk AS (SELECT user_id, d, {_DUCK_HV_UD} AS hv FROM keys),
        ska AS (SELECT DISTINCT hv FROM hk WHERE d BETWEEN 1 AND 15
                ORDER BY hv LIMIT 64),
        skb AS (SELECT DISTINCT hv FROM hk WHERE d BETWEEN 10 AND 25
                ORDER BY hv LIMIT 64),
        merged AS (
            SELECT hv FROM (SELECT hv FROM ska UNION SELECT hv FROM skb)
            ORDER BY hv LIMIT 64),
        msk AS (
            SELECT COUNT(*) AS k_used, MAX(hv) AS h_k,
                   COUNT(*) FILTER (WHERE hv IN (SELECT hv FROM ska)
                                      AND hv IN (SELECT hv FROM skb))
                       AS n_both
            FROM merged),
        tru AS (
            SELECT (SELECT COUNT(*) FROM keys WHERE d BETWEEN 1 AND 25)
                       AS true_union,
                   (SELECT COUNT(*) FROM keys
                    WHERE d BETWEEN 10 AND 15) AS true_intersect)
        SELECT k_used, n_both,
               CAST(floor((CAST(k_used AS DOUBLE) - 1.0) * 4294967296.0
                          / CAST(h_k AS DOUBLE)) AS BIGINT) AS est_union,
               CAST(floor(CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE)
                          * ((CAST(k_used AS DOUBLE) - 1.0) * 4294967296.0
                             / CAST(h_k AS DOUBLE))) AS BIGINT)
                   AS est_intersect,
               true_union, true_intersect
        FROM msk, tru
    """,
)
def kmv_union_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").selectExpr(
        "user_id", "dayofmonth(ts) AS d"
    )
    keys = ev.distinct()
    hk = keys.selectExpr("user_id", "d", f"{_SPARK_HV_UD} AS hv")
    ska = (
        hk.where(F.col("d").between(1, 15)).select("hv").distinct()
        .orderBy("hv").limit(_K)
    )
    skb = (
        hk.where(F.col("d").between(10, 25)).select("hv").distinct()
        .orderBy("hv").limit(_K)
    )
    merged = ska.union(skb).distinct().orderBy("hv").limit(_K)
    in_a = merged.join(F.broadcast(ska), "hv", "left_semi")
    in_both = in_a.join(F.broadcast(skb), "hv", "left_semi")
    msk = (
        merged.agg(
            F.count(F.lit(1)).alias("k_used"), F.max("hv").alias("h_k")
        )
        .join(F.broadcast(in_both.agg(F.count(F.lit(1)).alias("n_both"))))
    )
    tru = (
        keys.where(F.col("d").between(1, 25))
        .agg(F.count(F.lit(1)).alias("true_union"))
        .join(
            F.broadcast(
                keys.where(F.col("d").between(10, 15)).agg(
                    F.count(F.lit(1)).alias("true_intersect")
                )
            )
        )
    )
    u = (F.col("k_used").cast("double") - F.lit(1.0)) * F.lit(
        _HASH_RANGE
    ) / F.col("h_k").cast("double")
    return (
        msk.join(F.broadcast(tru))
        .select(
            "k_used",
            "n_both",
            F.floor(u).cast("bigint").alias("est_union"),
            F.floor(
                F.col("n_both").cast("double")
                / F.col("k_used").cast("double")
                * u
            ).cast("bigint").alias("est_intersect"),
            "true_union",
            "true_intersect",
        )
    )


_PSI_BANDS = 10
_PSI_W = 50.0  # fixture values live in [0, ~500): 10 fixed-width bands

# Smoothed per-band PSI contribution in micro units, quantized BEFORE the
# final sum (the tfidf.py ln() contract). p_i = (n_i + 1) / (N + B).
_PSI_TERM = """
    CAST(floor(
        ((CAST(n1 AS DOUBLE) + 1.0) / (CAST(tot1 AS DOUBLE) + 10.0)
         - (CAST(n0 AS DOUBLE) + 1.0) / (CAST(tot0 AS DOUBLE) + 10.0))
        * ln(((CAST(n1 AS DOUBLE) + 1.0) / (CAST(tot1 AS DOUBLE) + 10.0))
             / ((CAST(n0 AS DOUBLE) + 1.0) / (CAST(tot0 AS DOUBLE) + 10.0)))
        * 1000000 + 0.5) AS BIGINT)
"""


@register(
    name="psi_value_drift",
    survey="A7 F28 J5 F15",
    doc="Population-stability-index drift check between two halves of the "
    "month (the data-quality gate in front of a model retrain): fixed "
    "value bands from a generated sequence (zero-filled via left join, "
    "+1 smoothing so empty bands stay finite), per-band counts for each "
    "period, PSI contribution per band micro-quantized then exactly "
    "summable. Per-band rows emitted so the oracle certifies the full "
    "drift profile, not one number; band domain is bounded so every "
    "post-count frame broadcasts.",
    oracle=f"""
        WITH ev AS (
            SELECT CAST(least(floor(value / {_PSI_W!r}),
                              {_PSI_BANDS - 1}) AS BIGINT) AS band,
                   date_part('day', ts) <= 15 AS first_half
            FROM events WHERE value IS NOT NULL),
        bands AS (SELECT unnest(range({_PSI_BANDS})) AS band),
        c0 AS (SELECT band, COUNT(*) AS n0 FROM ev
               WHERE first_half GROUP BY band),
        c1 AS (SELECT band, COUNT(*) AS n1 FROM ev
               WHERE NOT first_half GROUP BY band),
        t AS (SELECT (SELECT COUNT(*) FROM ev WHERE first_half) AS tot0,
                     (SELECT COUNT(*) FROM ev WHERE NOT first_half) AS tot1)
        SELECT bands.band,
               COALESCE(n0, 0) AS n0, COALESCE(n1, 0) AS n1,
               (SELECT {_PSI_TERM.replace('n0', 'COALESCE(n0, 0)')
                                 .replace('n1', 'COALESCE(n1, 0)')})
                   AS psi_term_micro
        FROM bands
        LEFT JOIN c0 USING (band)
        LEFT JOIN c1 USING (band)
        CROSS JOIN t
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.least(
                F.floor(F.col("value") / _PSI_W), F.lit(_PSI_BANDS - 1)
            ).cast("bigint").alias("band"),
            (F.dayofmonth("ts") <= 15).alias("first_half"),
        )
    )
    bands = spark.range(_PSI_BANDS).select(F.col("id").alias("band"))
    c0 = ev.where("first_half").groupBy("band").agg(
        F.count(F.lit(1)).alias("n0")
    )
    c1 = ev.where("NOT first_half").groupBy("band").agg(
        F.count(F.lit(1)).alias("n1")
    )
    t = ev.agg(
        F.count(F.when(F.col("first_half"), 1)).alias("tot0"),
        F.count(F.when(~F.col("first_half"), 1)).alias("tot1"),
    )
    filled = (
        bands.join(F.broadcast(c0), "band", "left")
        .join(F.broadcast(c1), "band", "left")
        .join(F.broadcast(t))
        .select(
            "band",
            F.coalesce("n0", F.lit(0)).alias("n0"),
            F.coalesce("n1", F.lit(0)).alias("n1"),
            "tot0",
            "tot1",
        )
    )
    return filled.select(
        "band", "n0", "n1", F.expr(_PSI_TERM).alias("psi_term_micro")
    )


@register(
    name="ams_f2_sketch",
    survey="A7 A8 F28 W1",
    doc="AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996) "
    "vs the exact F2 of the part-key stream — the self-join-size "
    "estimator a cost-based optimizer wants, joining the registered "
    "sketch family (KMV distinct, count-min, bloom, simhash): 16 "
    "independent +/-1 hash estimators (md5(part||k) parity — the "
    "engine-portable hash family), each a signed frequency sum whose "
    "SQUARE estimates F2, combined by the explicit-order-statistic "
    "median (avg of ranks 8 and 9 — never an engine median()). "
    "Everything is exact integer arithmetic; the x16 estimator "
    "fan-out collapses by map-side partial agg onto the 16-row "
    "estimator domain. The exact side is one (part) hash agg.",
    oracle="""
        WITH freq AS (
          SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS f
          FROM lineitem GROUP BY l_partkey
        ), exact AS (
          SELECT CAST(SUM(f * f) AS BIGINT) AS f2 FROM freq
        ), est AS (
          SELECT k.k,
                 CAST(SUM(f * (CASE WHEN
                   CAST('0x' || substr(md5(CAST(p AS VARCHAR) || '-'
                        || CAST(k.k AS VARCHAR)), 1, 8) AS BIGINT) % 2
                   = 0 THEN 1 ELSE -1 END)) AS BIGINT) AS x
          FROM freq CROSS JOIN (SELECT unnest(range(1, 17)) AS k) k
          GROUP BY k.k
        ), ranked AS (
          SELECT x * x AS e,
                 row_number() OVER (ORDER BY x * x, k) AS rn
          FROM est
        ), med AS (
          SELECT CAST(SUM(CASE WHEN rn IN (8, 9) THEN e ELSE 0 END)
                      AS BIGINT) // 2 AS ams_f2
          FROM ranked
        )
        SELECT x.f2 AS exact_f2, m.ams_f2,
               ABS(CAST(m.ams_f2 AS DOUBLE) - CAST(x.f2 AS DOUBLE))
                 / CAST(x.f2 AS DOUBLE) AS rel_error
        FROM exact x CROSS JOIN med m
    """,
)
def ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    freq = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("p"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    exact = freq.agg(F.sum(F.col("f") * F.col("f")).cast("bigint").alias("f2"))
    ks = spark.range(1, 17).select(F.col("id").cast("bigint").alias("k"))
    est = (
        freq.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.col("f")
                * F.expr(
                    "CASE WHEN CAST(conv(substr(md5(CAST(p AS STRING) || '-'"
                    " || CAST(k AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"
                    " = 0 THEN 1 ELSE -1 END"
                )
            )
            .cast("bigint")
            .alias("x")
        )
    )
    ranked = est.select(
        (F.col("x") * F.col("x")).alias("e"),
        F.row_number()
        .over(Window.orderBy(F.expr("x * x"), "k"))
        .alias("rn"),
    )
    med = ranked.agg(
        F.expr(
            "CAST(SUM(CASE WHEN rn IN (8, 9) THEN e ELSE 0 END) AS BIGINT)"
            " div 2"
        ).alias("ams_f2")
    )
    return (
        exact.crossJoin(F.broadcast(med))
        .select(
            F.col("f2").alias("exact_f2"),
            "ams_f2",
            (
                F.abs(F.col("ams_f2").cast("double") - F.col("f2").cast("double"))
                / F.col("f2").cast("double")
            ).alias("rel_error"),
        )
    )


# Bloom filter constants: m bits, k independent md5-derived hash
# functions (the repo's cross-engine hash family, salted with the probe
# index). Like KMV above, the filter is EXACTLY reproducible in DuckDB,
# so the sketch itself — not a tolerance band — sits under the oracle.
_BLOOM_M = 4096
_BLOOM_K = 3


@register(
    name="bloom_membership_probe",
    survey="A8 J7 J5 P4",
    doc="Deterministic Bloom-filter membership with exact false-positive "
    "accounting (the value-checked form of Spark's runtime bloom join "
    "pruning, pinned plan-side in tests/test_plans.py): the denylist "
    "(customers with negative balance) sets k=3 md5-derived bit "
    "positions in an m=4096 filter; every ordering customer probes all "
    "three, positive iff all are set; the exact membership join then "
    "splits positives into true hits and FALSE POSITIVES, and the "
    "readout reports both plus the micro-quantized FP rate over true "
    "negatives. Scale shape: the filter is a bounded <=m-row bit set "
    "(broadcast), probing is a map-side join — the reason bloom "
    "pruning is the cheap pre-filter before an expensive shuffle join "
    "at 100 TB.",
    oracle=f"""
        WITH deny AS (
            SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal < 0),
        bits AS (
            SELECT DISTINCT
                   CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                                           || ':' || i), 1, 8) AS BIGINT)
                       % {_BLOOM_M} AS pos
            FROM deny, generate_series(1, {_BLOOM_K}) t(i)),
        probe AS (
            SELECT DISTINCT o_custkey FROM orders),
        ppos AS (
            SELECT o_custkey,
                   CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)
                                           || ':' || i), 1, 8) AS BIGINT)
                       % {_BLOOM_M} AS pos
            FROM probe, generate_series(1, {_BLOOM_K}) t(i)),
        hits AS (
            SELECT o_custkey, count(*) AS n_set
            FROM ppos JOIN bits USING (pos)
            GROUP BY o_custkey),
        verdicts AS (
            SELECT p.o_custkey,
                   COALESCE(h.n_set, 0) = {_BLOOM_K} AS bloom_pos,
                   d.c_custkey IS NOT NULL AS truly_in
            FROM probe p
            LEFT JOIN hits h ON p.o_custkey = h.o_custkey
            LEFT JOIN deny d ON p.o_custkey = d.c_custkey)
        SELECT CAST(count(*) AS BIGINT) AS n_probed,
               CAST(count(*) FILTER (WHERE bloom_pos) AS BIGINT)
                   AS n_bloom_positive,
               CAST(count(*) FILTER (WHERE truly_in) AS BIGINT) AS n_true,
               CAST(count(*) FILTER (WHERE bloom_pos AND NOT truly_in)
                    AS BIGINT) AS n_false_positive,
               CAST(count(*) FILTER (WHERE truly_in AND NOT bloom_pos)
                    AS BIGINT) AS n_false_negative,
               CAST(floor(CAST(count(*) FILTER (WHERE bloom_pos
                                                AND NOT truly_in) AS DOUBLE)
                          * 1000000.0
                          / CAST(count(*) FILTER (WHERE NOT truly_in)
                                 AS DOUBLE)) AS BIGINT) AS fp_rate_micro
        FROM verdicts
    """,
)
def bloom_membership_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos_expr = (
        "CAST(conv(substr(md5(concat(CAST({key} AS STRING), ':',"
        " CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % {m}"
    )
    deny = (
        load(spark, sf_dir, "customer")
        .where("c_acctbal < 0")
        .select("c_custkey")
        .distinct()
    )
    idx = F.explode(F.sequence(F.lit(1), F.lit(_BLOOM_K))).alias("i")
    bits = (
        deny.select("c_custkey", idx)
        .selectExpr(
            pos_expr.format(key="c_custkey", m=_BLOOM_M) + " AS pos"
        )
        .distinct()
    )
    probe = load(spark, sf_dir, "orders").select("o_custkey").distinct()
    ppos = probe.select("o_custkey", idx).selectExpr(
        "o_custkey", pos_expr.format(key="o_custkey", m=_BLOOM_M) + " AS pos"
    )
    hits = (
        ppos.join(F.broadcast(bits), "pos")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_set"))
    )
    verdicts = (
        probe.join(hits, "o_custkey", "left")
        .join(
            F.broadcast(deny.selectExpr("c_custkey AS o_custkey", "1 AS d")),
            "o_custkey",
            "left",
        )
        .select(
            (F.coalesce(F.col("n_set"), F.lit(0)) == _BLOOM_K).alias(
                "bloom_pos"
            ),
            F.col("d").isNotNull().alias("truly_in"),
        )
    )
    fp = F.count_if(F.col("bloom_pos") & ~F.col("truly_in"))
    tn = F.count_if(~F.col("truly_in"))
    return verdicts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probed"),
        F.count_if("bloom_pos").cast("bigint").alias("n_bloom_positive"),
        F.count_if("truly_in").cast("bigint").alias("n_true"),
        fp.cast("bigint").alias("n_false_positive"),
        F.count_if(F.col("truly_in") & ~F.col("bloom_pos"))
        .cast("bigint")
        .alias("n_false_negative"),
        F.floor(fp.cast("double") * F.lit(1_000_000.0) / tn.cast("double"))
        .cast("bigint")
        .alias("fp_rate_micro"),
    )


_HH_K = 64  # heavy-hitter counter budget: guarantees freq > N/(K+1) found


def mg_merge_batches(batches, k: int) -> dict[str, int]:
    """Bounded-K Misra-Gries over an iterator of pandas frames with a
    ``term`` column — the mergeable-summary form of Agarwal et al.:
    accumulate one Arrow batch's value_counts, then when the counter set
    exceeds K subtract the (K+1)-th largest count and keep positives.
    State never exceeds K counters plus one transient batch. Module-level
    so the production mapInPandas stage and the bound-pinning test drive
    the SAME code (ADVICE r08: the test previously validated a copied
    mirror that could drift)."""
    counters: dict[str, int] = {}
    for pdf in batches:
        for term, c in pdf["term"].value_counts().items():
            counters[term] = counters.get(term, 0) + int(c)
        if len(counters) > k:
            kth = sorted(counters.values(), reverse=True)[k]
            counters = {t: c - kth for t, c in counters.items() if c > kth}
    return counters


@register(
    name="heavy_hitters_two_phase",
    survey="A7 UD4 J5 A8",
    doc="Distributed heavy hitters with the Misra-Gries guarantee, the "
    "two-phase shape that finds frequent tokens in one pass over a "
    "corpus too large to count exactly everywhere: phase 1 runs a "
    "partition-LOCAL bounded-memory Misra-Gries summary inside "
    "mapInPandas — K=64 counters merged batch-by-batch (vectorized "
    "value_counts per Arrow batch, then the mergeable-summary "
    "truncation of Agarwal et al.: subtract the (K+1)-th largest "
    "count, drop non-positive), so per-partition state is <= K "
    "counters plus one transient Arrow batch regardless of distinct "
    "terms. An MG residual underestimates a term's local count by at "
    "most local_n/(K+1); by averaging, every GLOBAL heavy hitter "
    "(count*65 > N with K=64) exceeds local_n/(K+1) in at least one "
    "partition, hence survives with a positive residual there, so the "
    "candidate union (<= K per partition) can miss nothing. Phase 2 "
    "exactly recounts ONLY the candidates (broadcast semi-join) and "
    "applies the global threshold, which deletes every false "
    "candidate. The final set is therefore EXACT and "
    "partition-invariant even though the intermediate candidate set is "
    "not — the property that makes the pattern safe on any cluster "
    "shape, pinned by the invariance sweep. All threshold comparisons "
    "are integer (count * 65 > N), no float division.",
    oracle="""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS term
            FROM documents),
        tot AS (SELECT count(*) AS n FROM toks)
        SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM toks, tot
        GROUP BY term, tot.n
        HAVING count(*) * 65 > tot.n
    """,
)
def heavy_hitters_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    toks = load(spark, sf_dir, "documents").selectExpr(
        "explode(split(text, ' ')) AS term"
    )

    def local_candidates(batches):
        # Bounded-K Misra-Gries, merged batchwise via the module-level
        # mg_merge_batches (shared with the bound-pinning test): total
        # decrement over a partition of n_local items is <= n_local/(K+1),
        # so any term with true local count above that bar ends with a
        # POSITIVE residual and is emitted.
        yield pd.DataFrame({"term": list(mg_merge_batches(batches, _HH_K))})

    cands = toks.mapInPandas(
        local_candidates, schema="term string"
    ).distinct()
    total = toks.groupBy().agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(cands), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_occurrences") * (_HH_K + 1) > F.col("n"))
        .select("term", "n_occurrences")
    )


# --- explicit HyperLogLog registers (r12) ---------------------------------
# Unlike approx_count_distinct (whose HLL register layout is engine-
# internal and only tolerance-testable), these registers are built from
# the repo's cross-engine md5 hash family, so the SKETCH ITSELF sits
# under the differential oracle: both engines must agree on all 64
# register values, the scaled harmonic sum, and the estimate.
_HLL_M = 64  # registers (p = 6 prefix bits)
_HLL_SUFFIX_BITS = 26  # 32-bit hash minus the 6 register bits
_HLL_SUFFIX_MOD = 1 << _HLL_SUFFIX_BITS  # 67108864
_HLL_RMAX = _HLL_SUFFIX_BITS + 1  # rank when the suffix is all zeros
# alpha_m * m^2 * 2^27 spelled as the same literal arithmetic in both
# engines (IEEE-754 left-to-right, so the folded constants are
# bit-identical): 0.7213 / (1.0 + 1.079/64.0) * 64.0 * 64.0 * 2^27.
_HLL_EST_NUM = (
    "0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0 * 134217728.0"
)
# Small-range (linear-counting) gate: E_raw <= 2.5 * m, any empty register.
_HLL_LC_BOUND = 2.5 * 64


def _hll_est_sql(v_empty: str, s_scaled: str) -> str:
    """Shared estimator expression (identical text both engines):
    linear counting m*ln(m/V) when the raw estimate is small and empty
    registers remain, else the raw harmonic-mean estimate; +0.5-floored
    to a BIGINT so the one float expression is micro-robust."""
    raw = f"{_HLL_EST_NUM} / CAST({s_scaled} AS DOUBLE)"
    return (
        f"CAST(CASE WHEN {v_empty} > 0 AND {raw} <= {_HLL_LC_BOUND!r} "
        f"THEN floor(64.0 * ln(64.0 / CAST({v_empty} AS DOUBLE)) + 0.5) "
        f"ELSE floor({raw} + 0.5) END AS BIGINT)"
    )


@register(
    name="hll_register_sketch",
    survey="A8 A7 J6 F15",
    doc="Explicit HyperLogLog (Flajolet et al. 2007) daily-active-users "
    "sketch with the registers THEMSELVES under the oracle: 32-bit "
    "md5 hash -> 6-bit register index + leading-zero rank of the "
    "26-bit suffix (string-free length(bin(x)) arithmetic, exact in "
    "both engines); per-day register table = one (day, register) "
    "max-agg over a generated full spine so empty registers carry "
    "rank 0; the harmonic sum is kept EXACT as the bigint "
    "sum(1 << (27 - rank)) — every term a dyadic integer — so the "
    "only float op is the final estimate division, +0.5-floored. "
    "Emits per-day rows AND the '__ALL__' row obtained by register-"
    "wise MAX across days — the mergeability that makes HLL the "
    "100 TB distinct-count shape (per-partition sketches union by "
    "max, never re-scanning), beside the exact per-day truth and "
    "absolute error so estimate quality is part of the checked "
    "result. Small-range linear counting (m*ln(m/V)) engages "
    "per-branch deterministically; the three fixture SFs land in all "
    "three regimes (sparse / boundary / raw).",
    oracle=f"""
        WITH ev AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS scope, user_id,
                   CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                        AS BIGINT) AS hv
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        hr AS (
            SELECT scope, user_id, hv >> {_HLL_SUFFIX_BITS} AS reg,
                   CASE WHEN hv % {_HLL_SUFFIX_MOD} = 0 THEN {_HLL_RMAX}
                        ELSE {_HLL_RMAX} - length(bin(hv % {_HLL_SUFFIX_MOD}))
                   END AS rnk
            FROM ev),
        mx AS (SELECT scope, reg, MAX(rnk) AS m FROM hr GROUP BY 1, 2),
        spine AS (
            SELECT s.scope, t.r AS reg
            FROM (SELECT DISTINCT scope FROM hr) s,
                 LATERAL (SELECT unnest(range({_HLL_M})) AS r) t),
        regs AS (
            SELECT s.scope, s.reg, COALESCE(mx.m, 0) AS m
            FROM spine s
            LEFT JOIN mx ON mx.scope = s.scope AND mx.reg = s.reg),
        allregs AS (
            SELECT '__ALL__' AS scope, reg, MAX(m) AS m
            FROM regs GROUP BY 2),
        everyregs AS (
            SELECT scope, reg, m FROM regs
            UNION ALL SELECT scope, reg, m FROM allregs),
        sums AS (
            SELECT scope,
                   CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS v_empty,
                   CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RMAX} - m))
                        AS BIGINT) AS s_scaled
            FROM everyregs GROUP BY 1),
        tru AS (
            SELECT scope, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                       AS true_distinct
            FROM hr GROUP BY 1
            UNION ALL
            SELECT '__ALL__', CAST(COUNT(DISTINCT user_id) AS BIGINT)
            FROM hr)
        SELECT s.scope, s.v_empty, s.s_scaled,
               {_hll_est_sql('s.v_empty', 's.s_scaled')} AS est_distinct,
               t.true_distinct,
               abs({_hll_est_sql('s.v_empty', 's.s_scaled')}
                   - t.true_distinct) AS abs_err
        FROM sums s JOIN tru t ON t.scope = s.scope
    """,
)
def hll_register_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .where("user_id IS NOT NULL AND ts IS NOT NULL")
        .selectExpr(
            "date_format(ts, 'yyyy-MM-dd') AS scope",
            "user_id",
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT) AS hv",
        )
    )
    hr = ev.selectExpr(
        "scope",
        "user_id",
        f"shiftright(hv, {_HLL_SUFFIX_BITS}) AS reg",
        f"CASE WHEN hv % {_HLL_SUFFIX_MOD} = 0 THEN {_HLL_RMAX} "
        f"ELSE {_HLL_RMAX} - length(bin(hv % {_HLL_SUFFIX_MOD})) "
        "END AS rnk",
    )
    mx = hr.groupBy("scope", "reg").agg(F.max("rnk").alias("m"))
    # Full register spine so never-hit registers carry rank 0 (they
    # contribute 2^RMAX to the scaled sum and count toward V).
    spine = (
        hr.select("scope")
        .distinct()
        .selectExpr("scope", f"explode(sequence(0, {_HLL_M - 1})) AS reg")
    )
    regs = spine.join(mx, ["scope", "reg"], "left").selectExpr(
        "scope", "reg", "COALESCE(m, 0) AS m"
    )
    # Register-wise MAX across days == the sketch of the union: HLL's
    # merge operator, demonstrated rather than assumed.
    allregs = regs.groupBy("reg").agg(F.max("m").alias("m")).selectExpr(
        "'__ALL__' AS scope", "reg", "m"
    )
    sums = (
        regs.unionByName(allregs)
        .groupBy("scope")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("v_empty"),
            F.expr(
                f"CAST(SUM(shiftleft(CAST(1 AS BIGINT), {_HLL_RMAX} - m))"
                " AS BIGINT)"
            ).alias("s_scaled"),
        )
    )
    tru = hr.groupBy("scope").agg(
        F.count_distinct("user_id").cast("bigint").alias("true_distinct")
    )
    tru_all = hr.agg(
        F.count_distinct("user_id").cast("bigint").alias("true_distinct")
    ).selectExpr("'__ALL__' AS scope", "true_distinct")
    est = _hll_est_sql("v_empty", "s_scaled")
    return (
        sums.join(tru.unionByName(tru_all), "scope")
        .selectExpr(
            "scope",
            "v_empty",
            "s_scaled",
            f"{est} AS est_distinct",
            "true_distinct",
            f"abs({est} - true_distinct) AS abs_err",
        )
    )
