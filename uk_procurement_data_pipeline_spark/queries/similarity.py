"""Similarity search over ``embeddings`` (SURVEY.md §2.3 J9, [NORTH-STAR]).

Two paths, as the north star mandates:

* ``cosine_topk_bruteforce`` — the oracle-able baseline: broadcast the
  (small) query set against all vectors and fold the dot product. Correct
  at any scale where the QUERY side is small (the candidate side streams;
  nothing is collected), but its cost is |Q|×N — the baseline, not the
  scale path.
* ``ann_lsh_bucketed`` — the 100 TB path: sign-bit LSH buckets (axis-aligned
  random-hyperplane family) turn the similarity join into a bucket
  equi-join; cosine is refined only within buckets. Shuffle is linear in
  data size; recall is tunable by bucket bits / multi-probe.

Determinism across engines: dot products, squared distances, norms and
cosines come from ``functions/vec.py``, whose sequential folds are
bit-identical in both engines and whose cosine is NULL on a zero norm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load, local_table
from uk_procurement_data_pipeline_spark.functions.exact import oracle_sum
from uk_procurement_data_pipeline_spark.functions.topk import top_k_per_group
from uk_procurement_data_pipeline_spark.functions.vec import (
    cosine, dot, duck_dot, duck_sqd, nearest, norm, sqd,
)
from uk_procurement_data_pipeline_spark.queries.base import register

_TOPK = 5
_BUCKET_BITS = 4  # sign bits of the leading dims -> 2^4 buckets

_SIGN_BUCKET = (
    "concat_ws('', transform(slice({v}, 1, " + str(_BUCKET_BITS) + "),"
    " x -> if(x >= 0, '1', '0')))"
)
_D_SIGN_BUCKET = (
    "array_to_string(list_transform({v}[1:" + str(_BUCKET_BITS) + "],"
    " x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"
)


@register(
    name="cosine_topk_bruteforce",
    survey="J9 UD4 W1",
    doc="Brute-force cosine top-k: broadcast query vectors (vec_id % 100 = 0) "
    "against all embeddings, sequential-fold dot/norms, top_k_per_group "
    "top-5 per query with deterministic (cos DESC, id) tiebreak; a zero "
    "norm gives a NULL cosine, ranked last.",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding,
                   sqrt({duck_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings),
        q AS (
            SELECT vec_id AS query_id, embedding AS qv, nrm AS qn
            FROM e WHERE vec_id % 100 = 0),
        p AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {duck_dot('qv', 'embedding')} / (qn * e.nrm) AS cosine
            FROM q JOIN e ON e.vec_id <> q.query_id),
        r AS (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rn
            FROM p)
        SELECT query_id, neighbor_id, cosine, rn AS rank
        FROM r WHERE rn <= {_TOPK}
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "embedding",
        f"{norm('embedding')} AS nrm",
    )
    q = e.where(F.col("vec_id") % 100 == 0).selectExpr(
        "vec_id AS query_id", "embedding AS qv", "nrm AS qn"
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).selectExpr(
        "query_id",
        "vec_id AS neighbor_id",
        f"{cosine('qv', 'embedding', 'qn', 'nrm')} AS cosine",
    )
    return top_k_per_group(
        pairs, ["query_id"], ["cosine DESC", "neighbor_id"], _TOPK, rank="rank"
    )


@register(
    name="ann_lsh_multiprobe",
    survey="J9 UD4 W1 A10",
    doc="Multi-probe LSH: each query probes its own sign-bucket PLUS every "
    "single-bit-flip neighbor bucket (Hamming distance 1), recovering "
    "near-misses that landed one hyperplane away — the standard recall "
    "lever that avoids building more tables. Candidate set stays a bucket "
    "equi-join (bits+1 keys per query, linear shuffle); exact-cosine "
    "refine and top-3 as in the single-probe path.",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding,
                   sqrt({duck_dot('embedding', 'embedding')}) AS nrm,
                   {_D_SIGN_BUCKET.format(v='embedding')} AS bucket
            FROM embeddings),
        q0 AS (
            SELECT vec_id AS query_id, embedding AS qv, nrm AS qn, bucket
            FROM e WHERE vec_id % 100 = 0),
        probes AS (
            SELECT query_id, qv, qn,
                   CASE WHEN f.i = 0 THEN bucket
                        ELSE substr(bucket, 1, f.i - 1)
                             || (CASE substr(bucket, f.i, 1)
                                 WHEN '1' THEN '0' ELSE '1' END)
                             || substr(bucket, f.i + 1)
                   END AS bucket
            FROM q0, LATERAL (SELECT unnest(range(0, {_BUCKET_BITS} + 1))
                              AS i) f),
        p AS (
            SELECT DISTINCT pr.query_id, e.vec_id AS neighbor_id,
                   {duck_dot('qv', 'embedding')} / (qn * e.nrm) AS cosine
            FROM probes pr JOIN e ON pr.bucket = e.bucket
                 AND e.vec_id <> pr.query_id),
        r AS (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rn
            FROM p)
        SELECT query_id, neighbor_id, cosine, rn AS rank
        FROM r WHERE rn <= 3
    """,
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "embedding",
        f"{norm('embedding')} AS nrm",
        f"{_SIGN_BUCKET.format(v='embedding')} AS bucket",
    )
    q = e.where(F.col("vec_id") % 100 == 0).selectExpr(
        "vec_id AS query_id", "embedding AS qv", "nrm AS qn", "bucket"
    )
    # probe list: identity + one bucket per flipped bit (i=0 keeps the
    # original; i=k flips position k of the bit-string key)
    probes = q.selectExpr(
        "query_id",
        "qv",
        "qn",
        f"explode(sequence(0, {_BUCKET_BITS})) AS i",
        "bucket AS bucket0",
    ).selectExpr(
        "query_id",
        "qv",
        "qn",
        "CASE WHEN i = 0 THEN bucket0"
        " ELSE concat(substr(bucket0, 1, i - 1),"
        "             if(substr(bucket0, i, 1) = '1', '0', '1'),"
        "             substr(bucket0, i + 1)) END AS qbucket",
    )
    pairs = (
        e.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            f"{cosine('qv', 'embedding', 'qn', 'nrm')} AS cosine",
        )
        .distinct()  # a neighbor is in exactly one bucket, but stay safe
    )
    return top_k_per_group(
        pairs, ["query_id"], ["cosine DESC", "neighbor_id"], 3, rank="rank"
    )


_IVF_K = 8  # coarse cells; production sizes K ~ sqrt(N) so cells stay scannable
_IVF_PROBE = 2  # cells probed per query (recall knob)


@register(
    name="ann_ivf_probed",
    survey="J9 UD4 W1 A10",
    doc="ANN inverted-file (IVF) variant: a deterministic coarse quantizer "
    "(the first K vectors stand in for trained centroids — k-means is RNG-"
    "bound, the IVF structure is not) assigns every vector to its nearest "
    "cell via a broadcast of K rows; queries probe their top-2 cells and "
    "refine exact cosine only against those inverted lists. Complements "
    "ann_lsh_bucketed: data-adaptive cells vs oblivious hyperplanes, same "
    "linear-shuffle contract (SURVEY §4.3 watchlist). Production notes: "
    "K ~ sqrt(N) keeps cells scannable; more probes buy recall.",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding,
                   sqrt({duck_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings),
        c AS (
            SELECT vec_id AS centroid_id, embedding AS cv, nrm AS cn
            FROM e WHERE vec_id < {_IVF_K}),
        a0 AS (
            SELECT e.vec_id, e.embedding, e.nrm, c.centroid_id,
                   {duck_dot('e.embedding', 'cv')} / (e.nrm * cn) AS ccos
            FROM e JOIN c ON TRUE),
        a AS (
            SELECT vec_id, embedding, nrm, centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY ccos DESC, centroid_id) AS crn
            FROM a0),
        cells AS (
            SELECT vec_id, embedding, nrm, centroid_id AS cell
            FROM a WHERE crn = 1),
        qc AS (
            SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
                   centroid_id AS cell
            FROM a WHERE vec_id % 100 = 0 AND crn <= {_IVF_PROBE}),
        p AS (
            SELECT qc.query_id, cells.vec_id AS neighbor_id,
                   {duck_dot('qv', 'cells.embedding')}
                       / (qn * cells.nrm) AS cosine
            FROM qc JOIN cells ON qc.cell = cells.cell
                 AND cells.vec_id <> qc.query_id),
        r AS (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rn
            FROM p)
        SELECT query_id, neighbor_id, cosine, rn AS rank
        FROM r WHERE rn <= 3
    """,
)
def ann_ivf_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "embedding",
        f"{norm('embedding')} AS nrm",
    )
    c = e.where(F.col("vec_id") < _IVF_K).selectExpr(
        "vec_id AS centroid_id", "embedding AS cv", "nrm AS cn"
    )
    # coarse assignment: broadcast the K centroids against every vector
    # (K rows -> BroadcastNestedLoop, linear in N) and keep each vector's
    # best cell; queries keep their top-_IVF_PROBE cells
    assign = e.join(F.broadcast(c), F.lit(True)).selectExpr(
        "vec_id",
        "embedding",
        "nrm",
        "centroid_id",
        f"{cosine('embedding', 'cv', 'nrm', 'cn')} AS ccos",
    )
    best = ["ccos DESC", "centroid_id"]
    cells = top_k_per_group(assign, ["vec_id"], best, 1).selectExpr(
        "vec_id", "embedding", "nrm", "centroid_id AS cell"
    )
    qc = top_k_per_group(
        assign.where(F.col("vec_id") % 100 == 0), ["vec_id"], best, _IVF_PROBE
    ).selectExpr("vec_id AS query_id", "embedding AS qv", "nrm AS qn", "centroid_id AS cell")
    pairs = cells.join(
        F.broadcast(qc.withColumnRenamed("cell", "qcell")),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).selectExpr(
        "query_id",
        "vec_id AS neighbor_id",
        f"{cosine('qv', 'embedding', 'qn', 'nrm')} AS cosine",
    )
    return top_k_per_group(
        pairs, ["query_id"], ["cosine DESC", "neighbor_id"], 3, rank="rank"
    )


@register(
    name="ann_lsh_bucketed",
    survey="J9 UD4 W1 A10",
    doc="ANN scale path: sign-bit LSH bucket key (axis-aligned hyperplane "
    "family), candidate equi-join WITHIN buckets only, cosine refine, top-3 "
    "per query. The similarity join shuffles on bucket keys — linear, never "
    "all-pairs (SURVEY §4.3 watchlist).",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding,
                   sqrt({duck_dot('embedding', 'embedding')}) AS nrm,
                   {_D_SIGN_BUCKET.format(v='embedding')} AS bucket
            FROM embeddings),
        q AS (
            SELECT vec_id AS query_id, embedding AS qv, nrm AS qn, bucket
            FROM e WHERE vec_id % 100 = 0),
        p AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {duck_dot('qv', 'embedding')} / (qn * e.nrm) AS cosine
            FROM q JOIN e ON q.bucket = e.bucket AND e.vec_id <> q.query_id),
        r AS (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rn
            FROM p)
        SELECT query_id, neighbor_id, cosine, rn AS rank
        FROM r WHERE rn <= 3
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "embedding",
        f"{norm('embedding')} AS nrm",
        f"{_SIGN_BUCKET.format(v='embedding')} AS bucket",
    )
    q = e.where(F.col("vec_id") % 100 == 0).selectExpr(
        "vec_id AS query_id", "embedding AS qv", "nrm AS qn", "bucket"
    )
    pairs = e.join(
        q.withColumnRenamed("bucket", "qbucket"),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    ).selectExpr(
        "query_id",
        "vec_id AS neighbor_id",
        f"{cosine('qv', 'embedding', 'qn', 'nrm')} AS cosine",
    )
    return top_k_per_group(
        pairs, ["query_id"], ["cosine DESC", "neighbor_id"], 3, rank="rank"
    )


_KM_K = 8  # Lloyd cells; production sizing follows the IVF rule K ~ sqrt(N)


@register(
    name="kmeans_lloyd_cells",
    survey="J9 A7 UD4 W1",
    doc="Deterministic k-means (Lloyd) centroid TRAINING, two unrolled "
    "iterations: seed centroids from the first K vectors (the same "
    "deterministic quantizer ann_ivf_probed starts from), assign every "
    "vector to its nearest centroid (broadcast K rows, squared-L2 "
    "sequential fold, tiebreak on centroid id), then recompute centroids "
    "as per-dimension exact-decimal means and re-assign. Returns the "
    "final assignment with its squared distance. This is the trainer "
    "that turns the IVF stand-in cells into data-adaptive cells; at "
    "scale each iteration is one broadcast-join map pass plus one "
    "(cluster, dim)-keyed hash aggregation — linear shuffle, no "
    "driver-side state, deeper training appends more of the same.",
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        c0 AS (
            SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_KM_K}),
        d1 AS (
            SELECT e.vec_id, e.v, c.cid,
                   {duck_sqd('e.v', 'c.cv')} AS d2
            FROM e JOIN c0 c ON TRUE),
        a1 AS (
            SELECT vec_id, v, cid AS cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM d1),
        dims AS (
            SELECT a.cluster, s.i AS dim, a.v[s.i] AS val
            FROM (SELECT * FROM a1 WHERE rn = 1) a,
                 LATERAL (SELECT unnest(range(1, len(a.v) + 1)) AS i) s),
        cent1 AS (
            SELECT cluster AS cid, list(m ORDER BY dim) AS cv
            FROM (SELECT cluster, dim,
                         CAST(ROUND(SUM(CAST(val AS DECIMAL(38,8))), 4)
                              AS DOUBLE) / CAST(COUNT(val) AS DOUBLE) AS m
                  FROM dims GROUP BY cluster, dim)
            GROUP BY cluster),
        d2t AS (
            SELECT e.vec_id, c.cid,
                   {duck_sqd('e.v', 'c.cv')} AS d2
            FROM e JOIN cent1 c ON TRUE),
        a2 AS (
            SELECT vec_id, cid, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM d2t)
        SELECT vec_id, cid AS cluster, d2 AS dist2 FROM a2 WHERE rn = 1
    """,
)
def kmeans_lloyd_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import exact_avg

    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    )
    c0 = e.where(F.col("vec_id") < _KM_K).selectExpr("vec_id AS cid", "v AS cv")

    def assign(points: DataFrame, cents: DataFrame) -> DataFrame:
        # Fold the K broadcast centroids per row instead of exploding N x K
        # pairs through a per-vector window: assignment is then a pure
        # map-side pass with ZERO shuffle (the window form shuffles N x K
        # rows on vec_id — a real cost at corpus scale). vec.nearest's
        # (d2, cid) tiebreak makes the argmin independent of collect_list
        # order.
        cent_arr = cents.agg(
            F.collect_list(F.struct("cid", "cv")).alias("cs")
        ).withColumn("k", F.lit(1))
        scored = nearest("cs", "v")
        return (
            points.withColumn("k", F.lit(1))
            .join(F.broadcast(cent_arr), "k")
            .selectExpr("vec_id", "v", f"{scored} AS best")
            .selectExpr("vec_id", "v", "best.cid AS cid", "best.d2 AS d2")
        )

    a1 = assign(e, c0)
    cent1 = (
        a1.selectExpr("cid AS cluster", "posexplode(v) AS (dim, val)")
        .groupBy("cluster", "dim")
        .agg(exact_avg("val", "m"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda x: x["m"],
            ).alias("cv")
        )
        .selectExpr("cluster AS cid", "cv")
    )
    return assign(e, cent1).select(
        "vec_id", F.col("cid").alias("cluster"), F.col("d2").alias("dist2")
    )


@register(
    name="embedding_int8_quantize",
    survey="UD4 F17 P1",
    doc="Scalar int8 quantization of the embedding column (the storage/"
    "serving form of a 100 TB vector corpus: 4x smaller than float32, "
    "reconstructable to bounded error): per-vector absmax scale to "
    "[-127, 127], half-UP rounding (toward +inf) via floor(x*s + 0.5) — "
    "note a negative tie like -126.5 rounds to -126, not -127; both "
    "engines compute the identical expression, so codes still match "
    "(emitted ','-joined as a string — no array columns in output) — "
    "plus the exact reconstruction RMSE via a sequential fold. Entirely "
    "map-side — no shuffle, no UDF — and every arithmetic step is a "
    "fixed-order double expression, so codes AND error are bit-identical "
    "across engines. Zero vectors quantize to scale 0 / all-zero codes.",
    oracle="""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
            FROM embeddings),
        s AS (
            SELECT vec_id, vd,
                   list_max(list_transform(vd, x -> abs(x))) AS mx
            FROM v),
        q AS (
            SELECT vec_id, vd,
                   CASE WHEN mx = 0 THEN CAST(0 AS DOUBLE)
                        ELSE 127.0 / mx END AS scale
            FROM s)
        SELECT vec_id, scale,
               array_to_string(list_transform(vd,
                   x -> CAST(floor(x * scale + 0.5) AS INTEGER)), ',')
                   AS codes,
               sqrt(list_reduce(list_transform(generate_series(1, len(vd)),
                   i -> CASE WHEN scale = 0 THEN 0.0
                             ELSE (vd[i] - CAST(floor(vd[i] * scale + 0.5)
                                               AS INTEGER) / scale)
                                  * (vd[i] - CAST(floor(vd[i] * scale + 0.5)
                                                  AS INTEGER) / scale) END),
                   (a, b) -> a + b) / len(vd)) AS rmse
        FROM q
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS vd"
        )
        .selectExpr(
            "vec_id",
            "vd",
            "array_max(transform(vd, x -> abs(x))) AS mx",
        )
        .selectExpr(
            "vec_id",
            "vd",
            "IF(mx = 0D, 0D, 127.0 / mx) AS scale",
        )
        .selectExpr(
            "vec_id",
            "scale",
            # ','-joined string, not array<int>: query outputs never carry
            # array columns (driver canonicalizer can't sort lists).
            "array_join(transform(vd,"
            " x -> CAST(CAST(floor(x * scale + 0.5) AS INT) AS STRING)), ',')"
            " AS codes",
            """sqrt(aggregate(
                   transform(vd, x -> IF(scale = 0D, 0D,
                       (x - CAST(floor(x * scale + 0.5) AS INT) / scale)
                       * (x - CAST(floor(x * scale + 0.5) AS INT) / scale))),
                   0D, (a, b) -> a + b) / size(vd)) AS rmse""",
        )
    )


@register(
    name="contrastive_pairs",
    survey="W2 W1 J5 UD4",
    doc="Contrastive training-pair generation over the embedding corpus: "
    "each anchor gets a POSITIVE (the next vector of the same label, "
    "lead over a label-partitioned window) and a NEGATIVE (the nearest "
    "following vector of a DIFFERENT label in a deterministic md5-"
    "shuffled order, probed via lead(1..3) within 256 hash buckets). "
    "Every window is partitioned — by label or by hash-bucket prefix — "
    "so pair generation shards across executors with no global sort and "
    "no RNG state; re-runs reproduce the identical pair set.",
    oracle="""
        WITH e AS (
            SELECT vec_id, label,
                   md5(CAST(vec_id AS VARCHAR)) AS hkey,
                   substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) AS bucket
            FROM embeddings),
        pos AS (
            SELECT vec_id, label,
                   lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id)
                       AS positive_id
            FROM e),
        neg AS (
            SELECT vec_id,
                   CASE WHEN l1 IS DISTINCT FROM label THEN n1
                        WHEN l2 IS DISTINCT FROM label THEN n2
                        WHEN l3 IS DISTINCT FROM label THEN n3
                   END AS negative_id
            FROM (
              SELECT vec_id, label,
                     lead(vec_id, 1) OVER w AS n1, lead(label, 1) OVER w AS l1,
                     lead(vec_id, 2) OVER w AS n2, lead(label, 2) OVER w AS l2,
                     lead(vec_id, 3) OVER w AS n3, lead(label, 3) OVER w AS l3
              FROM e
              WINDOW w AS (PARTITION BY bucket ORDER BY hkey)))
        SELECT p.vec_id AS anchor_id, p.label, p.positive_id, n.negative_id
        FROM pos p JOIN neg n ON p.vec_id = n.vec_id
    """,
)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "label",
        "md5(CAST(vec_id AS STRING)) AS hkey",
        "substr(md5(CAST(vec_id AS STRING)), 1, 2) AS bucket",
    )
    wl = Window.partitionBy("label").orderBy("vec_id")
    pos = e.select(
        "vec_id", "label", F.lead("vec_id").over(wl).alias("positive_id")
    )
    wb = Window.partitionBy("bucket").orderBy("hkey")
    probed = e.select(
        "vec_id",
        "label",
        F.lead("vec_id", 1).over(wb).alias("n1"),
        F.lead("label", 1).over(wb).alias("l1"),
        F.lead("vec_id", 2).over(wb).alias("n2"),
        F.lead("label", 2).over(wb).alias("l2"),
        F.lead("vec_id", 3).over(wb).alias("n3"),
        F.lead("label", 3).over(wb).alias("l3"),
    )
    neg = probed.select(
        "vec_id",
        F.when(~F.col("l1").eqNullSafe(F.col("label")), F.col("n1"))
        .when(~F.col("l2").eqNullSafe(F.col("label")), F.col("n2"))
        .when(~F.col("l3").eqNullSafe(F.col("label")), F.col("n3"))
        .alias("negative_id"),
    )
    return pos.join(neg, "vec_id").select(
        F.col("vec_id").alias("anchor_id"), "label", "positive_id", "negative_id"
    )


@register(
    name="hard_negatives_lsh",
    survey="J9 W1 UD4 A10",
    doc="Hard-negative mining for contrastive training: each vector's "
    "most-cosine-similar neighbor with a DIFFERENT label, searched only "
    "within its sign-bit LSH bucket (the same bucket equi-join as "
    "ann_lsh_bucketed, so candidate generation is linear-shuffle, never "
    "all-pairs) and reduced to each anchor's top-1 under (cosine DESC, "
    "id). The classic 'hardest in-batch negative' but computed "
    "corpus-wide and deterministically.",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, embedding,
                   sqrt({duck_dot('embedding', 'embedding')}) AS nrm,
                   {_D_SIGN_BUCKET.format(v='embedding')} AS bucket
            FROM embeddings),
        p AS (
            SELECT a.vec_id AS anchor_id, a.label,
                   z.vec_id AS negative_id, z.label AS negative_label,
                   {duck_dot('a.embedding', 'z.embedding')}
                       / (a.nrm * z.nrm) AS cosine
            FROM e a JOIN e z
              ON a.bucket = z.bucket AND a.label <> z.label),
        r AS (
            SELECT anchor_id, label, negative_id, negative_label, cosine,
                   ROW_NUMBER() OVER (PARTITION BY anchor_id
                                      ORDER BY cosine DESC, negative_id) AS rn
            FROM p)
        SELECT anchor_id, label, negative_id, negative_label, cosine
        FROM r WHERE rn = 1
    """,
)
def hard_negatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "label",
        "embedding",
        f"{norm('embedding')} AS nrm",
        f"{_SIGN_BUCKET.format(v='embedding')} AS bucket",
    )
    a = e.selectExpr(
        "vec_id AS anchor_id", "label", "embedding AS av", "nrm AS an", "bucket"
    )
    z = e.selectExpr(
        "vec_id AS negative_id",
        "label AS negative_label",
        "embedding AS zv",
        "nrm AS zn",
        "bucket",
    )
    pairs = a.join(
        z, ["bucket"]
    ).where(F.col("label") != F.col("negative_label")).selectExpr(
        "anchor_id",
        "label",
        "negative_id",
        "negative_label",
        f"{cosine('av', 'zv', 'an', 'zn')} AS cosine",
    )
    return top_k_per_group(
        pairs, ["anchor_id", "label"], ["cosine DESC", "negative_id"], 1
    )


_II_MAX_DF = 10  # inverted-index posting cap: terms in more docs are dropped
_II_TOPK = 20


@register(
    name="inverted_index_dot_pairs",
    survey="J9 A7 A10 W1",
    doc="Sparse similarity join via an inverted index (the IR-classic "
    "alternative to LSH for text: exact sparse dot products, but only "
    "for pairs that SHARE a rare term): per-doc 3-token-shingle "
    f"frequencies -> document-frequency filter (2 <= df <= {_II_MAX_DF}"
    ", dropping stop-like shingles that would quadratically blow up "
    "the posting self-join) -> postings self-joined on shingle -> "
    "integer tf dot product per pair -> top-20 with full tiebreak. "
    "All-integer arithmetic, so cross-engine exact; the df cap bounds "
    "each shingle's pair fan-out at df*(df-1)/2, keeping the shuffle "
    "linear-ish in corpus size — the same reason production sparse-ANN "
    "systems prune high-df postings. (Terms are shingles, not words: "
    "the fixture vocabulary is ~31 words, all stop-like.)",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
            WHERE len(string_split(text, ' ')) >= 3),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       AS gram
            FROM t),
        tf AS (
            SELECT doc_id, gram, count(*) AS tf
            FROM g GROUP BY doc_id, gram),
        rare AS (
            SELECT gram FROM tf
            GROUP BY gram
            HAVING count(*) BETWEEN 2 AND {_II_MAX_DF}),
        post AS (
            SELECT t.doc_id, t.gram, t.tf
            FROM tf t JOIN rare r ON t.gram = r.gram),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
            FROM post a JOIN post b
              ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b, dot
        FROM pairs
        ORDER BY dot DESC, doc_a, doc_b
        LIMIT {_II_TOPK}
    """,
)
def inverted_index_dot_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .where(F.expr("size(toks) >= 3"))
        .selectExpr(
            "doc_id",
            "explode(transform(sequence(1, size(toks) - 2),"
            " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1),"
            " element_at(toks, i+2)))) AS gram",
        )
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rare = (
        tf.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(2, _II_MAX_DF))
        .select("gram")
    )
    post = tf.join(rare, "gram")
    a = post.select(
        "gram", F.col("doc_id").alias("doc_a"), F.col("tf").alias("tf_a")
    )
    b = post.select(
        "gram", F.col("doc_id").alias("doc_b"), F.col("tf").alias("tf_b")
    )
    return (
        a.join(b, ["gram"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("bigint").alias("dot"))
        .orderBy(F.col("dot").desc(), "doc_a", "doc_b")
        .limit(_II_TOPK)
    )


_JL_OUT = 8  # projected dimensionality
_JL_IN = 64  # fixture embedding width (asserted per-row below)


@register(
    name="jl_random_projection",
    survey="UD4 F17 P1",
    doc="Johnson-Lindenstrauss random projection of the embedding column "
    f"(64 -> {_JL_OUT} dims): each output coordinate is the inner "
    "product with a deterministic ±1 Rademacher vector derived from "
    "md5(i:j) parity — no stored projection matrix, any executor (or "
    "engine) regenerates the same signs, which is how a 1000-node job "
    "shares the matrix for free. The fold is a fixed-order sequential "
    "aggregate in both engines, so the projected doubles are "
    "bit-identical. Entirely map-side: no shuffle, no UDF. Output is "
    "the exploded (vec_id, dim, proj) long form — keeps the doubles "
    "numerically typed (no cross-engine float-to-string drift) while "
    "honoring the no-array-output convention.",
    oracle=f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
            FROM embeddings)
        SELECT vec_id, s.i AS dim,
               list_reduce(
                   list_transform(generate_series(1, len(vd)),
                       j -> vd[j] * (CAST(('0x' || substr(md5(
                                s.i || ':' || (j - 1)), 1, 8)) AS BIGINT)
                                % 2 * 2 - 1)),
                   (a, b) -> a + b) AS proj
        FROM v, LATERAL (SELECT unnest(range(0, {_JL_OUT})) AS i) s
    """,
)
def jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.catalog import spread

    # The sign matrix is only JL_OUT x 64 values and depends on nothing
    # but (i, j) — regenerate it ONCE in a broadcast 8-row table instead
    # of re-hashing the same 512 md5s inside every row's fold (r10: the
    # old per-row form computed ~1M md5s at sf0.1 on one core and was the
    # registry's worst baseline ratio at 1.5x). The fold itself is the
    # same ascending-j sequential sum of vd[j] * (+-1), so the projected
    # doubles stay bit-identical to the oracle's.
    signs = spark.range(0, _JL_OUT).selectExpr(
        "CAST(id AS BIGINT) AS dim",
        f"transform(sequence(1, {_JL_IN}), j -> CAST("
        "cast(conv(substr(md5(concat(cast(id AS string), ':',"
        " cast(j - 1 AS string))), 1, 8), 16, 10) AS bigint)"
        " % 2 * 2 - 1 AS DOUBLE)) AS sgn",
    )
    # ADVICE r10: the broadcast matrix is fixed-width while the oracle uses
    # len(vd) — if the fixture width ever changed, zip_with would pad with
    # nulls and proj would silently go NULL on the engine side only. Fail
    # fast per-row instead (size() is O(1) on an array, no measurable cost).
    return (
        spread(load(spark, sf_dir, "embeddings"))
        .selectExpr(
            "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS vd"
        )
        .crossJoin(F.broadcast(signs))
        .selectExpr(
            "vec_id",
            "dim",
            f"CASE WHEN size(vd) <> {_JL_IN} THEN raise_error(concat("
            f"'jl_random_projection: embedding width ', cast(size(vd) AS "
            f"string), ' != expected {_JL_IN}')) "
            f"ELSE {dot('vd', 'sgn')} END AS proj",
        )
    )


_RRF_K = 60  # standard reciprocal-rank-fusion damping constant
_RRF_SCALE = 1_000_000_000  # integer surrogate: score = sum(SCALE div (k+rank))


def _rrf_oracle() -> str:
    """Compose the fusion oracle from the two registered ANN oracles, so
    the fused ranking can never drift from what those queries return."""
    from uk_procurement_data_pipeline_spark.queries.base import _REGISTRY

    lsh = _REGISTRY["ann_lsh_bucketed"].oracle
    ivf = _REGISTRY["ann_ivf_probed"].oracle
    return f"""
        WITH lsh AS ({lsh}),
        ivf AS ({ivf}),
        both_sys AS (
            SELECT query_id, neighbor_id, rank FROM lsh
            UNION ALL
            SELECT query_id, neighbor_id, rank FROM ivf),
        fused AS (
            SELECT query_id, neighbor_id,
                   CAST(sum({_RRF_SCALE} // ({_RRF_K} + rank)) AS BIGINT)
                       AS rrf_score
            FROM both_sys GROUP BY query_id, neighbor_id),
        ranked AS (
            SELECT query_id, neighbor_id, rrf_score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY rrf_score DESC, neighbor_id)
                       AS fused_rank
            FROM fused)
        SELECT query_id, neighbor_id, rrf_score, fused_rank
        FROM ranked WHERE fused_rank <= 3
    """


@register(
    name="rrf_fusion_ann",
    survey="J9 A7 W1 U1",
    doc="Reciprocal-rank fusion of the two ANN retrieval paths (LSH "
    "buckets + IVF probing — the ensemble-retrieval pattern behind "
    "hybrid search): union both systems' per-query rankings, score "
    f"each neighbor by sum({_RRF_SCALE} div ({_RRF_K} + rank)) — an "
    "integer surrogate of the classic 1/(k+rank) that keeps the fused "
    "ordering bit-exact across engines with no float summation — and "
    "re-rank to a fused top-3. The oracle is COMPOSED from the two "
    "source queries' registered oracles, so fusion can never silently "
    "diverge from its inputs. Each input is a bucketed linear-shuffle "
    "plan; fusion adds one small groupBy on (query, neighbor).",
    oracle=None,  # bound right after registration (needs both ANN oracles)
)
def rrf_fusion_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    lsh = ann_lsh_bucketed(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    ivf = ann_ivf_probed(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    fused = (
        lsh.unionByName(ivf)
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(
                F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rank)")
            ).cast("bigint").alias("rrf_score")
        )
    )
    return top_k_per_group(
        fused, ["query_id"], ["rrf_score DESC", "neighbor_id"], 3, rank="fused_rank"
    )


# late-bind the composed oracle (the source oracles exist only after their
# own registration above — same pattern as corpus_pipeline_e2e)
from uk_procurement_data_pipeline_spark.queries.base import _REGISTRY as _R  # noqa: E402
import dataclasses as _dc  # noqa: E402

_R["rrf_fusion_ann"] = _dc.replace(_R["rrf_fusion_ann"], oracle=_rrf_oracle())
del _R, _dc


@register(
    name="embedding_covariance",
    survey="A7 UD4 F17 J9-pattern",
    doc="Upper-triangle covariance matrix of the embedding dimensions "
    "(the statistics behind PCA/whitening of a vector corpus): "
    "per-vector double explode generates only j >= i cells (the "
    "second posexplode runs over slice(v, i+1, ...), halving the "
    "inflation), then one hash aggregation on the (dim_i, dim_j) "
    "BOUNDED domain — map-side partials do nearly all the work and "
    "the shuffle is dims^2/2 rows regardless of corpus size. Sums are "
    "1e-8-floor-quantized BIGINTs (the micro-quantization contract — "
    "order-independent, 8.7x faster than decimal aggregation) and the "
    "covariance is one fixed-order double expression, so every cell "
    "is bit-identical across engines.",
    oracle=f"""
        WITH e AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        cells AS (
            SELECT si.i AS dim_i, sj.j AS dim_j,
                   v[si.i] AS xi, v[sj.j] AS xj
            FROM e,
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) si,
                 LATERAL (SELECT unnest(range(si.i, len(v) + 1)) AS j) sj)
        SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(xi * xj * 100000000) AS BIGINT))
                    AS DOUBLE) / 100000000 AS sxy,
               CAST(SUM(CAST(floor(xi * 100000000) AS BIGINT))
                    AS DOUBLE) / 100000000 AS sx,
               CAST(SUM(CAST(floor(xj * 100000000) AS BIGINT))
                    AS DOUBLE) / 100000000 AS sy,
               (CAST(SUM(CAST(floor(xi * xj * 100000000) AS BIGINT))
                     AS DOUBLE) / 100000000
                - (CAST(SUM(CAST(floor(xi * 100000000) AS BIGINT))
                        AS DOUBLE) / 100000000)
                  * (CAST(SUM(CAST(floor(xj * 100000000) AS BIGINT))
                          AS DOUBLE) / 100000000)
                      / CAST(count(*) AS DOUBLE))
                   / CAST(count(*) AS DOUBLE) AS cov
        FROM cells GROUP BY dim_i, dim_j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        load(spark, sf_dir, "embeddings")
        .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
        .selectExpr("posexplode(v) AS (i0, xi)", "v")
        .selectExpr(
            "i0",
            "xi",
            "posexplode(slice(v, i0 + 1, size(v) - i0)) AS (j0, xj)",
        )
        .selectExpr(
            "CAST(i0 + 1 AS INT) AS dim_i",
            "CAST(i0 + j0 + 1 AS INT) AS dim_j",
            "xi",
            "xj",
        )
    )
    # Exact order-independent sums WITHOUT BigDecimal: each double term
    # is floor-quantized at 1e-8 to a BIGINT (floor and the *1e8 double
    # multiply are IEEE-deterministic in both engines — the retrieval.py
    # micro-quantization contract), summed as fast integers, and divided
    # back once. Decimal(38,8) partial aggregation measured 8.7x slower
    # on the 4.16M-term input (15.9s -> 1.8s at sf0.1).
    def qsum(expr):
        return F.sum(F.floor(expr * F.lit(100000000.0)).cast("bigint"))

    n = F.count(F.lit(1)).cast("bigint")
    sxy = qsum(F.col("xi") * F.col("xj")).cast("double") / F.lit(1e8)
    sx = qsum(F.col("xi")).cast("double") / F.lit(1e8)
    sy = qsum(F.col("xj")).cast("double") / F.lit(1e8)
    return cells.groupBy("dim_i", "dim_j").agg(
        n.alias("n"),
        sxy.alias("sxy"),
        sx.alias("sx"),
        sy.alias("sy"),
        ((sxy - sx * sy / n.cast("double")) / n.cast("double")).alias("cov"),
    )


@register(
    name="als_rank1_item_step",
    survey="A7 J6 F28 UD4",
    doc="One exact ALS sweep of a rank-1 matrix factorization over the "
    "customer x part quantity matrix (the collaborative-filtering "
    "kernel, unrolled the way kmeans_lloyd_cells unrolls Lloyd): "
    "customer factors initialize to md5-uniforms (k/2^32 — exactly "
    "representable doubles), and each part's factor is the closed-form "
    "least-squares update sum(r*u)/sum(u*u) over its observed ratings, "
    "with both sums through the exact-decimal fold. Also reports each "
    "part's post-update SSE. One ratings aggregation plus one "
    "part-keyed hash agg — linear shuffle; deeper training appends "
    "more of the same.",
    oracle="""
        WITH ratings AS (
          SELECT o.o_custkey AS c, l.l_partkey AS p,
                 CAST(SUM(l.l_quantity) AS DOUBLE) AS r
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          GROUP BY o.o_custkey, l.l_partkey
        ), u AS (
          SELECT c, r, p,
                 (CAST(CAST('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 8)
                            AS BIGINT) AS DOUBLE) + 1.0) / 4294967296.0
                     AS uf
          FROM ratings
        ), v AS (
          SELECT p,
                 CAST(count(*) AS BIGINT) AS n_ratings,
                 CAST(ROUND(SUM(CAST(r * uf AS DECIMAL(38,8))), 4)
                      AS DOUBLE)
                 / CAST(ROUND(SUM(CAST(uf * uf AS DECIMAL(38,8))), 4)
                        AS DOUBLE) AS vf
          FROM u GROUP BY p)
        SELECT u.p AS partkey, v.n_ratings, v.vf,
               CAST(ROUND(SUM(CAST((u.r - u.uf * v.vf)
                                   * (u.r - u.uf * v.vf)
                                   AS DECIMAL(38,8))), 2) AS DOUBLE)
                   AS sse
        FROM u JOIN v ON u.p = v.p
        GROUP BY u.p, v.n_ratings, v.vf
    """,
)
def als_rank1_item_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import dec

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    ratings = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .agg(F.sum("l_quantity").cast("double").alias("r"))
    )
    u = ratings.selectExpr(
        "c",
        "p",
        "r",
        "(CAST(cast(conv(substr(md5(cast(c AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) AS DOUBLE) + 1.0) / 4294967296.0 AS uf",
    )
    v = u.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ratings"),
        (
            F.round(F.sum(dec(F.col("r") * F.col("uf"))), 4).cast("double")
            / F.round(F.sum(dec(F.col("uf") * F.col("uf"))), 4).cast(
                "double"
            )
        ).alias("vf"),
    )
    resid = F.col("r") - F.col("uf") * F.col("vf")
    return (
        u.join(v, "p")
        .groupBy(
            F.col("p").alias("partkey"), F.col("n_ratings"), F.col("vf")
        )
        .agg(
            F.round(F.sum(dec(resid * resid)), 2).cast("double").alias("sse")
        )
    )


_PI_ITERS = 8
_PI_SCALE = "1000000000000.0"  # 1e-12 floor quantization for matvec terms

_PI_CELLS_SQL = """
        e AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        raw AS (
            SELECT si.i AS dim_i, sj.j AS dim_j,
                   v[si.i] AS xi, v[sj.j] AS xj
            FROM e,
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) si,
                 LATERAL (SELECT unnest(range(si.i, len(v) + 1)) AS j) sj),
        cov0 AS (
            SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j,
                   (CAST(SUM(CAST(floor(xi * xj * 100000000) AS BIGINT))
                         AS DOUBLE) / 100000000
                    - (CAST(SUM(CAST(floor(xi * 100000000) AS BIGINT))
                            AS DOUBLE) / 100000000)
                      * (CAST(SUM(CAST(floor(xj * 100000000) AS BIGINT))
                              AS DOUBLE) / 100000000)
                          / CAST(count(*) AS DOUBLE))
                       / CAST(count(*) AS DOUBLE) AS cov
            FROM raw GROUP BY dim_i, dim_j),
        cells AS MATERIALIZED (
            SELECT dim_i, dim_j, cov FROM cov0
            UNION ALL
            SELECT dim_j AS dim_i, dim_i AS dim_j, cov
            FROM cov0 WHERE dim_i < dim_j),
        v0 AS (SELECT DISTINCT dim_i AS dim, 1.0 AS v FROM cells)"""


def _pi_oracle() -> str:
    # Each iteration references its predecessor exactly ONCE (the L1 norm
    # is an unpartitioned window over the 64-row bounded dim domain, not a
    # second scan), so the CTE chain stays linear in both engines.
    parts = ["WITH" + _PI_CELLS_SQL]
    for k in range(1, _PI_ITERS + 1):
        parts.append(f"""
        v{k} AS MATERIALIZED (
            SELECT dim,
                   CAST(s_q AS DOUBLE)
                   / CAST(SUM(abs(s_q)) OVER () AS DOUBLE) AS v,
                   SUM(abs(s_q)) OVER () AS l1_q
            FROM (
                SELECT c.dim_i AS dim,
                       SUM(CAST(floor(c.cov * p.v * {_PI_SCALE}) AS BIGINT))
                           AS s_q
                FROM cells c JOIN v{k - 1} p ON c.dim_j = p.dim
                GROUP BY c.dim_i))""")
    last = _PI_ITERS
    parts.append(f"""
        SELECT dim, v AS pc1_component,
               CAST(l1_q AS DOUBLE) / {_PI_SCALE} AS lambda_l1
        FROM v{last}
        ORDER BY dim""")
    return parts[0] + "," + ",".join(p.strip() for p in parts[1:-1]) + parts[-1]


@register(
    name="power_iteration_top_pc",
    survey="A7 J5 F17 UD4 F28",
    doc="Top principal direction of the embedding cloud by eight "
    "L1-normalized power-iteration steps over the full covariance "
    "matrix (the distributed PCA kernel: Lanczos/oja at 100 TB start "
    "exactly here). The covariance cells come from the proven "
    "embedding_covariance construction (mirrored below the diagonal "
    "and localCheckpoint-ed once - dims^2 rows regardless of corpus "
    "size), and every matrix-vector product is a bounded-domain "
    "equi-join + hash agg whose terms are 1e-12-floor-quantized "
    "BIGINTs, so each of the eight iterations is bit-identical across "
    "engines (no runtime sqrt/argmax: L1 normalization is a ratio of "
    "exact integers). lambda_l1 is ||C v||_1 of the final step - the "
    "L1 Rayleigh estimate of the dominant eigenvalue's magnitude.",
    oracle=_pi_oracle(),
    eager=True,  # fn materializes the mirrored covariance cells once
)
def power_iteration_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cov0 = embedding_covariance(spark, sf_dir).select("dim_i", "dim_j", "cov")
    mirror = cov0.where(F.col("dim_i") < F.col("dim_j")).select(
        F.col("dim_j").alias("dim_i"), F.col("dim_i").alias("dim_j"), "cov"
    )
    cells = cov0.unionByName(mirror).localCheckpoint(eager=True)

    # r12 batch 2 (guide §4.2): the eight matvec steps used to run as
    # eight broadcast-join + hash-agg + unpartitioned-window stages — all
    # scheduler overhead on the dims^2-bounded (64x64) cell table. One
    # applyInPandas task over the whole bounded table runs the identical
    # quantized recurrence: floor(cov * v * 1e12) terms summed as exact
    # Python ints per row-dim (order-free integer addition), L1 as the
    # integer sum of magnitudes, v as the IEEE s_q/l1 double ratio —
    # bit-identical to the JVM expressions ((cov*v)*scale association,
    # floor-toward--inf, int->double round-to-nearest). The cell table is
    # dims^2 rows REGARDLESS of corpus size, so the single-group stage is
    # bounded at any scale.
    n_iters, scale_f = _PI_ITERS, float(_PI_SCALE)

    def _pi_iterate(pdf):
        import math

        import pandas as pd

        trips = [
            (int(i), int(j), float(c))
            for i, j, c in zip(pdf["dim_i"], pdf["dim_j"], pdf["cov"])
        ]
        dims = sorted({i for i, _, _ in trips})
        v = {d: 1.0 for d in dims}
        l1 = 0
        for _ in range(n_iters):
            s_q = {d: 0 for d in dims}
            for i, j, c in trips:
                if j in v:
                    s_q[i] += int(math.floor(c * v[j] * scale_f))
            l1 = sum(abs(x) for x in s_q.values())
            # float() both sides first: the JVM casts each bigint to
            # double BEFORE dividing (two roundings), while Python's
            # int/int divides the exact values (one rounding).
            v = {d: float(s_q[d]) / float(l1) for d in dims}
        return pd.DataFrame(
            {
                "dim": dims,
                "pc1_component": [v[d] for d in dims],
                "lambda_l1": [float(l1) / scale_f] * len(dims),
            }
        )

    return (
        cells.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            _pi_iterate, "dim bigint, pc1_component double, lambda_l1 double"
        )
        .orderBy("dim")
    )


@register(
    name="item_cooccurrence_cosine",
    survey="J6 J9-pattern A7 O4",
    doc="Item-item co-occurrence cosine over the order basket graph "
    "(the classic 'bought-together' recsys kernel): distinct "
    "(order, part) pairs, within-order part pairs (p1 < p2 - the "
    "pair explosion is quadratic only in BASKET size, which is "
    "bounded by order shape, never by corpus size), per-part order "
    "frequencies, cosine = co / sqrt(na * nb) on exact integer "
    "counts (sqrt is IEEE-exact in both engines), global top-20 "
    "with full (cosine DESC, part_a, part_b) tiebreak via "
    "sort-limit (TakeOrderedAndProject: 20 rows cross to the final "
    "stage). All shuffles are equi-keyed and linear.",
    oracle="""
        WITH op AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem),
        freq AS (
            SELECT p, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY p),
        co AS (
            SELECT a.p AS part_a, b.p AS part_b,
                   CAST(count(*) AS BIGINT) AS n_co
            FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
            GROUP BY a.p, b.p)
        SELECT co.part_a, co.part_b, co.n_co,
               fa.n AS n_a, fb.n AS n_b,
               CAST(co.n_co AS DOUBLE)
               / sqrt(CAST(fa.n * fb.n AS DOUBLE)) AS cosine
        FROM co
        JOIN freq fa ON fa.p = co.part_a
        JOIN freq fb ON fb.p = co.part_b
        ORDER BY cosine DESC, part_a, part_b
        LIMIT 20
    """,
)
def item_cooccurrence_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    freq = op.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = op.alias("a")
    b = op.alias("b")
    co = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("part_a"), F.col("b.p").alias("part_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_co"))
    )
    fa = freq.selectExpr("p AS part_a", "n AS n_a")
    fb = freq.selectExpr("p AS part_b", "n AS n_b")
    return (
        co.join(fa, "part_a")
        .join(fb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_co",
            "n_a",
            "n_b",
            (
                F.col("n_co").cast("double")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    name="embedding_norm_outliers",
    survey="UD4 A7 F17 P4 J5",
    doc="Embedding hygiene screen: per-vector distance from the corpus "
    "CENTROID (the well-posed outlier statistic for unit-normalized "
    "embeddings, whose raw L2 norms are all exactly 1), with the "
    "centroid from per-dimension micro-quantized integer sums "
    "(order-independent, broadcast as a 64-row dim table), per-"
    "vector squared-deviation folds quantized before summation, and "
    "a z-score over the distance distribution. Vectors with |z| > "
    "2.5 are the candidates to drop before an ANN index build: "
    "collapsed duplicates sit unusually CLOSE to the centroid, "
    "corrupted vectors unusually far. Two linear passes plus "
    "bounded-domain joins; nothing is collected.",
    oracle="""
        WITH cells AS (
            SELECT vec_id, f.i AS dim, CAST(embedding[f.i] AS DOUBLE) AS x
            FROM embeddings,
                 LATERAL (SELECT unnest(range(1, len(embedding) + 1))
                          AS i) f),
        mu AS (
            SELECT dim,
                   CAST(SUM(CAST(floor(x * 100000000) AS BIGINT))
                        AS DOUBLE) / 100000000
                   / CAST(count(*) AS DOUBLE) AS m
            FROM cells GROUP BY dim),
        d AS (
            SELECT c.vec_id,
                   sqrt(CAST(SUM(CAST(floor((c.x - mu.m) * (c.x - mu.m)
                                            * 100000000) AS BIGINT))
                             AS DOUBLE) / 100000000) AS dist
            FROM cells c JOIN mu USING (dim)
            GROUP BY c.vec_id),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(floor(dist * 100000000) AS BIGINT))
                        AS DOUBLE) / 100000000 AS s1,
                   CAST(SUM(CAST(floor(dist * dist * 100000000) AS BIGINT))
                        AS DOUBLE) / 100000000 AS s2
            FROM d)
        SELECT vec_id, dist,
               (dist - s1 / CAST(n AS DOUBLE))
               / sqrt(s2 / CAST(n AS DOUBLE)
                      - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                   AS z
        FROM d CROSS JOIN stats
        WHERE abs((dist - s1 / CAST(n AS DOUBLE))
                  / sqrt(s2 / CAST(n AS DOUBLE)
                         - (s1 / CAST(n AS DOUBLE))
                           * (s1 / CAST(n AS DOUBLE)))) > 2.5
        ORDER BY vec_id
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "posexplode(transform(embedding, x -> CAST(x AS DOUBLE)))"
        " AS (i0, x)",
    ).selectExpr("vec_id", "CAST(i0 + 1 AS INT) AS dim", "x")
    mu = cells.groupBy("dim").agg(
        (
            F.sum(F.floor(F.col("x") * F.lit(1e8)).cast("bigint")).cast("double")
            / F.lit(1e8)
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    )
    d = (
        cells.join(F.broadcast(mu), "dim")
        .groupBy("vec_id")
        .agg(
            F.sqrt(
                F.sum(
                    F.floor(
                        (F.col("x") - F.col("m"))
                        * (F.col("x") - F.col("m"))
                        * F.lit(1e8)
                    ).cast("bigint")
                ).cast("double")
                / F.lit(1e8)
            ).alias("dist")
        )
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.floor(F.col("dist") * F.lit(1e8)).cast("bigint")).cast("double")
            / F.lit(1e8)
        ).alias("s1"),
        (
            F.sum(
                F.floor(F.col("dist") * F.col("dist") * F.lit(1e8)).cast("bigint")
            ).cast("double")
            / F.lit(1e8)
        ).alias("s2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    z = (F.col("dist") - mean) / F.sqrt(F.col("s2") / n - mean * mean)
    return (
        d.join(F.broadcast(stats))
        .where(F.abs(z) > 2.5)
        .select("vec_id", "dist", z.alias("z"))
        .orderBy("vec_id")
    )


@register(
    name="kmeans_label_purity",
    survey="J9 A7 W1 J5",
    doc="External cluster-quality audit of the Lloyd cells against the "
    "held ground-truth labels (the evaluation loop run before "
    "trusting unsupervised cells for SemDeDup-style pruning or IVF "
    "routing): composes the REGISTERED kmeans_lloyd_cells plan "
    "(Spark literally calls it; the oracle embeds its SQL as a "
    "subquery), joins the label column, and reports per cluster the "
    "size, majority label (argmax tiebroken by label ascending), "
    "its count, and purity = majority/size as one int/int division. "
    "Everything after the kmeans plan runs on the bounded (cluster "
    "x label) contingency table.",
    oracle=None,  # assigned below: embeds the registered kmeans oracle
)
def kmeans_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = kmeans_lloyd_cells(spark, sf_dir).select("vec_id", "cluster")
    labels = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    cells = (
        assign.join(labels, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    per_cluster = cells.groupBy("cluster").agg(
        F.sum("n").cast("bigint").alias("n_vectors")
    )
    majority = top_k_per_group(cells, ["cluster"], ["n DESC", "label"], 1).select(
        "cluster",
        F.col("label").alias("majority_label"),
        F.col("n").alias("n_majority"),
    )
    return (
        per_cluster.join(F.broadcast(majority), "cluster")
        .select(
            "cluster",
            "n_vectors",
            "majority_label",
            "n_majority",
            (F.col("n_majority").cast("double") / F.col("n_vectors").cast("double"))
            .alias("purity"),
        )
        .orderBy("cluster")
    )


def _km_purity_oracle() -> str:
    from uk_procurement_data_pipeline_spark.queries.base import _REGISTRY

    km = _REGISTRY["kmeans_lloyd_cells"].oracle
    return f"""
        WITH assign AS ({km}),
        cells AS (
            SELECT a.cluster, e.label, CAST(count(*) AS BIGINT) AS n
            FROM assign a JOIN embeddings e USING (vec_id)
            GROUP BY a.cluster, e.label),
        per_cluster AS (
            SELECT cluster, CAST(SUM(n) AS BIGINT) AS n_vectors
            FROM cells GROUP BY cluster),
        majority AS (
            SELECT cluster, label AS majority_label, n AS n_majority
            FROM (SELECT *, row_number() OVER (PARTITION BY cluster
                                               ORDER BY n DESC, label) AS rk
                  FROM cells)
            WHERE rk = 1)
        SELECT p.cluster, p.n_vectors, m.majority_label, m.n_majority,
               CAST(m.n_majority AS DOUBLE) / CAST(p.n_vectors AS DOUBLE)
                   AS purity
        FROM per_cluster p JOIN majority m USING (cluster)
        ORDER BY p.cluster
    """


# The kmeans oracle is only final once the module finishes registering, so
# patch the spec in place (frozen dataclass -> rebuild).
def _attach_km_purity_oracle() -> None:
    import dataclasses

    from uk_procurement_data_pipeline_spark.queries.base import _REGISTRY

    spec = _REGISTRY["kmeans_label_purity"]
    _REGISTRY["kmeans_label_purity"] = dataclasses.replace(
        spec, oracle=_km_purity_oracle()
    )


_attach_km_purity_oracle()


@register(
    name="association_rules_parts",
    survey="J6 A7 O4 F28",
    doc="Market-basket association rules over order baskets (the "
    "support/confidence/lift triple behind 'frequently bought "
    "together' merchandising, completing item_cooccurrence_cosine "
    "with the canonical Agrawal-style metrics): distinct (order, "
    "part) pairs, within-basket pair counts with a min-support "
    "floor (co >= 3 - lift otherwise degenerates to rare-pair "
    "flukes), support = co/N, both directed confidences, lift = "
    "co*N/(na*nb) on exact integer products (all < 2^53, one IEEE "
    "division each), global top-20 by (lift DESC, part_a, part_b) "
    "via sort-limit. Linear equi-keyed shuffles; pair explosion "
    "bounded by basket size.",
    oracle="""
        WITH op AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem),
        nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets
               FROM op),
        freq AS (
            SELECT p, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY p),
        co AS (
            SELECT a.p AS part_a, b.p AS part_b,
                   CAST(count(*) AS BIGINT) AS n_co
            FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
            GROUP BY a.p, b.p
            HAVING count(*) >= 3)
        SELECT co.part_a, co.part_b, co.n_co,
               fa.n AS n_a, fb.n AS n_b,
               CAST(co.n_co AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE)
                   AS support,
               CAST(co.n_co AS DOUBLE) / CAST(fa.n AS DOUBLE)
                   AS conf_a_to_b,
               CAST(co.n_co AS DOUBLE) / CAST(fb.n AS DOUBLE)
                   AS conf_b_to_a,
               CAST(co.n_co * nb.n_baskets AS DOUBLE)
               / CAST(fa.n * fb.n AS DOUBLE) AS lift
        FROM co
        JOIN freq fa ON fa.p = co.part_a
        JOIN freq fb ON fb.p = co.part_b
        CROSS JOIN nb
        ORDER BY lift DESC, part_a, part_b
        LIMIT 20
    """,
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    nb = op.agg(F.countDistinct("o").cast("bigint").alias("n_baskets"))
    freq = op.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = op.alias("a")
    b = op.alias("b")
    co = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("part_a"), F.col("b.p").alias("part_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_co"))
        .where(F.col("n_co") >= 3)
    )
    fa = freq.selectExpr("p AS part_a", "n AS n_a")
    fb = freq.selectExpr("p AS part_b", "n AS n_b")
    return (
        co.join(fa, "part_a")
        .join(fb, "part_b")
        .join(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            "n_co",
            "n_a",
            "n_b",
            (F.col("n_co").cast("double") / F.col("n_baskets").cast("double")).alias(
                "support"
            ),
            (F.col("n_co").cast("double") / F.col("n_a").cast("double")).alias(
                "conf_a_to_b"
            ),
            (F.col("n_co").cast("double") / F.col("n_b").cast("double")).alias(
                "conf_b_to_a"
            ),
            (
                (F.col("n_co") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    name="embedding_mmd_linear",
    survey="A7 UD4 F17 J6",
    doc="Linear-kernel Maximum Mean Discrepancy between embedding "
    "label groups (the two-sample distribution-shift test in "
    "representation space: MMD^2 = ||mu_a - mu_b||^2 for the linear "
    "kernel - zero iff the group means coincide): per-(label, dim) "
    "micro-quantized integer sums give exact group means, and "
    "MMD^2 folds per label pair as one sum of squared per-dim "
    "differences, floor-quantized before the final bounded-domain "
    "aggregation. All pairs of the (small) label domain are "
    "reported; shuffles are linear in corpus size (one cell "
    "aggregation), then everything lives on labels x dims rows.",
    oracle="""
        WITH cells AS (
            SELECT label, f.i AS dim, CAST(embedding[f.i] AS DOUBLE) AS x
            FROM embeddings,
                 LATERAL (SELECT unnest(range(1, len(embedding) + 1))
                          AS i) f),
        mu AS (
            SELECT label, dim,
                   CAST(SUM(CAST(floor(x * 100000000) AS BIGINT))
                        AS DOUBLE) / 100000000
                   / CAST(count(*) AS DOUBLE) AS m
            FROM cells GROUP BY label, dim),
        sizes AS (
            SELECT label, CAST(count(DISTINCT dim) AS BIGINT) AS d,
                   (SELECT CAST(count(*) AS BIGINT) FROM embeddings e
                    WHERE e.label = mu.label) AS n
            FROM mu GROUP BY label)
        SELECT a.label AS label_a, b.label AS label_b,
               sa.n AS n_a, sb.n AS n_b,
               CAST(SUM(CAST(floor((a.m - b.m) * (a.m - b.m) * 1000000000000)
                             AS BIGINT)) AS DOUBLE) / 1000000000000
                   AS mmd2_linear
        FROM mu a
        JOIN mu b ON a.dim = b.dim AND a.label < b.label
        JOIN sizes sa ON sa.label = a.label
        JOIN sizes sb ON sb.label = b.label
        GROUP BY a.label, b.label, sa.n, sb.n
        ORDER BY a.label, b.label
    """,
)
def embedding_mmd_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        load(spark, sf_dir, "embeddings")
        .selectExpr(
            "label",
            "posexplode(transform(embedding, x -> CAST(x AS DOUBLE)))"
            " AS (i0, x)",
        )
        .selectExpr("label", "CAST(i0 + 1 AS INT) AS dim", "x")
    )
    mu = cells.groupBy("label", "dim").agg(
        (
            F.sum(F.floor(F.col("x") * F.lit(1e8)).cast("bigint")).cast("double")
            / F.lit(1e8)
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    )
    sizes = (
        load(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a = mu.selectExpr("label AS label_a", "dim", "m AS ma")
    b = mu.selectExpr("label AS label_b", "dim AS dim_b", "m AS mb")
    sa = sizes.selectExpr("label AS label_a", "n AS n_a")
    sb = sizes.selectExpr("label AS label_b", "n AS n_b")
    term = F.floor(
        (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))
        * F.lit(1000000000000.0)
    ).cast("bigint")
    return (
        a.join(
            b,
            (F.col("dim") == F.col("dim_b"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .drop("dim_b")
        .join(F.broadcast(sa), "label_a")
        .join(F.broadcast(sb), "label_b")
        .groupBy("label_a", "label_b", "n_a", "n_b")
        .agg(
            (F.sum(term).cast("double") / F.lit(1000000000000.0)).alias(
                "mmd2_linear"
            )
        )
        .select("label_a", "label_b", "n_a", "n_b", "mmd2_linear")
        .orderBy("label_a", "label_b")
    )


@register(
    name="mmr_diversified_rerank",
    survey="J9 UD4 W1 J7",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="Maximal-marginal-relevance re-ranking (Carbonell & Goldstein "
    "1998) — the diversified retrieval stage a RAG pipeline runs after "
    "ANN recall: take the query's top-12 cosine candidates, then pick "
    "4 results greedily where round r maximizes 0.7*relevance - "
    "0.3*max-similarity-to-already-picked. The candidate pool and its "
    "12x12 similarity matrix are computed ONCE (Spark: localCheckpoint "
    "so the greedy rounds never re-scan the embedding "
    "table; oracle: MATERIALIZED CTEs — the sanctioned pattern for "
    "multi-referenced iterative stages). All cosines are "
    "sequential-fold dot products (bit-identical across engines, see "
    "module docstring); each greedy argmax uses a (score DESC, "
    "vec_id) total tiebreak. Scale shape: one linear scan + broadcast "
    "of ONE query row for candidate generation; everything after "
    "lives on the 12-row pool.",
    oracle=f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id, embedding,
                   sqrt({duck_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings),
        q AS (
            SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = 0),
        cand AS MATERIALIZED (
            SELECT vec_id, embedding, nrm, rel FROM (
              SELECT e.vec_id, e.embedding, e.nrm,
                     {duck_dot('qv', 'embedding')} / (qn * e.nrm)
                         AS rel,
                     ROW_NUMBER() OVER (ORDER BY
                       {duck_dot('qv', 'embedding')} / (qn * e.nrm)
                         DESC, e.vec_id) AS rn
              FROM e CROSS JOIN q WHERE e.vec_id <> 0) t
            WHERE rn <= 12),
        pairs AS MATERIALIZED (
            SELECT a.vec_id AS ca, b.vec_id AS cb,
                   {duck_dot('a.embedding', 'b.embedding')}
                     / (a.nrm * b.nrm) AS sim
            FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        s1 AS (
            SELECT vec_id, rel, rel AS mmr FROM (
              SELECT vec_id, rel,
                     ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS rn
              FROM cand) t WHERE rn = 1),
        s2 AS (
            SELECT vec_id, rel, mmr FROM (
              SELECT c.vec_id, c.rel,
                     0.7 * c.rel - 0.3 * MAX(p.sim) AS mmr,
                     ROW_NUMBER() OVER (ORDER BY
                       0.7 * c.rel - 0.3 * MAX(p.sim) DESC, c.vec_id) AS rn
              FROM cand c
              JOIN pairs p ON p.ca = c.vec_id
                          AND p.cb IN (SELECT vec_id FROM s1)
              WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
              GROUP BY c.vec_id, c.rel) t WHERE rn = 1),
        s3 AS (
            SELECT vec_id, rel, mmr FROM (
              SELECT c.vec_id, c.rel,
                     0.7 * c.rel - 0.3 * MAX(p.sim) AS mmr,
                     ROW_NUMBER() OVER (ORDER BY
                       0.7 * c.rel - 0.3 * MAX(p.sim) DESC, c.vec_id) AS rn
              FROM cand c
              JOIN pairs p ON p.ca = c.vec_id
                          AND p.cb IN (SELECT vec_id FROM s1
                                       UNION ALL SELECT vec_id FROM s2)
              WHERE c.vec_id NOT IN (SELECT vec_id FROM s1
                                     UNION ALL SELECT vec_id FROM s2)
              GROUP BY c.vec_id, c.rel) t WHERE rn = 1),
        s4 AS (
            SELECT vec_id, rel, mmr FROM (
              SELECT c.vec_id, c.rel,
                     0.7 * c.rel - 0.3 * MAX(p.sim) AS mmr,
                     ROW_NUMBER() OVER (ORDER BY
                       0.7 * c.rel - 0.3 * MAX(p.sim) DESC, c.vec_id) AS rn
              FROM cand c
              JOIN pairs p ON p.ca = c.vec_id
                          AND p.cb IN (SELECT vec_id FROM s1
                                       UNION ALL SELECT vec_id FROM s2
                                       UNION ALL SELECT vec_id FROM s3)
              WHERE c.vec_id NOT IN (SELECT vec_id FROM s1
                                     UNION ALL SELECT vec_id FROM s2
                                     UNION ALL SELECT vec_id FROM s3)
              GROUP BY c.vec_id, c.rel) t WHERE rn = 1)
        SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel, mmr FROM s1
        UNION ALL SELECT 2, vec_id, rel, mmr FROM s2
        UNION ALL SELECT 3, vec_id, rel, mmr FROM s3
        UNION ALL SELECT 4, vec_id, rel, mmr FROM s4
        ORDER BY rank
    """,
)
def mmr_diversified_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "embedding",
        f"{norm('embedding')} AS nrm",
    )
    q = e.where(F.col("vec_id") == 0).selectExpr(
        "embedding AS qv", "nrm AS qn"
    )
    scored = e.where(F.col("vec_id") != 0).join(F.broadcast(q)).selectExpr(
        "vec_id",
        "embedding",
        "nrm",
        f"{cosine('qv', 'embedding', 'qn', 'nrm')} AS rel",
    )
    # orderBy+limit compiles to TakeOrderedAndProject (distributed
    # per-partition top-k + merge), not a single-partition window sort.
    cand = (
        scored.orderBy(F.col("rel").desc(), "vec_id")
        .limit(12)
        # 12-row pool feeds the pair matrix and all four greedy rounds;
        # checkpoint so the rounds never re-run the candidate scan.
        .localCheckpoint(eager=True)
    )
    a = cand.alias("a")
    b = cand.alias("b")
    pairs = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).selectExpr(
        "a.vec_id AS ca",
        "b.vec_id AS cb",
        f"{cosine('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')} AS sim",
    ).localCheckpoint(eager=True)

    def pick_first(df: DataFrame) -> DataFrame:
        return top_k_per_group(df, [], ["score DESC", "vec_id"], 1).select(
            "vec_id", "rel", F.col("score").alias("mmr")
        )

    s1 = pick_first(cand.select("vec_id", "rel", F.col("rel").alias("score")))
    picked = s1.select("vec_id")
    rounds = [s1]
    for _ in range(3):
        scored_r = (
            cand.join(picked, "vec_id", "left_anti")
            .join(pairs, F.col("vec_id") == F.col("ca"))
            .join(picked.select(F.col("vec_id").alias("cb")), "cb", "left_semi")
            .groupBy("vec_id", "rel")
            .agg((F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.max("sim")).alias("score"))
        )
        s = pick_first(scored_r)
        rounds.append(s)
        picked = picked.unionByName(s.select("vec_id"))
    out = None
    for i, s in enumerate(rounds, start=1):
        row = s.select(
            F.lit(i).cast("bigint").alias("rank"), "vec_id", "rel", "mmr"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("rank")


# nDCG discount weights floor(1e6 / log2(rank+1)) precomputed as exact
# literals so NO runtime log2 (libm is not cross-engine reproducible);
# IDCG for the graded 5..1 truth is likewise a constant.
_NDCG_W = {1: 1000000, 2: 630929, 3: 500000, 4: 430676, 5: 386852}
_NDCG_W_CASE = (
    "CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630929 WHEN 3 THEN 500000"
    " WHEN 4 THEN 430676 ELSE 386852 END"
)
_NDCG_IDCG = sum((6 - r) * w for r, w in _NDCG_W.items())  # 10702596


@register(
    name="ann_ndcg_report",
    survey="J9 UD4 W1 A7",
    doc="Graded ranking quality of the LSH ANN path: nDCG@5 of "
    "ann_lsh_bucketed's single-probe candidates against brute-force "
    "cosine ground truth (relevance 5..1 by true rank) — the ranking "
    "companion to ann_recall_report's set-overlap metric, separating "
    "'found the right 5' from 'ordered them right'. The log2 "
    "discounts are PRECOMPUTED micro-integer literals (runtime log2 "
    "is a libm hazard), the ideal DCG for graded 5..1 truth is the "
    "constant 10702596, and each query's DCG is an exact integer sum "
    "— one IEEE division per query for the final nDCG. Candidate "
    "generation is the registered bucket equi-join; truth is the "
    "labeled brute-force baseline. Bounded output: one row per "
    "query vector.",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding,
                   sqrt({duck_dot('embedding', 'embedding')})
                       AS nrm,
                   {_D_SIGN_BUCKET.format(v='embedding')} AS bucket
            FROM embeddings),
        q AS (
            SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
                   bucket AS qbucket
            FROM e WHERE vec_id % 100 = 0),
        truth AS (
            SELECT query_id, neighbor_id, CAST(6 - rn AS BIGINT) AS rel
            FROM (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY {duck_dot('qv', 'embedding')}
                                / (qn * e.nrm) DESC, e.vec_id) AS rn
              FROM q JOIN e ON e.vec_id <> q.query_id) t
            WHERE rn <= 5),
        sys AS (
            SELECT query_id, neighbor_id, rn AS rank
            FROM (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY {duck_dot('qv', 'embedding')}
                                / (qn * e.nrm) DESC, e.vec_id) AS rn
              FROM q JOIN e ON e.bucket = q.qbucket
                           AND e.vec_id <> q.query_id) t
            WHERE rn <= 5),
        scored AS (
            SELECT s.query_id,
                   CAST(count(*) AS BIGINT) AS n_sys,
                   CAST(SUM(COALESCE(tr.rel, 0)
                            * ({_NDCG_W_CASE})) AS BIGINT) AS dcg_micro
            FROM sys s
            LEFT JOIN truth tr ON tr.query_id = s.query_id
                              AND tr.neighbor_id = s.neighbor_id
            GROUP BY s.query_id)
        SELECT query_id, n_sys, dcg_micro,
               CAST(dcg_micro AS DOUBLE) / {_NDCG_IDCG}.0 AS ndcg_at_5
        FROM scored
        ORDER BY query_id
    """,
)
def ann_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "embedding",
        f"{norm('embedding')} AS nrm",
        f"{_SIGN_BUCKET.format(v='embedding')} AS bucket",
    )
    q = e.where(F.col("vec_id") % 100 == 0).selectExpr(
        "vec_id AS query_id", "embedding AS qv", "nrm AS qn", "bucket AS qbucket"
    )
    cos = cosine("qv", "embedding", "qn", "nrm")
    best = ["cosine DESC", "neighbor_id"]
    truth = top_k_per_group(
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).selectExpr(
            "query_id", "vec_id AS neighbor_id", f"{cos} AS cosine"
        ),
        ["query_id"], best, 5, rank="rn",
    ).select("query_id", "neighbor_id", (6 - F.col("rn")).cast("bigint").alias("rel"))
    sys_ = top_k_per_group(
        e.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        ).selectExpr("query_id", "vec_id AS neighbor_id", f"{cos} AS cosine"),
        ["query_id"], best, 5, rank="rank",
    ).select("query_id", "neighbor_id", "rank")
    scored = (
        sys_.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sys"),
            F.sum(
                F.coalesce("rel", F.lit(0)) * F.expr(_NDCG_W_CASE)
            )
            .cast("bigint")
            .alias("dcg_micro"),
        )
    )
    return scored.select(
        "query_id",
        "n_sys",
        "dcg_micro",
        (F.col("dcg_micro").cast("double") / F.lit(float(_NDCG_IDCG))).alias(
            "ndcg_at_5"
        ),
    ).orderBy("query_id")


@register(
    name="pq_codebook_train",
    survey="J9 UD4 A7 F17",
    doc="Product-quantization codebook training (Jegou et al. 2011) — "
    "the memory layer under billion-scale ANN serving, extending the "
    "registered scalar int8 path with SUBSPACE vector codes: the "
    "64-dim embeddings split into 4 x 16-dim subvectors, each "
    "subspace trains k=4 centroids (seeded from the first four "
    "vectors, one Lloyd update with exact-decimal means — the "
    "kmeans_lloyd_cells contract), and the output reports each "
    "(subspace, code) cell's population and mean squared "
    "reconstruction error. Assignment folds the 4 broadcast "
    "centroids per row (zero-shuffle map pass, explicit (d2, cid) "
    "tiebreak); the only shuffles are the two bounded-domain "
    "centroid/MSE aggregations. 16 output rows.",
    oracle=f"""
        WITH sub AS (
            SELECT vec_id, m.m,
                   list_transform(embedding[m.m * 16 + 1 : m.m * 16 + 16],
                                  x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings,
                 (SELECT unnest(range(0, 4)) AS m) m),
        seeds AS (
            SELECT m, vec_id AS cid, v AS cv FROM sub WHERE vec_id < 4),
        a1 AS (
            SELECT s.vec_id, s.m, s.v, t.cid
            FROM sub s
            JOIN LATERAL (
              SELECT c.cid
              FROM seeds c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.v', 'c.cv')}, c.cid
              LIMIT 1) t ON true),
        cent1 AS (
            SELECT m, cid, d.dim,
                   CAST(ROUND(SUM(CAST(v[d.dim] AS DECIMAL(38,8))), 4)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
            FROM a1, (SELECT unnest(range(1, 17)) AS dim) d
            GROUP BY m, cid, d.dim),
        cb AS (
            SELECT m, cid,
                   list_transform(
                     list_sort(list(struct_pack(dim := dim, mu := mu))),
                     r -> r.mu) AS cv
            FROM cent1 GROUP BY m, cid),
        a2 AS (
            SELECT s.vec_id, s.m, t.cid, t.d2
            FROM sub s
            JOIN LATERAL (
              SELECT c.cid, {duck_sqd('s.v', 'c.cv')} AS d2
              FROM cb c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.v', 'c.cv')}, c.cid
              LIMIT 1) t ON true)
        SELECT CAST(m AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS code,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(ROUND(SUM(CAST(d2 AS DECIMAL(38,8))), 4) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS mse
        FROM a2
        GROUP BY m, cid
        ORDER BY subspace, code
    """,
)
def pq_codebook_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import exact_avg

    ms = spark.range(0, 4).select(F.col("id").cast("bigint").alias("m"))
    sub = (
        load(spark, sf_dir, "embeddings")
        .crossJoin(F.broadcast(ms))
        .selectExpr(
            "vec_id",
            "m",
            "transform(slice(embedding, CAST(m * 16 + 1 AS INT), 16),"
            " x -> CAST(x AS DOUBLE)) AS v",
        )
    )
    seeds = sub.where(F.col("vec_id") < 4).selectExpr(
        "m", "vec_id AS cid", "v AS cv"
    )

    def assign(points: DataFrame, cents: DataFrame) -> DataFrame:
        cent_arr = cents.groupBy("m").agg(
            F.collect_list(F.struct("cid", "cv")).alias("cs")
        )
        scored = nearest("cs", "v")
        return (
            points.join(F.broadcast(cent_arr), "m")
            .selectExpr("vec_id", "m", "v", f"{scored} AS best")
            .selectExpr(
                "vec_id", "m", "v", "best.cid AS cid", "best.d2 AS d2"
            )
        )

    a1 = assign(sub, seeds)
    cent1 = (
        a1.selectExpr("m", "cid", "posexplode(v) AS (dim, val)")
        .groupBy("m", "cid", "dim")
        .agg(exact_avg("val", "mu"))
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                lambda x: x["mu"],
            ).alias("cv")
        )
    )
    a2 = assign(sub, cent1)
    return (
        a2.groupBy(
            F.col("m").cast("bigint").alias("subspace"),
            F.col("cid").cast("bigint").alias("code"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            (
                F.round(F.sum(F.col("d2").cast("decimal(38,8)")), 4).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("mse"),
        )
        .orderBy("subspace", "code")
    )


@register(
    name="geometric_median_embedding",
    survey="J5 A7 UD4 F17",
    doc="Geometric median of the embedding cloud by two unrolled "
    "Weiszfeld iterations (the robust aggregation used in federated/"
    "Byzantine-tolerant averaging — a few corrupted vectors move the "
    "arithmetic mean arbitrarily but barely dent this): start at the "
    "exact-decimal per-dim mean, then twice re-weight every vector "
    "by 1/max(dist, 1e-12) (sequential-fold distance, IEEE-exact) "
    "and recompute the weighted center with exact-decimal sums of "
    "the per-row dec()-cast terms (order-independent — the "
    "functions/exact.py contract; the cast of ANY double to "
    "decimal(38,8) rounds identically in both engines). Each "
    "iteration is one broadcast of the 64-dim center + one linear "
    "scan with map-side partial aggregation. Output: per-dim mean "
    "vs geometric median.",
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        dims AS (SELECT unnest(range(1, 65)) AS dim),
        m0 AS (
            SELECT d.dim,
                   CAST(ROUND(SUM(CAST(v[d.dim] AS DECIMAL(38,8))), 4)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c
            FROM e, dims d GROUP BY d.dim),
        x0 AS (
            SELECT list_transform(list_sort(list(struct_pack(
                       dim := dim, c := c))), r -> r.c) AS x
            FROM m0),
        w1 AS (
            SELECT e.vec_id, e.v,
                   1.0 / greatest(sqrt({duck_sqd('e.v', 'x0.x')}),
                                  0.000000000001) AS w
            FROM e CROSS JOIN x0),
        m1 AS (
            SELECT d.dim,
                   CAST(ROUND(SUM(CAST(w * v[d.dim] AS DECIMAL(38,8))), 4)
                        AS DOUBLE)
                   / CAST(ROUND(SUM(CAST(w AS DECIMAL(38,8))), 4)
                          AS DOUBLE) AS c
            FROM w1, dims d GROUP BY d.dim),
        x1 AS (
            SELECT list_transform(list_sort(list(struct_pack(
                       dim := dim, c := c))), r -> r.c) AS x
            FROM m1),
        w2 AS (
            SELECT e.vec_id, e.v,
                   1.0 / greatest(sqrt({duck_sqd('e.v', 'x1.x')}),
                                  0.000000000001) AS w
            FROM e CROSS JOIN x1),
        m2 AS (
            SELECT d.dim,
                   CAST(ROUND(SUM(CAST(w * v[d.dim] AS DECIMAL(38,8))), 4)
                        AS DOUBLE)
                   / CAST(ROUND(SUM(CAST(w AS DECIMAL(38,8))), 4)
                          AS DOUBLE) AS c
            FROM w2, dims d GROUP BY d.dim)
        SELECT m0.dim AS dim, m0.c AS mean_component,
               m2.c AS gmedian_component
        FROM m0 JOIN m2 ON m0.dim = m2.dim
        ORDER BY dim
    """,
)
def geometric_median_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    )

    def center_means(pts: DataFrame, weighted: bool) -> DataFrame:
        ex = pts.selectExpr(
            *(["w"] if weighted else []), "posexplode(v) AS (dim0, val)"
        ).selectExpr(*(["w"] if weighted else []), "dim0 + 1 AS dim", "val")
        if weighted:
            return ex.groupBy("dim").agg(
                (
                    F.round(
                        F.sum(F.expr("CAST(w * val AS DECIMAL(38,8))")), 4
                    ).cast("double")
                    / F.round(
                        F.sum(F.expr("CAST(w AS DECIMAL(38,8))")), 4
                    ).cast("double")
                ).alias("c")
            )
        return ex.groupBy("dim").agg(
            (
                F.round(F.sum(F.expr("CAST(val AS DECIMAL(38,8))")), 4).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("c")
        )

    def pack(means: DataFrame) -> DataFrame:
        return means.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("x")
        )

    def reweight(x: DataFrame) -> DataFrame:
        return e.crossJoin(F.broadcast(x)).selectExpr(
            "vec_id",
            "v",
            f"1.0 / greatest(sqrt({sqd('v', 'x')}),"
            " 0.000000000001) AS w",
        )

    m0 = center_means(e, weighted=False)
    m1 = center_means(reweight(pack(m0)), weighted=True)
    m2 = center_means(reweight(pack(m1)), weighted=True)
    return (
        m0.select(F.col("dim"), F.col("c").alias("mean_component"))
        .join(
            m2.select(F.col("dim").alias("d2"), F.col("c").alias("gmedian_component")),
            F.col("dim") == F.col("d2"),
        )
        .select("dim", "mean_component", "gmedian_component")
        .orderBy("dim")
    )


@register(
    name="pq_adc_topk",
    survey="J9 J5 A7 W1 F17",
    eager=True,  # fn materializes the trained codebook; time fn+action together (r12)
    doc="PQ asymmetric-distance top-k search (Jegou et al. 2011, ADC) — "
    "the serving-side half of product quantization that completes the "
    "registered ANN family (brute-force, LSH, IVF, PQ codebook): the "
    "pq_codebook_train codebook (4 subspaces x 4 centroids, seeded + one "
    "exact-decimal Lloyd step) encodes every vector as 4 codes; each of "
    "the four query vectors (vec_id 4..7) precomputes a 16-entry "
    "lookup table of exact subspace distances to the centroids; a "
    "vector's ADC distance is then the sum of 4 LUT entries keyed by "
    "its codes — table lookups instead of D-dim arithmetic, which is "
    "why PQ serves billion-vector indexes from RAM. The LUT join is a "
    "broadcast (64 rows), the per-(query, vector) sum uses the exact "
    "decimal fold (hash-agg order immune), and top-5 ranks with an "
    "explicit (adc, neighbor_id) tiebreak — PQ code collisions make "
    "exact ties common and the ordering stays deterministic. Shuffles: "
    "the two bounded codebook aggs plus one (query, vector)-keyed agg "
    "that is linear in N x n_queries.",
    oracle=f"""
        WITH sub AS (
            SELECT vec_id, m.m,
                   list_transform(embedding[m.m * 16 + 1 : m.m * 16 + 16],
                                  x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings,
                 (SELECT unnest(range(0, 4)) AS m) m),
        seeds AS (
            SELECT m, vec_id AS cid, v AS cv FROM sub WHERE vec_id < 4),
        a1 AS (
            SELECT s.vec_id, s.m, s.v, t.cid
            FROM sub s
            JOIN LATERAL (
              SELECT c.cid
              FROM seeds c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.v', 'c.cv')}, c.cid
              LIMIT 1) t ON true),
        cent1 AS (
            SELECT m, cid, d.dim,
                   CAST(ROUND(SUM(CAST(v[d.dim] AS DECIMAL(38,8))), 4)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
            FROM a1, (SELECT unnest(range(1, 17)) AS dim) d
            GROUP BY m, cid, d.dim),
        cb AS (
            SELECT m, cid,
                   list_transform(
                     list_sort(list(struct_pack(dim := dim, mu := mu))),
                     r -> r.mu) AS cv
            FROM cent1 GROUP BY m, cid),
        codes AS (
            SELECT s.vec_id, s.m, t.cid
            FROM sub s
            JOIN LATERAL (
              SELECT c.cid FROM cb c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.v', 'c.cv')}, c.cid
              LIMIT 1) t ON true),
        lut AS (
            SELECT q.vec_id AS query_id, c.m, c.cid,
                   {duck_sqd('q.v', 'c.cv')} AS d2
            FROM sub q JOIN cb c ON q.m = c.m
            WHERE q.vec_id >= 4 AND q.vec_id < 8),
        adc AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(ROUND(SUM(CAST(l.d2 AS DECIMAL(38,8))), 4)
                        AS DOUBLE) AS adc
            FROM codes c JOIN lut l ON c.m = l.m AND c.cid = l.cid
            WHERE c.vec_id != l.query_id
            GROUP BY l.query_id, c.vec_id),
        topk AS (
            SELECT query_id, neighbor_id, adc,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc, neighbor_id) AS rank
            FROM adc)
        SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc
        FROM topk WHERE rank <= 5
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import exact_avg

    ms = spark.range(0, 4).select(F.col("id").cast("bigint").alias("m"))
    sub = (
        load(spark, sf_dir, "embeddings")
        .crossJoin(F.broadcast(ms))
        .selectExpr(
            "vec_id",
            "m",
            "transform(slice(embedding, CAST(m * 16 + 1 AS INT), 16),"
            " x -> CAST(x AS DOUBLE)) AS v",
        )
    )
    seeds = sub.where(F.col("vec_id") < 4).selectExpr(
        "m", "vec_id AS cid", "v AS cv"
    )

    def assign(points: DataFrame, cents: DataFrame) -> DataFrame:
        cent_arr = cents.groupBy("m").agg(
            F.collect_list(F.struct("cid", "cv")).alias("cs")
        )
        scored = nearest("cs", "v")
        return (
            points.join(F.broadcast(cent_arr), "m")
            .selectExpr("vec_id", "m", "v", f"{scored} AS best")
            .selectExpr("vec_id", "m", "v", "best.cid AS cid")
        )

    a1 = assign(sub, seeds)
    cent1 = (
        a1.selectExpr("m", "cid", "posexplode(v) AS (dim, val)")
        .groupBy("m", "cid", "dim")
        .agg(exact_avg("val", "mu"))
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                lambda x: x["mu"],
            ).alias("cv")
        )
        # r12 (guide §2.4): the trained codebook is 64 tiny rows but its
        # Lloyd-step lineage is the plan's most expensive stage, and BOTH
        # the corpus encoder (codes) and the query LUTs consume it --
        # materialize once (spec flipped eager so this stays timed).
        .localCheckpoint(eager=True)
    )
    codes = assign(sub, cent1).select("vec_id", "m", "cid")
    lut = (
        sub.where((F.col("vec_id") >= 4) & (F.col("vec_id") < 8))
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cent1), "m")
        .selectExpr(
            "query_id", "m", "cid", f"{sqd('v', 'cv')} AS d2"
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "cid"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.round(F.sum(F.col("d2").cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("adc")
        )
    )
    return top_k_per_group(
        adc, ["query_id"], ["adc", "neighbor_id"], 5, rank="rank"
    ).select("query_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id", "adc")


_PQR_K = 16  # centroids per subspace for the serving-grade codebook
_PQR_SLS = [20, 100, 500]  # ADC shortlist sizes probed


@register(
    name="pq_recall_report",
    survey="J9 J5 A7 W1 F17",
    eager=True,  # fn materializes the trained codebook; time fn+action together (r12)
    doc="PQ shortlist recall audit — the measurement behind every "
    "ADC-then-rerank deployment: with a serving-grade 16-centroid-per-"
    "subspace codebook (seeded + one exact-decimal Lloyd step, same "
    "contract as pq_codebook_train), how much of each query's EXACT "
    "L2 top-5 survives inside the ADC shortlist at sizes 20/100/500? "
    "Four held-out queries (vec_id 16..19, outside the seed set); "
    "recall climbs ~0-20% at 20 to 60-80% at 500 on this corpus — the "
    "curve that tells you the rerank depth PQ needs here. Exact side "
    "is one broadcast of 4 query vectors + a linear fold; ADC side is "
    "the broadcast-LUT shape of pq_adc_topk; both top-k windows "
    "partition by query_id. The shortlist probe is a broadcast "
    "3-row range condition, not 3 query reruns.",
    oracle=f"""
        WITH sub AS (
            SELECT vec_id, m.m,
                   list_transform(embedding[m.m * 16 + 1 : m.m * 16 + 16],
                                  x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings,
                 (SELECT unnest(range(0, 4)) AS m) m),
        seeds AS (
            SELECT m, vec_id AS cid, v AS cv FROM sub
            WHERE vec_id < {_PQR_K}),
        a1 AS (
            SELECT s.vec_id, s.m, s.v, t.cid
            FROM sub s
            JOIN LATERAL (
              SELECT c.cid FROM seeds c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.v', 'c.cv')}, c.cid
              LIMIT 1) t ON true),
        cent1 AS (
            SELECT m, cid, d.dim,
                   CAST(ROUND(SUM(CAST(v[d.dim] AS DECIMAL(38,8))), 4)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
            FROM a1, (SELECT unnest(range(1, 17)) AS dim) d
            GROUP BY m, cid, d.dim),
        cb AS (
            SELECT m, cid,
                   list_transform(
                     list_sort(list(struct_pack(dim := dim, mu := mu))),
                     r -> r.mu) AS cv
            FROM cent1 GROUP BY m, cid),
        codes AS (
            SELECT s.vec_id, s.m, t.cid
            FROM sub s
            JOIN LATERAL (
              SELECT c.cid FROM cb c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.v', 'c.cv')}, c.cid
              LIMIT 1) t ON true),
        lut AS (
            SELECT q.vec_id AS query_id, c.m, c.cid,
                   {duck_sqd('q.v', 'c.cv')} AS d2
            FROM sub q JOIN cb c ON q.m = c.m
            WHERE q.vec_id >= 16 AND q.vec_id < 20),
        adc AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(ROUND(SUM(CAST(l.d2 AS DECIMAL(38,8))), 4)
                        AS DOUBLE) AS adc
            FROM codes c JOIN lut l ON c.m = l.m AND c.cid = l.cid
            WHERE c.vec_id != l.query_id
            GROUP BY l.query_id, c.vec_id),
        adc_topk AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc, neighbor_id) AS rank
            FROM adc),
        vd AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        exact AS (
            SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY {duck_sqd('q.v', 'x.v')}, x.vec_id)
                       AS rank
            FROM vd q JOIN vd x ON q.vec_id != x.vec_id
            WHERE q.vec_id >= 16 AND q.vec_id < 20)
        SELECT e.query_id, CAST(s.sl AS BIGINT) AS shortlist,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
               CAST(1000 * sum(CASE WHEN a.neighbor_id IS NOT NULL
                                    THEN 1 ELSE 0 END) // count(*)
                    AS BIGINT) AS recall_permille
        FROM exact e
        CROSS JOIN (SELECT unnest({_PQR_SLS}) AS sl) s
        LEFT JOIN adc_topk a
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         AND a.rank <= s.sl
        WHERE e.rank <= 5
        GROUP BY e.query_id, s.sl
    """,
)
def pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import exact_avg

    ms = spark.range(0, 4).select(F.col("id").cast("bigint").alias("m"))
    emb = load(spark, sf_dir, "embeddings")
    sub = emb.crossJoin(F.broadcast(ms)).selectExpr(
        "vec_id",
        "m",
        "transform(slice(embedding, CAST(m * 16 + 1 AS INT), 16),"
        " x -> CAST(x AS DOUBLE)) AS v",
    )
    seeds = sub.where(F.col("vec_id") < _PQR_K).selectExpr(
        "m", "vec_id AS cid", "v AS cv"
    )

    def assign(points: DataFrame, cents: DataFrame) -> DataFrame:
        cent_arr = cents.groupBy("m").agg(
            F.collect_list(F.struct("cid", "cv")).alias("cs")
        )
        scored = nearest("cs", "v")
        return (
            points.join(F.broadcast(cent_arr), "m")
            .selectExpr("vec_id", "m", "v", f"{scored} AS best")
            .selectExpr("vec_id", "m", "v", "best.cid AS cid")
        )

    a1 = assign(sub, seeds)
    cent1 = (
        a1.selectExpr("m", "cid", "posexplode(v) AS (dim, val)")
        .groupBy("m", "cid", "dim")
        .agg(exact_avg("val", "mu"))
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                lambda x: x["mu"],
            ).alias("cv")
        )
        # r12 (guide §2.4): the trained codebook is tiny but its Lloyd-step
        # lineage is the plan's most expensive stage, and both the corpus
        # encoder and the query LUT consume it -- materialize once (spec is
        # eager so the build stays inside the timed region).
        .localCheckpoint(eager=True)
    )
    codes = assign(sub, cent1).select("vec_id", "m", "cid")
    lut = (
        sub.where((F.col("vec_id") >= 16) & (F.col("vec_id") < 20))
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cent1), "m")
        .selectExpr(
            "query_id", "m", "cid", f"{sqd('v', 'cv')} AS d2"
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "cid"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.round(F.sum(F.col("d2").cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("adc")
        )
    )
    # ranks past the widest shortlist never count as hits
    adc_topk = top_k_per_group(
        adc, ["query_id"], ["adc", "neighbor_id"], max(_PQR_SLS), rank="rank"
    )
    vd = emb.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    )
    q = vd.where((F.col("vec_id") >= 16) & (F.col("vec_id") < 20)).selectExpr(
        "vec_id AS query_id", "v AS qv"
    )
    exact = top_k_per_group(
        vd.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            f"{sqd('qv', 'v')} AS d2",
        ),
        ["query_id"], ["d2", "neighbor_id"], 5,
    ).select("query_id", "neighbor_id")
    sls = local_table(spark, [(s,) for s in _PQR_SLS], "sl int")
    return (
        exact.crossJoin(F.broadcast(sls))
        .join(
            adc_topk.select("query_id", "neighbor_id", "rank"),
            ["query_id", "neighbor_id"],
            "left",
        )
        .select(
            "query_id",
            F.col("sl").cast("bigint").alias("shortlist"),
            F.when(
                F.col("rank").isNotNull() & (F.col("rank") <= F.col("sl")), 1
            )
            .otherwise(0)
            .alias("is_hit"),
        )
        .groupBy("query_id", "shortlist")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("is_hit").cast("bigint").alias("n_overlap"),
            F.floor(1000 * F.sum("is_hit") / F.count(F.lit(1)))
            .cast("bigint")
            .alias("recall_permille"),
        )
    )


@register(
    name="late_interaction_maxsim",
    survey="J9 J5 A7 W1 F17",
    doc="Multi-vector late-interaction retrieval (ColBERT-style MaxSim, "
    "Khattab & Zaharia 2020) — the fourth member of the retrieval "
    "family beside sparse BM25/QL, single-vector dense, and PQ: "
    "documents are modeled as 4-token multi-vector bags (4 consecutive "
    "vec_ids per doc_id), and a query scores a document as the SUM "
    "over its query tokens of the MAX dot product against any document "
    "token — fine-grained token interaction without a cross-encoder. "
    "Two held-out queries (doc_id 0, 1) score every other document; "
    "dot products are fixed-order folds micro-quantized to BIGINT "
    "BEFORE the max/sum (so the hash-agg order can never flip a bit), "
    "top-5 with (score, doc_id) tiebreak. The query side broadcasts (8 "
    "token vectors); the doc side is one linear scan — the "
    "plan shape that serves MaxSim shortlists at scale, with the "
    "max-then-sum as two bounded hash-aggs keyed by (query, doc).",
    oracle=f"""
        WITH tok AS (
            SELECT vec_id // 4 AS doc_id, vec_id % 4 AS tok_idx, embedding
            FROM embeddings),
        qt AS (
            SELECT doc_id AS query_id, tok_idx, embedding AS qe
            FROM tok WHERE doc_id < 2),
        dots AS (
            SELECT q.query_id, d.doc_id, q.tok_idx,
                   CAST(floor({duck_dot('q.qe', 'd.embedding')}
                              * 1000000 + 0.5) AS BIGINT) AS dot_micro
            FROM qt q JOIN tok d ON d.doc_id != q.query_id),
        best AS (
            SELECT query_id, doc_id, tok_idx, max(dot_micro) AS m
            FROM dots GROUP BY 1, 2, 3),
        score AS (
            SELECT query_id, doc_id, CAST(sum(m) AS BIGINT) AS maxsim_micro
            FROM best GROUP BY 1, 2),
        topk AS (
            SELECT query_id, doc_id, maxsim_micro,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY maxsim_micro DESC, doc_id)
                       AS rank
            FROM score)
        SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, maxsim_micro
        FROM topk WHERE rank <= 5
    """,
)
def late_interaction_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id div 4 AS doc_id", "vec_id % 4 AS tok_idx", "embedding"
    )
    qt = tok.where(F.col("doc_id") < 2).selectExpr(
        "doc_id AS query_id", "tok_idx AS q_tok", "embedding AS qe"
    )
    dots = (
        tok.crossJoin(F.broadcast(qt))
        .where(F.col("doc_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "doc_id",
            "q_tok",
            f"CAST(floor({dot('qe', 'embedding')}"
            " * 1000000 + 0.5) AS BIGINT) AS dot_micro",
        )
    )
    best = dots.groupBy("query_id", "doc_id", "q_tok").agg(
        F.max("dot_micro").alias("m")
    )
    score = best.groupBy("query_id", "doc_id").agg(
        F.sum("m").cast("bigint").alias("maxsim_micro")
    )
    return top_k_per_group(
        score, ["query_id"], ["maxsim_micro DESC", "doc_id"], 5, rank="rank"
    ).select(
        "query_id", F.col("rank").cast("bigint").alias("rank"), "doc_id", "maxsim_micro"
    )


_TS_SL = 10  # per-query-token ADC shortlist depth before the exact rerank


@register(
    name="two_stage_pq_maxsim",
    survey="J9 J5 A7 W1 F17",
    eager=True,  # fn materializes codebook + candidate set; time fn+action together (r12)
    doc="The standard ColBERT serving shape, composed end-to-end as ONE "
    "plan (Khattab & Zaharia 2020 §3.4; Santhanam et al. PLAID): "
    "stage 1 retrieves a candidate set with the CHEAP index — every "
    "query token probes a PQ-ADC index over all token vectors "
    "(16-centroid-per-subspace codebook, seeded + one exact-decimal "
    "Lloyd step, the pq_recall_report contract) and keeps its 10 "
    "nearest tokens; the union of their parent doc_ids is the "
    "query's candidate set. Stage 2 reranks ONLY those candidates "
    "with the EXACT late-interaction score (sum over query tokens of "
    "the max dot product against any candidate-doc token, dots "
    "micro-quantized to BIGINT before the max-then-sum aggs, the "
    "late_interaction_maxsim contract), emitting the top-5 with a "
    "(score, doc_id) tiebreak plus each query's candidate-set size. "
    "At scale this is the whole point of both parents: the ADC stage "
    "touches compressed codes (64x smaller than raw vectors) and "
    "bounds the expensive MaxSim to |candidates| docs instead of the "
    "corpus; every join against query-side state is a broadcast (8 "
    "token LUTs, the shortlist doc list), and the two rerank aggs are "
    "hash-aggs keyed by (query, doc).",
    oracle=f"""
        WITH sub AS (
            SELECT vec_id, m.m,
                   list_transform(embedding[m.m * 16 + 1 : m.m * 16 + 16],
                                  x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings,
                 (SELECT unnest(range(0, 4)) AS m) m),
        seeds AS (
            SELECT m, vec_id AS cid, v AS cv FROM sub
            WHERE vec_id < {_PQR_K}),
        a1 AS (
            SELECT s.vec_id, s.m, s.v, t.cid
            FROM sub s
            JOIN LATERAL (
              SELECT c.cid FROM seeds c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.v', 'c.cv')}, c.cid
              LIMIT 1) t ON true),
        cent1 AS (
            SELECT m, cid, d.dim,
                   CAST(ROUND(SUM(CAST(v[d.dim] AS DECIMAL(38,8))), 4)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
            FROM a1, (SELECT unnest(range(1, 17)) AS dim) d
            GROUP BY m, cid, d.dim),
        cb AS (
            SELECT m, cid,
                   list_transform(
                     list_sort(list(struct_pack(dim := dim, mu := mu))),
                     r -> r.mu) AS cv
            FROM cent1 GROUP BY m, cid),
        codes AS (
            SELECT s.vec_id, s.m, t.cid
            FROM sub s
            JOIN LATERAL (
              SELECT c.cid FROM cb c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.v', 'c.cv')}, c.cid
              LIMIT 1) t ON true),
        lut AS (
            SELECT q.vec_id AS qtok, q.vec_id // 4 AS query_id,
                   c.m, c.cid,
                   {duck_sqd('q.v', 'c.cv')} AS d2
            FROM sub q JOIN cb c ON q.m = c.m
            WHERE q.vec_id < 8),
        adc AS (
            SELECT l.qtok, l.query_id, c.vec_id AS neighbor_tok,
                   CAST(ROUND(SUM(CAST(l.d2 AS DECIMAL(38,8))), 4)
                        AS DOUBLE) AS adc
            FROM codes c JOIN lut l ON c.m = l.m AND c.cid = l.cid
            WHERE c.vec_id // 4 != l.query_id
            GROUP BY l.qtok, l.query_id, c.vec_id),
        shortlist AS (
            SELECT qtok, query_id, neighbor_tok,
                   row_number() OVER (PARTITION BY qtok
                                      ORDER BY adc, neighbor_tok) AS r
            FROM adc),
        cands AS (
            SELECT DISTINCT query_id, neighbor_tok // 4 AS doc_id
            FROM shortlist WHERE r <= {_TS_SL}),
        ncand AS (
            SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
            FROM cands GROUP BY 1),
        tok AS (
            SELECT vec_id // 4 AS doc_id, embedding FROM embeddings),
        qt AS (
            SELECT vec_id // 4 AS query_id, vec_id % 4 AS q_tok,
                   embedding AS qe
            FROM embeddings WHERE vec_id < 8),
        dots AS (
            SELECT q.query_id, c.doc_id, q.q_tok,
                   CAST(floor({duck_dot('q.qe', 'd.embedding')}
                              * 1000000 + 0.5) AS BIGINT) AS dot_micro
            FROM cands c
            JOIN qt q ON q.query_id = c.query_id
            JOIN tok d ON d.doc_id = c.doc_id),
        best AS (
            SELECT query_id, doc_id, q_tok, max(dot_micro) AS mx
            FROM dots GROUP BY 1, 2, 3),
        score AS (
            SELECT query_id, doc_id, CAST(sum(mx) AS BIGINT) AS maxsim_micro
            FROM best GROUP BY 1, 2),
        topk AS (
            SELECT query_id, doc_id, maxsim_micro,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY maxsim_micro DESC, doc_id)
                       AS rank
            FROM score)
        SELECT t.query_id, CAST(t.rank AS BIGINT) AS rank, t.doc_id,
               t.maxsim_micro, n.n_candidates
        FROM topk t JOIN ncand n USING (query_id)
        WHERE t.rank <= 5
    """,
)
def two_stage_pq_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import exact_avg

    emb = load(spark, sf_dir, "embeddings")
    ms = spark.range(0, 4).select(F.col("id").cast("bigint").alias("m"))
    sub = emb.crossJoin(F.broadcast(ms)).selectExpr(
        "vec_id",
        "m",
        "transform(slice(embedding, CAST(m * 16 + 1 AS INT), 16),"
        " x -> CAST(x AS DOUBLE)) AS v",
    )
    seeds = sub.where(F.col("vec_id") < _PQR_K).selectExpr(
        "m", "vec_id AS cid", "v AS cv"
    )

    def assign(points: DataFrame, cents: DataFrame) -> DataFrame:
        cent_arr = cents.groupBy("m").agg(
            F.collect_list(F.struct("cid", "cv")).alias("cs")
        )
        scored = nearest("cs", "v")
        return (
            points.join(F.broadcast(cent_arr), "m")
            .selectExpr("vec_id", "m", "v", f"{scored} AS best")
            .selectExpr("vec_id", "m", "v", "best.cid AS cid")
        )

    cent1 = (
        assign(sub, seeds)
        .selectExpr("m", "cid", "posexplode(v) AS (dim, val)")
        .groupBy("m", "cid", "dim")
        .agg(exact_avg("val", "mu"))
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                lambda x: x["mu"],
            ).alias("cv")
        )
        # r12 (guide §2.4): the trained codebook is tiny but its Lloyd-step
        # lineage is the plan's most expensive stage, and both the corpus
        # encoder and the query LUT consume it -- materialize once (spec is
        # eager so the build stays inside the timed region).
        .localCheckpoint(eager=True)
    )
    codes = assign(sub, cent1).select("vec_id", "m", "cid")
    lut = (
        sub.where(F.col("vec_id") < 8)
        .selectExpr("vec_id AS qtok", "vec_id div 4 AS query_id", "m", "v")
        .join(F.broadcast(cent1), "m")
        .selectExpr(
            "qtok", "query_id", "m", "cid",
            f"{sqd('v', 'cv')} AS d2",
        )
    )
    shortlist = top_k_per_group(
        codes.join(F.broadcast(lut), ["m", "cid"])
        .where(F.expr("vec_id div 4") != F.col("query_id"))
        .groupBy("qtok", "query_id", F.col("vec_id").alias("neighbor_tok"))
        .agg(
            F.round(F.sum(F.col("d2").cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("adc")
        ),
        ["qtok"], ["adc", "neighbor_tok"], _TS_SL,
    )
    cands = shortlist.selectExpr(
        "query_id", "neighbor_tok div 4 AS doc_id"
    ).distinct().localCheckpoint(eager=True)  # 2 consumers: ncand + rerank (r12)
    ncand = cands.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    tok = emb.selectExpr("vec_id div 4 AS doc_id", "embedding")
    qt = emb.where(F.col("vec_id") < 8).selectExpr(
        "vec_id div 4 AS query_id", "vec_id % 4 AS q_tok", "embedding AS qe"
    )
    dots = (
        tok.join(F.broadcast(cands), "doc_id")
        .join(F.broadcast(qt), "query_id")
        .selectExpr(
            "query_id", "doc_id", "q_tok",
            f"CAST(floor({dot('qe', 'embedding')}"
            " * 1000000 + 0.5) AS BIGINT) AS dot_micro",
        )
    )
    score = (
        dots.groupBy("query_id", "doc_id", "q_tok")
        .agg(F.max("dot_micro").alias("mx"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("mx").cast("bigint").alias("maxsim_micro"))
    )
    return (
        top_k_per_group(
            score, ["query_id"], ["maxsim_micro DESC", "doc_id"], 5, rank="rank"
        )
        .join(F.broadcast(ncand), "query_id")
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "doc_id",
            "maxsim_micro",
            "n_candidates",
        )
    )


# ---------------------------------------------------------------------------
# r10 serving/IR depth: OPQ-style rotation before PQ, and an HNSW-style
# navigable-graph ANN as a bounded unrolled variant.
# ---------------------------------------------------------------------------

_OPQ_M = 4  # subspaces (16 dims each over the 64-dim embeddings)


@register(
    name="opq_variance_balanced_pq",
    survey="J9 UD4 A7 W1 F17",
    doc="OPQ-style dimension permutation before product quantization "
    "(Ge et al. 2014's non-parametric OPQ replaces the identity layout "
    "with a learned orthogonal transform; the deterministic variant "
    "here is its permutation-matrix subfamily — balanced allocation of "
    "dimensions to subspaces, the same idea as OPQ's eigenvalue "
    "allocation but on raw per-dimension variances so both engines "
    "agree bit-for-bit): per-dim variance proxies from exact-decimal "
    "sums (n*S2 - S1^2 in doubles on identically-rounded S1/S2), dims "
    "ranked by (proxy DESC, dim), snake-dealt to 4 subspaces so "
    "high-variance dims spread evenly, then the registered PQ trainer "
    "(seed-4 / one exact-decimal Lloyd step / reassign with (d2, cid) "
    "tiebreak) runs on the PERMUTED subvectors, reporting each "
    "(subspace, code) cell's population and MSE — comparable row-for-"
    "row against pq_codebook_train's identity-layout cells. At 100 TB "
    "the ranking aggregates 64 rows, the permutation broadcasts, and "
    "training stays one broadcast-assign map pass plus bounded-domain "
    "centroid aggregations; the variance pass is one linear scan.",
    oracle=f"""
        WITH dims AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dim),
        stats AS (
            SELECT d.dim,
                   {oracle_sum('CAST(embedding[d.dim] AS DOUBLE)')} AS s1,
                   {oracle_sum('CAST(embedding[d.dim] AS DOUBLE)'
                               ' * CAST(embedding[d.dim] AS DOUBLE)')} AS s2,
                   CAST(count(*) AS DOUBLE) AS n
            FROM embeddings, dims d
            GROUP BY d.dim),
        ranked AS (
            SELECT dim,
                   row_number() OVER (ORDER BY s2 * n - s1 * s1 DESC, dim)
                       AS r
            FROM stats),
        alloc AS (
            SELECT dim, r,
                   CASE WHEN (r - 1) % {2 * _OPQ_M} < {_OPQ_M}
                        THEN (r - 1) % {2 * _OPQ_M}
                        ELSE {2 * _OPQ_M - 1} - ((r - 1) % {2 * _OPQ_M})
                   END AS m
            FROM ranked),
        perm AS (
            SELECT m,
                   list_transform(
                     list_sort(list(struct_pack(r := r, dim := dim))),
                     t -> t.dim) AS pd
            FROM alloc GROUP BY m),
        sub AS (
            SELECT e.vec_id, p.m,
                   list_transform(p.pd,
                                  d -> CAST(e.embedding[d] AS DOUBLE)) AS v
            FROM embeddings e, perm p),
        seeds AS (
            SELECT m, vec_id AS cid, v AS cv FROM sub WHERE vec_id < 4),
        a1 AS (
            SELECT s.vec_id, s.m, s.v, t.cid
            FROM sub s
            JOIN LATERAL (
              SELECT c.cid
              FROM seeds c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.v', 'c.cv')}, c.cid
              LIMIT 1) t ON true),
        cent1 AS (
            SELECT m, cid, d.dim,
                   CAST(ROUND(SUM(CAST(v[d.dim] AS DECIMAL(38,8))), 4)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
            FROM a1, (SELECT unnest(range(1, 17)) AS dim) d
            GROUP BY m, cid, d.dim),
        cb AS (
            SELECT m, cid,
                   list_transform(
                     list_sort(list(struct_pack(dim := dim, mu := mu))),
                     x -> x.mu) AS cv
            FROM cent1 GROUP BY m, cid),
        a2 AS (
            SELECT s.vec_id, s.m, t.cid, t.d2
            FROM sub s
            JOIN LATERAL (
              SELECT c.cid, {duck_sqd('s.v', 'c.cv')} AS d2
              FROM cb c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.v', 'c.cv')}, c.cid
              LIMIT 1) t ON true)
        SELECT CAST(m AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS code,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(ROUND(SUM(CAST(d2 AS DECIMAL(38,8))), 4) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS mse
        FROM a2
        GROUP BY m, cid
        ORDER BY subspace, code
    """,
)
def opq_variance_balanced_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.exact import (
        exact_avg,
        exact_sum,
    )

    from uk_procurement_data_pipeline_spark.catalog import spread

    e = load(spark, sf_dir, "embeddings")
    dims = spark.range(1, 65).select(F.col("id").cast("int").alias("dim"))
    # spread(): the single-row-group fixture would otherwise run the
    # 64-way dim explosion and the fold-heavy PQ assignment on one core.
    vals = spread(e).crossJoin(F.broadcast(dims)).selectExpr(
        "dim", "CAST(element_at(embedding, dim) AS DOUBLE) AS x"
    )
    stats = vals.groupBy("dim").agg(
        exact_sum("x", "s1"),
        exact_sum(F.expr("x * x"), "s2"),
        F.count("x").cast("double").alias("n"),
    )
    # A window, not top_k_per_group: it ranks the whole 64-row dimension
    # domain (plan_lint GLOBALWIN whitelisted on that bound).
    wr = Window.orderBy(
        (F.col("s2") * F.col("n") - F.col("s1") * F.col("s1")).desc(),
        F.col("dim"),
    )
    twoM, M = 2 * _OPQ_M, _OPQ_M
    alloc = stats.select(
        "dim", F.row_number().over(wr).alias("r")
    ).selectExpr(
        "dim",
        "r",
        f"CAST(IF((r - 1) % {twoM} < {M}, (r - 1) % {twoM},"
        f" {twoM - 1} - ((r - 1) % {twoM})) AS BIGINT) AS m",
    )
    perm = alloc.groupBy("m").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("r", "dim"))),
            lambda t: t["dim"],
        ).alias("pd")
    )
    sub = spread(e).crossJoin(F.broadcast(perm)).selectExpr(
        "vec_id",
        "m",
        "transform(pd, d -> CAST(element_at(embedding, d) AS DOUBLE)) AS v",
    )
    seeds = sub.where(F.col("vec_id") < 4).selectExpr(
        "m", "vec_id AS cid", "v AS cv"
    )

    def assign(points: DataFrame, cents: DataFrame) -> DataFrame:
        cent_arr = cents.groupBy("m").agg(
            F.collect_list(F.struct("cid", "cv")).alias("cs")
        )
        scored = nearest("cs", "v")
        return (
            points.join(F.broadcast(cent_arr), "m")
            .selectExpr("vec_id", "m", "v", f"{scored} AS best")
            .selectExpr(
                "vec_id", "m", "v", "best.cid AS cid", "best.d2 AS d2"
            )
        )

    a1 = assign(sub, seeds)
    cent1 = (
        a1.selectExpr("m", "cid", "posexplode(v) AS (dim, val)")
        .groupBy("m", "cid", "dim")
        .agg(exact_avg("val", "mu"))
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                lambda x: x["mu"],
            ).alias("cv")
        )
    )
    a2 = assign(sub, cent1)
    return (
        a2.groupBy(
            F.col("m").cast("bigint").alias("subspace"),
            F.col("cid").cast("bigint").alias("code"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            (
                F.round(F.sum(F.col("d2").cast("decimal(38,8)")), 4).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("mse"),
        )
        .orderBy("subspace", "code")
    )


def _gb_k(n_vecs: int) -> int:
    """Coarse-cell count for the BLOCKED graph build: ceil(sqrt(N)), the
    IVF sizing rule, so candidate work is sum(|cell|^2) ~ P^2 * N^1.5 —
    scale-adaptive, not a fixture constant (r11; a fixed K reads
    quadratic under the k-fold scale-stress replica). Computed as
    isqrt(n-1)+1 == ceil(sqrt(n)) exactly, matching the oracle's
    CAST(ceil(sqrt(count(*))) AS BIGINT)."""
    from math import isqrt

    return isqrt(max(n_vecs - 1, 0)) + 1


_GB_P = 3  # cells each vector posts to (build-recall knob)
_GB_M = 16  # graph out-degree (kNN edges per node, before symmetrization)
_GB_B = 12  # beam width
_GB_HOPS = 4  # unrolled expansion rounds
_GB_SEEDMOD = 23  # entry seeds: vec_id % 23 == 0 (~4% of the corpus)
_GB_QMOD, _GB_QREM = 100, 7  # query set: vec_id % 100 == 7


def _gb_hop_ctes() -> str:
    """The unrolled beam-expansion CTE chain for the DuckDB oracle.

    Each hop references its predecessor exactly ONCE (the verify-skill
    exponential-inlining rule): `beam ∪ out-neighbors` is expressed as a
    single join against the SELF-LOOP-augmented edge list `nbx` — the
    self edge carries each beam member forward, the real edges expand it.
    """
    out, prev = [], "b0"
    for h in range(1, _GB_HOPS + 1):
        out.append(f"""
        c{h} AS (
            SELECT DISTINCT query_id, node FROM (
                SELECT p.query_id, nb.dst AS node
                FROM {prev} p JOIN nbx nb ON nb.src = p.node
            ) WHERE node <> query_id),
        s{h} AS (
            SELECT c.query_id, c.node,
                   {duck_sqd('q.qv', 'e.v')} AS d2
            FROM c{h} c
            JOIN q ON q.query_id = c.query_id
            JOIN e ON e.vec_id = c.node),
        b{h} AS (
            SELECT query_id, node, d2 FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY d2, node) AS rn
                FROM s{h})
            WHERE rn <= {_GB_B})""")
        prev = f"b{h}"
    return ",".join(out)


@register(
    name="graph_ann_beam",
    survey="J9 UD4 W1 O4",
    eager=True,
    doc="HNSW-style navigable-graph ANN as a bounded UNROLLED variant "
    "(Malkov & Yashunin 2018's search loop, flattened: multi-seed entry "
    "standing in for the hierarchy's upper layers, then a fixed number "
    "of beam-expansion rounds over a kNN graph). The graph build is "
    f"BLOCKED (r11, was the repo's one N^2 join): every vector posts to "
    f"its {_GB_P} nearest of K = ceil(sqrt(N)) coarse cells (first-K "
    "deterministic quantizer, the ann_ivf_probed idiom, K the IVF "
    "sizing rule — SCALE-ADAPTIVE, so candidate work is P^2 * N^1.5 at "
    "any corpus size, never N^2), edge "
    "candidates are cell-local ONLY — scored Arrow-vectorized (cell "
    "assignment in mapInPandas, within-cell pairwise in a per-cell "
    "applyInPandas; doubles accumulated DIM-SEQUENTIALLY so they stay "
    "bit-identical to the oracle's sequential fold — the interpreted "
    "Catalyst higher-order fold costs ~40us/row and was 5x the wall "
    f"here), and each node keeps its top-{_GB_M} by exact squared-L2, "
    "then the "
    "digraph is SYMMETRIZED (undirected edges — the reverse-link step "
    "HNSW does at insert time) and MATERIALIZED once (at 100 TB the "
    "graph is a stored artifact reused by every query — mirrored by an "
    "eager write of the edge list; the temp dir is tmpfs-rooted and "
    "atexit-reaped). Queries (vec_id%100==7) seed their beam with the "
    f"top-{_GB_B} of ~4% hash-spread entry points, and {_GB_HOPS} "
    "unrolled hops each expand beam ∪ neighbors, rescore exactly, and "
    f"keep the top-{_GB_B} with (d2, node) tiebreak. Output: the final "
    "beam per query, ranked, with hit=1 on the row that IS the true "
    "nearest neighbor (truth over the |Q|xN slice — a bounded recall "
    "readout, not a corpus-scale pass). Measured recall@beam: 18/20 at "
    "sf0.1, 4/5 at sf0.01, 4/5 at sf0.001 (was 9/20 with the r10 "
    "exact-build M=8/B=8 digraph — the undirected expansion and wider "
    "M/B buy more navigability than exact edges did); every stage is "
    "keyed joins + keyed windows, no global sort, no driver state.",
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        cent AS (
            SELECT vec_id AS cid, v AS cv FROM e
            WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
                            FROM e)),
        post0 AS (
            SELECT e.vec_id, e.v, cent.cid,
                   {duck_sqd('e.v', 'cent.cv')} AS cd2
            FROM e JOIN cent ON TRUE),
        post AS (
            SELECT vec_id, v, cid FROM (
                SELECT vec_id, v, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cd2, cid) AS crn
                FROM post0)
            WHERE crn <= {_GB_P}),
        pairs AS (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   min({duck_sqd('a.v', 'b.v')}) AS d2
            FROM post a JOIN post b
              ON a.cid = b.cid AND b.vec_id <> a.vec_id
            GROUP BY 1, 2),
        nb0 AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY d2, dst) AS rn
                FROM pairs)
            WHERE rn <= {_GB_M}),
        nb AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM nb0
                UNION ALL
                SELECT dst AS src, src AS dst FROM nb0)),
        nbx AS (
            SELECT src, dst FROM nb
            UNION ALL
            SELECT vec_id AS src, vec_id AS dst FROM e),
        q AS (
            SELECT vec_id AS query_id, v AS qv
            FROM e WHERE vec_id % {_GB_QMOD} = {_GB_QREM}),
        s0 AS (
            SELECT q.query_id, s.vec_id AS node,
                   {duck_sqd('q.qv', 's.v')} AS d2
            FROM q, e s
            WHERE s.vec_id % {_GB_SEEDMOD} = 0
              AND s.vec_id <> q.query_id),
        b0 AS (
            SELECT query_id, node FROM (
                SELECT query_id, node,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY d2, node) AS rn
                FROM s0)
            WHERE rn <= {_GB_B}),{_gb_hop_ctes()},
        qp AS (
            SELECT q.query_id, s.vec_id AS node,
                   {duck_sqd('q.qv', 's.v')} AS d2
            FROM q, e s WHERE s.vec_id <> q.query_id),
        tr AS (
            SELECT query_id, node AS true_nn FROM (
                SELECT query_id, node,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY d2, node) AS rn
                FROM qp)
            WHERE rn = 1)
        SELECT f.query_id,
               CAST(row_number() OVER (PARTITION BY f.query_id
                                       ORDER BY f.d2, f.node) AS BIGINT)
                   AS rank,
               f.node AS node_id, f.d2,
               CAST(CASE WHEN f.node = t.true_nn THEN 1 ELSE 0 END
                    AS BIGINT) AS hit
        FROM b{_GB_HOPS} f JOIN tr t USING (query_id)
        ORDER BY query_id, rank
    """,
)
def graph_ann_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark import indexes
    from uk_procurement_data_pipeline_spark.catalog import spread

    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    )
    ev = e.selectExpr("vec_id AS node", "v AS nv")
    # BLOCKED build (r11): coarse cells from the first-K deterministic
    # quantizer; every vector posts to its P nearest cells; candidates are
    # cell-local equi-join pairs only. The K-row broadcast against N rows
    # is linear in N; with production K ~ sqrt(N), candidate work is
    # sum(|cell|^2) ~ N^1.5 — never all-pairs. spread() the scan side: the
    # single-row-group fixture would otherwise fold on ONE core.
    import numpy as np
    import pandas as pd

    ncores = spark.sparkContext.defaultParallelism

    # Both build stages are Arrow-vectorized (VERDICT r10 item 2, tuned):
    # the Catalyst higher-order fold is INTERPRETED (~40 us/row), so
    # scoring the ~2.25M cell-local candidate pairs through it cost
    # 15-25 s and swung 3x with scheduler noise; numpy does the same
    # arithmetic in ~0.3 s. Exactness is preserved by accumulating
    # DIM-SEQUENTIALLY (one vectorized IEEE add per dimension, in
    # dimension order) — bit-identical to the oracle's sequential
    # list_reduce fold, which only associates in dimension order too.

    def _seq_sqd(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Squared L2 over the last axis, accumulated dim-by-dim in
        order (NOT np.sum, whose pairwise association differs in the
        last ulp from the sequential fold both engines' SQL uses)."""
        acc = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1])
        for d in range(a.shape[-1]):
            t = a[..., d] - b[..., d]
            acc += t * t
        return acc

    # Stage 1 — cell assignment: each vector posts to its P nearest of
    # the K first-vector centroids ((cd2, cid) tiebreak, as the oracle).
    # The codebook travels as a broadcast ONE-ROW collect_list aggregate
    # cross-joined onto the scan (the pq_codebook_train idiom) — never a
    # driver .collect(); the UDF rebuilds the K x dim matrix per Arrow
    # batch (K rows, negligible).
    from uk_procurement_data_pipeline_spark.queries.events import (
        _parquet_num_rows,
    )

    k_cells = _gb_k(_parquet_num_rows(f"{sf_dir}/embeddings.parquet"))
    cent1 = e.where(F.col("vec_id") < k_cells).agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("cents")
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cents = pdf["cents"].iloc[0]
            cids = np.array([c["vec_id"] for c in cents], dtype=np.int64)
            cmat = np.array([list(c["v"]) for c in cents], dtype=np.float64)
            vm = np.array(list(pdf["v"]), dtype=np.float64)
            cd2 = _seq_sqd(vm[:, None, :], cmat[None, :, :])
            order = np.lexsort(
                (np.broadcast_to(cids, cd2.shape), cd2), axis=1
            )[:, : _GB_P]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), _GB_P),
                    "v": [v for v in pdf["v"] for _ in range(_GB_P)],
                    "cid": cids[order].reshape(n * _GB_P),
                }
            )

    post = (
        spread(e)
        .join(F.broadcast(cent1), F.lit(True))
        .mapInPandas(
            assign, schema="vec_id bigint, v array<double>, cid bigint"
        )
    )

    # Stage 2 — within-cell pairwise scoring: ONE applyInPandas per cell
    # (the blocked-ANN cost model: with production K ~ sqrt(N) a cell is
    # sqrt(N)-sized, so the pairwise matrix is the intended candidate
    # work, never all-pairs). A pair sharing several cells scores
    # identically each time; the min() groupBy is just the dedup
    # (mirrored in the oracle's GROUP BY). The explicit src-hash
    # repartition keeps the dedup+top-M wide (AQE would coalesce the
    # tiny shuffle) and HashPartitioning(src) satisfies both the
    # (src, dst) grouping and the per-src window — no further exchange.
    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"src": [], "dst": [], "d2": []}).astype(
                {"src": "int64", "dst": "int64", "d2": "float64"}
            )
        ids = pdf["vec_id"].to_numpy()
        vm = np.array(list(pdf["v"]), dtype=np.float64)
        d2 = _seq_sqd(vm[:, None, :], vm[None, :, :])
        src, dst = np.nonzero(~np.eye(n, dtype=bool))
        return pd.DataFrame(
            {"src": ids[src], "dst": ids[dst], "d2": d2[src, dst]}
        )

    pairs = (
        post.groupBy("cid")
        .applyInPandas(cell_pairs, schema="src bigint, dst bigint, d2 double")
        .repartition(ncores, "src")
        .groupBy("src", "dst")
        .agg(F.min("d2").alias("d2"))
    )
    nb0 = top_k_per_group(pairs, ["src"], ["d2", "dst"], _GB_M).select("src", "dst")
    # symmetrize: HNSW's reverse links. Undirected edges lift measured
    # recall@beam materially (9->18 of 20 at sf0.1 with the wider M/B).
    nb_built = nb0.union(
        nb0.selectExpr("dst AS src", "src AS dst")
    ).distinct()
    # Materialize the graph ONCE (the production shape: a built index
    # artifact served to every query). A lazy plan would recompute the
    # construction pass for each of the 4 hop joins; the edge list is
    # <=2*M*N rows (~500 KB at sf0.1), so the eager write is the cheap
    # side of that trade. Since r12 the artifact lives in the index
    # catalog (VERDICT r11 item 1): one persisted generation per
    # (embeddings snapshot, build params) — the first call in a session
    # builds, later calls (bench re-runs included) serve from the stored
    # edge list, which is exactly the HNSW-style deployment contract.
    nb = indexes.build_or_load(
        spark,
        "graph_ann_edges",
        indexes.fingerprint(
            tables={
                "embeddings": indexes.table_fingerprint(sf_dir, "embeddings")
            },
            params={
                "p": _GB_P,
                "m": _GB_M,
                "k": "ceil_sqrt_n",
                "version": 1,
            },
        ),
        lambda: nb_built,
    )

    q = e.where((F.col("vec_id") % _GB_QMOD) == _GB_QREM).selectExpr(
        "vec_id AS query_id", "v AS qv"
    )
    seeds = e.where((F.col("vec_id") % _GB_SEEDMOD) == 0).selectExpr(
        "vec_id AS node", "v AS nv"
    )
    nearest = ["d2", "node"]
    s0 = q.join(F.broadcast(seeds), F.expr("node <> query_id")).selectExpr(
        "query_id", "node", f"{sqd('qv', 'nv')} AS d2"
    )
    beam = top_k_per_group(s0, ["query_id"], nearest, _GB_B, rank="rank")
    qv = q.select("query_id", "qv")
    # Self-loop-augmented edges: `beam ∪ out-neighbors` as ONE join per
    # hop, so each hop references its predecessor exactly once. The old
    # beam.union(beam.join(nb)) form inlined the beam subplan TWICE per
    # hop — 2^HOPS copies of the seed scan by the last hop, and the
    # stage-launch overhead of those replays dominated the search wall.
    # ADVICE r11 scale note: nbx = the full edge list + one self-loop per
    # corpus vector (~2MN+N rows) and is broadcast below — a FIXTURE-scale
    # choice (~500 KB at sf0.1) that kills the 2^hops plan-inlining, not
    # the 100 TB shape. At corpus scale the hops shuffle-join against the
    # STORED edge parquet (already catalog-persisted above) and only the
    # |Q|-bounded beam side broadcasts.
    nbx = nb.union(e.selectExpr("vec_id AS src", "vec_id AS dst"))
    for _ in range(_GB_HOPS):
        cand = (
            beam.join(F.broadcast(nbx), beam["node"] == nbx["src"])
            .select("query_id", F.col("dst").alias("node"))
            .where("node <> query_id")
            .distinct()
        )
        scored = (
            cand.join(F.broadcast(qv), "query_id")
            .join(F.broadcast(ev), "node")
            .selectExpr(
                "query_id", "node", f"{sqd('qv', 'nv')} AS d2"
            )
        )
        beam = top_k_per_group(scored, ["query_id"], nearest, _GB_B, rank="rank")
    truth = top_k_per_group(
        q.join(F.broadcast(ev), F.expr("node <> query_id")).selectExpr(
            "query_id", "node", f"{sqd('qv', 'nv')} AS d2"
        ),
        ["query_id"], nearest, 1,
    ).selectExpr("query_id", "node AS true_nn")
    return (
        beam.join(F.broadcast(truth), "query_id")
        .selectExpr(
            "query_id",
            "CAST(rank AS BIGINT) AS rank",
            "node AS node_id",
            "d2",
            "CAST(IF(node = true_nn, 1, 0) AS BIGINT) AS hit",
        )
    )




_IVFPQ_CK = 8  # coarse cells (first-K deterministic quantizer)
_IVFPQ_PROBE = 2  # cells probed per query
_IVFPQ_QLO, _IVFPQ_QHI = 12, 16  # query ids (outside both seed sets)

# Shared CTE prefix for the IVFADC oracles: corpus coarse assignment,
# residual split, codebook training, and the coded inverted lists. Used
# by ann_ivfpq_adc_topk (fixed nprobe) and ivfpq_nprobe_recall (the
# recall-vs-probes tuning curve) so both DuckDB programs train the
# IDENTICAL index the Spark side serves from the catalog.
def _ivfpq_oracle_ctes(train_where: str = "") -> str:
    """IVFADC training CTEs; ``train_where`` restricts the INDEXED corpus
    (tr) while e stays the full table so query vectors outside the index
    can still probe it — the incremental-append split."""
    return f"""        e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        tr AS (SELECT * FROM e {train_where}),
        cc AS (
            SELECT vec_id AS ccid, v AS ccv FROM tr
            WHERE vec_id < {_IVFPQ_CK}),
        ca0 AS (
            SELECT tr.vec_id, tr.v, t.ccid
            FROM tr JOIN LATERAL (
              SELECT c.ccid FROM cc c
              ORDER BY {duck_sqd('tr.v', 'c.ccv')}, c.ccid
              LIMIT 1) t ON true),
        ca AS (
            SELECT a.vec_id, a.ccid,
                   list_transform(generate_series(1, 64),
                                  i -> a.v[i] - c.ccv[i]) AS r
            FROM ca0 a JOIN cc c ON a.ccid = c.ccid),
        sub AS (
            SELECT vec_id, m.m, r[m.m * 16 + 1 : m.m * 16 + 16] AS rv
            FROM ca, (SELECT unnest(range(0, 4)) AS m) m),
        seeds AS (
            SELECT m, vec_id AS cid, rv AS cv FROM sub WHERE vec_id < 4),
        a1 AS (
            SELECT s.vec_id, s.m, s.rv, t.cid
            FROM sub s JOIN LATERAL (
              SELECT c.cid FROM seeds c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.rv', 'c.cv')}, c.cid
              LIMIT 1) t ON true),
        cent1 AS (
            SELECT m, cid, d.dim,
                   CAST(ROUND(SUM(CAST(rv[d.dim] AS DECIMAL(38,8))), 4)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
            FROM a1, (SELECT unnest(range(1, 17)) AS dim) d
            GROUP BY m, cid, d.dim),
        cb AS (
            SELECT m, cid,
                   list_transform(
                     list_sort(list(struct_pack(dim := dim, mu := mu))),
                     x -> x.mu) AS cv
            FROM cent1 GROUP BY m, cid),
        codes AS (
            SELECT s.vec_id, s.m, t.cid
            FROM sub s JOIN LATERAL (
              SELECT c.cid FROM cb c WHERE c.m = s.m
              ORDER BY {duck_sqd('s.rv', 'c.cv')}, c.cid
              LIMIT 1) t ON true)"""


_IVFPQ_ORACLE_CTES = _ivfpq_oracle_ctes()


def _ivfpq_artifacts(
    spark: SparkSession,
    sf_dir: str,
    train_where: str | None = None,
    tag: str = "all",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Resolve the IVFADC serving artifacts — returns (e, cc, cent1,
    codes), with the residual-PQ codebook and the coded inverted lists
    served through the index catalog (r12, VERDICT r11 item 1): built
    once per (embeddings snapshot, layout params) generation, loaded from
    parquet thereafter. Shared by ann_ivfpq_adc_topk (the fixed-nprobe
    serving query), ivfpq_nprobe_recall (the recall-vs-probes tuning
    readout) and ivfpq_incremental_append (history-trained index probed
    by arrivals) — one stored index, many consumers. On a warm catalog
    the corpus build scan never executes: the query-time plan is (bounded
    query probe) x (stored codes), the FAISS file-index contract. The
    codebook's exact-decimal means roundtrip parquet bit-exactly, so
    build-then-load equals the fused plan.

    ``train_where`` restricts the INDEXED corpus (coarse cells, codebook
    training, coded lists); e stays the full table so vectors outside
    the index can still probe it. ``tag`` keys the catalog generation —
    a different split is a different stored index."""
    from uk_procurement_data_pipeline_spark.catalog import spread
    from uk_procurement_data_pipeline_spark.functions.exact import exact_avg

    e = spread(
        load(spark, sf_dir, "embeddings").selectExpr(
            "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        )
    )
    tr = e.where(train_where) if train_where else e
    cc = tr.where(F.col("vec_id") < _IVFPQ_CK).selectExpr(
        "vec_id AS ccid", "v AS ccv"
    )
    # top-1 coarse assignment: bounded fold over the broadcast 8-cell
    # codebook (the pq_adc_topk assign idiom, full-width vectors)
    cc_arr = cc.groupBy().agg(F.collect_list(F.struct("ccid", "ccv")).alias("cs"))
    best = nearest("cs", "v", "ccv", "ccid")
    ca = (
        tr.join(F.broadcast(cc_arr), F.lit(True))
        .selectExpr("vec_id", "v", f"{best}.ccid AS ccid")
        .join(F.broadcast(cc), "ccid")
        .selectExpr(
            "vec_id", "ccid", "zip_with(v, ccv, (x, c) -> x - c) AS r"
        )
    )
    sub = ca.crossJoin(
        F.broadcast(spark.range(0, 4).selectExpr("id AS m"))
    ).selectExpr(
        "vec_id", "m", "ccid",
        "slice(r, CAST(m * 16 + 1 AS INT), 16) AS rv",
    )
    seeds = sub.where(F.col("vec_id") < 4).selectExpr(
        "m", "vec_id AS cid", "rv AS cv"
    )

    def assign(points: DataFrame, cents: DataFrame) -> DataFrame:
        cent_arr = cents.groupBy("m").agg(
            F.collect_list(F.struct("cid", "cv")).alias("cs")
        )
        scored = nearest("cs", "rv")
        return (
            points.join(F.broadcast(cent_arr), "m")
            .selectExpr("vec_id", "m", "ccid", "rv", f"{scored}.cid AS cid")
        )

    a1 = assign(sub, seeds)
    cent1_plan = (
        a1.selectExpr("m", "cid", "posexplode(rv) AS (dim, val)")
        .groupBy("m", "cid", "dim")
        .agg(exact_avg("val", "mu"))
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                lambda x: x["mu"],
            ).alias("cv")
        )
    )
    from uk_procurement_data_pipeline_spark import indexes

    ivfpq_fp = indexes.fingerprint(
        tables={
            "embeddings": indexes.table_fingerprint(sf_dir, "embeddings")
        },
        params={
            "ck": _IVFPQ_CK,
            "m": 4,
            "dsub": 16,
            "train": tag,
            "version": 1,
        },
    )
    cent1 = indexes.build_or_load(
        spark, "ivfpq_codebook", ivfpq_fp, lambda: cent1_plan
    )
    codes = indexes.build_or_load(
        spark,
        "ivfpq_codes",
        ivfpq_fp,
        lambda: assign(sub, cent1).select("vec_id", "m", "ccid", "cid"),
    )
    return e, cc, cent1, codes


@register(
    name="ann_ivfpq_adc_topk",
    survey="J9 J5 A7 W1 F17",
    doc="IVF-PQ serving index (Jegou et al. 2011's IVFADC — the canonical "
    "billion-scale layout, composing the registered IVF and PQ halves "
    "into the architecture FAISS ships): vectors are assigned to their "
    f"nearest of {_IVFPQ_CK} coarse cells, PQ encodes each vector's "
    "RESIDUAL (v - coarse centroid; the residual trick is what makes "
    "IVF-PQ beat flat PQ — residuals cluster tighter than raw vectors), "
    "with a 4x16-dim subspace codebook (first-4 seeds + one "
    "exact-decimal Lloyd step, the pq_codebook_train contract) trained "
    "on ALL residuals; at query time each query probes its top-"
    f"{_IVFPQ_PROBE} cells, builds one 16-entry LUT per probed cell "
    "from its OWN residual against that cell's centroid, and ranks "
    "only the probed cells' inverted lists by the 4-lookup ADC sum — "
    "compressed distances over a shortlist, never a corpus scan. "
    "Exact-decimal ADC fold + (adc, neighbor_id) tiebreak keep the "
    "top-5 deterministic. Shuffles: bounded codebook aggs + one "
    "(query, neighbor) agg linear in the probed lists; every join "
    "broadcasts a bounded side (8 coarse rows, 16 codebook rows, "
    f"{4 * _IVFPQ_PROBE * 16}-row LUT).",
    oracle=f"""
        WITH {_IVFPQ_ORACLE_CTES},
        qp0 AS (
            SELECT e.vec_id AS query_id, e.v, t.ccid
            FROM e JOIN LATERAL (
              SELECT c.ccid FROM cc c
              ORDER BY {duck_sqd('e.v', 'c.ccv')}, c.ccid
              LIMIT {_IVFPQ_PROBE}) t ON true
            WHERE e.vec_id >= {_IVFPQ_QLO} AND e.vec_id < {_IVFPQ_QHI}),
        qp AS (
            SELECT q.query_id, q.ccid,
                   list_transform(generate_series(1, 64),
                                  i -> q.v[i] - c.ccv[i]) AS qr
            FROM qp0 q JOIN cc c ON q.ccid = c.ccid),
        qsub AS (
            SELECT query_id, ccid, m.m,
                   qr[m.m * 16 + 1 : m.m * 16 + 16] AS qv
            FROM qp, (SELECT unnest(range(0, 4)) AS m) m),
        lut AS (
            SELECT s.query_id, s.ccid, s.m, c.cid,
                   {duck_sqd('s.qv', 'c.cv')} AS d2
            FROM qsub s JOIN cb c ON s.m = c.m),
        adc AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(ROUND(SUM(CAST(l.d2 AS DECIMAL(38,8))), 4)
                        AS DOUBLE) AS adc
            FROM codes c
            JOIN ca ON ca.vec_id = c.vec_id
            JOIN lut l ON l.m = c.m AND l.cid = c.cid
                      AND l.ccid = ca.ccid
            WHERE c.vec_id <> l.query_id
            GROUP BY 1, 2)
        SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc
        FROM (
            SELECT query_id, neighbor_id, adc,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc, neighbor_id) AS rank
            FROM adc)
        WHERE rank <= 5
    """,
)


def ann_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, cc, cent1, codes = _ivfpq_artifacts(spark, sf_dir)

    # query probing: top-PROBE cells per query by exact coarse distance
    qp = top_k_per_group(
        e.where(
            (F.col("vec_id") >= _IVFPQ_QLO) & (F.col("vec_id") < _IVFPQ_QHI)
        )
        .selectExpr("vec_id AS query_id", "v")
        .join(F.broadcast(cc), F.lit(True))
        .selectExpr(
            "query_id", "v", "ccid", "ccv",
            f"{sqd('v', 'ccv')} AS cd2",
        ),
        ["query_id"], ["cd2", "ccid"], _IVFPQ_PROBE,
    ).selectExpr(
        "query_id", "ccid", "zip_with(v, ccv, (x, c) -> x - c) AS qr"
    )
    qsub = qp.crossJoin(
        F.broadcast(spark.range(0, 4).selectExpr("id AS m"))
    ).selectExpr(
        "query_id", "ccid", "m",
        "slice(qr, CAST(m * 16 + 1 AS INT), 16) AS qv",
    )
    lut = qsub.join(
        F.broadcast(cent1.withColumnRenamed("cv", "cbv")), "m"
    ).selectExpr(
        "query_id", "ccid", "m", "cid",
        f"{sqd('qv', 'cbv')} AS d2",
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "cid", "ccid"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.round(F.sum(F.col("d2").cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("adc")
        )
    )
    return top_k_per_group(
        adc, ["query_id"], ["adc", "neighbor_id"], 5, rank="rank"
    ).select("query_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id", "adc")


_IVFPQ_NPROBES = (1, 2, 4)


@register(
    name="ivfpq_nprobe_recall",
    survey="J9 J5 A7 W1 E5",
    doc="IVF-PQ recall-vs-nprobe tuning curve (VERDICT r11 item 3) — THE "
    "serving decision at scale: how many inverted lists must a query "
    "probe before the ADC top-5 covers the exact top-5? Serves from the "
    "SAME catalog generation as ann_ivfpq_adc_topk (_ivfpq_artifacts: "
    "stored codebook + coded lists; on a warm catalog this query never "
    "touches the corpus build path), scores every query against its "
    f"top-{max(_IVFPQ_NPROBES)} cells ONCE carrying the cell's probe "
    "rank, then derives each nprobe's ranking by filtering cell_rank <= "
    "nprobe — one ADC pass, not len(nprobes) reruns. Output per (query, "
    "nprobe in {1,2,4}): exact-top-5 coverage of the ADC top-5. "
    "tests/test_r12_additions.py pins recall monotone non-decreasing in "
    "nprobe (more probed lists can only add candidates; a fixed-k "
    "ranking over a superset can still drop a hit, so the pin is on the "
    "HIT-SET union property via the aggregated permille).",
    oracle=f"""
        WITH {_IVFPQ_ORACLE_CTES},
        qc AS (
            SELECT q.vec_id AS query_id, q.v, c.ccid, c.ccv,
                   {duck_sqd('q.v', 'c.ccv')} AS cd2
            FROM e q, cc c
            WHERE q.vec_id >= {_IVFPQ_QLO} AND q.vec_id < {_IVFPQ_QHI}),
        qp0 AS (
            SELECT query_id, v, ccid, ccv,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cd2, ccid) AS prn
            FROM qc),
        qp AS (
            SELECT query_id, ccid, prn,
                   list_transform(generate_series(1, 64),
                                  i -> v[i] - ccv[i]) AS qr
            FROM qp0 WHERE prn <= {max(_IVFPQ_NPROBES)}),
        qsub AS (
            SELECT query_id, ccid, prn, m.m,
                   qr[m.m * 16 + 1 : m.m * 16 + 16] AS qv
            FROM qp, (SELECT unnest(range(0, 4)) AS m) m),
        lut AS (
            SELECT s.query_id, s.ccid, s.prn, s.m, c.cid,
                   {duck_sqd('s.qv', 'c.cv')} AS d2
            FROM qsub s JOIN cb c ON s.m = c.m),
        adc AS (
            SELECT l.query_id, l.prn AS cell_prn, c.vec_id AS neighbor_id,
                   CAST(ROUND(SUM(CAST(l.d2 AS DECIMAL(38,8))), 4)
                        AS DOUBLE) AS adc
            FROM codes c
            JOIN ca ON ca.vec_id = c.vec_id
            JOIN lut l ON l.m = c.m AND l.cid = c.cid
                      AND l.ccid = ca.ccid
            WHERE c.vec_id <> l.query_id
            GROUP BY 1, 2, 3),
        np AS (SELECT unnest([{", ".join(map(str, _IVFPQ_NPROBES))}])
                      AS nprobe),
        ranked AS (
            SELECT a.query_id, n.nprobe, a.neighbor_id,
                   row_number() OVER (PARTITION BY a.query_id, n.nprobe
                                      ORDER BY a.adc, a.neighbor_id)
                       AS rank
            FROM adc a JOIN np n ON a.cell_prn <= n.nprobe),
        exact AS (
            SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY {duck_sqd('q.v', 'x.v')}, x.vec_id)
                       AS rank
            FROM e q JOIN e x ON q.vec_id <> x.vec_id
            WHERE q.vec_id >= {_IVFPQ_QLO} AND q.vec_id < {_IVFPQ_QHI})
        SELECT t.query_id, CAST(n.nprobe AS BIGINT) AS nprobe,
               CAST(count(*) AS BIGINT) AS k,
               CAST(SUM(CASE WHEN r.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               CAST(1000 * SUM(CASE WHEN r.neighbor_id IS NOT NULL
                                    THEN 1 ELSE 0 END) // count(*)
                    AS BIGINT) AS recall_permille
        FROM exact t
        CROSS JOIN np n
        LEFT JOIN ranked r
          ON r.query_id = t.query_id AND r.nprobe = n.nprobe
         AND r.neighbor_id = t.neighbor_id AND r.rank <= 5
        WHERE t.rank <= 5
        GROUP BY 1, 2
    """,
)
def ivfpq_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, cc, cent1, codes = _ivfpq_artifacts(spark, sf_dir)
    maxp = max(_IVFPQ_NPROBES)
    qp = top_k_per_group(
        e.where(
            (F.col("vec_id") >= _IVFPQ_QLO) & (F.col("vec_id") < _IVFPQ_QHI)
        )
        .selectExpr("vec_id AS query_id", "v")
        .join(F.broadcast(cc), F.lit(True))
        .selectExpr(
            "query_id", "v", "ccid", "ccv",
            f"{sqd('v', 'ccv')} AS cd2",
        ),
        ["query_id"], ["cd2", "ccid"], maxp, rank="prn",
    ).selectExpr(
        "query_id", "ccid", "prn",
        "zip_with(v, ccv, (x, c) -> x - c) AS qr",
    )
    qsub = qp.crossJoin(
        F.broadcast(spark.range(0, 4).selectExpr("id AS m"))
    ).selectExpr(
        "query_id", "ccid", "prn", "m",
        "slice(qr, CAST(m * 16 + 1 AS INT), 16) AS qv",
    )
    lut = qsub.join(
        F.broadcast(cent1.withColumnRenamed("cv", "cbv")), "m"
    ).selectExpr(
        "query_id", "ccid", "prn", "m", "cid",
        f"{sqd('qv', 'cbv')} AS d2",
    )
    # ONE ADC pass at the widest probe depth, carrying each probed
    # cell's rank; every narrower nprobe is a filter over it.
    adc = (
        codes.join(F.broadcast(lut), ["m", "cid", "ccid"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy(
            "query_id",
            F.col("prn").alias("cell_prn"),
            F.col("vec_id").alias("neighbor_id"),
        )
        .agg(
            F.round(F.sum(F.col("d2").cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("adc")
        )
    )
    nps = local_table(spark, [(n,) for n in _IVFPQ_NPROBES], "nprobe int")
    ranked = top_k_per_group(
        adc.join(F.broadcast(nps), F.col("cell_prn") <= F.col("nprobe")),
        ["query_id", "nprobe"], ["adc", "neighbor_id"], 5,
    ).select("query_id", "nprobe", "neighbor_id", F.lit(1).alias("is_hit"))
    q = e.where(
        (F.col("vec_id") >= _IVFPQ_QLO) & (F.col("vec_id") < _IVFPQ_QHI)
    ).selectExpr("vec_id AS query_id", "v AS qv")
    exact = top_k_per_group(
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            f"{sqd('qv', 'v')} AS d2",
        ),
        ["query_id"], ["d2", "neighbor_id"], 5,
    ).select("query_id", "neighbor_id")
    return (
        exact.crossJoin(F.broadcast(nps))
        .join(ranked, ["query_id", "nprobe", "neighbor_id"], "left")
        .groupBy("query_id", "nprobe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(F.coalesce("is_hit", F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
        )
        .select(
            "query_id",
            F.col("nprobe").cast("bigint").alias("nprobe"),
            "k",
            "n_hit",
            F.floor(1000 * F.col("n_hit") / F.col("k"))
            .cast("bigint")
            .alias("recall_permille"),
        )
    )


_IVFPQ_NEW_MOD, _IVFPQ_NEW_REM = 10, 9  # arrival batch: vec_id % 10 == 9


@register(
    name="ivfpq_incremental_append",
    survey="J9 J5 A7 W1 E2",
    doc="Incremental ANN index maintenance — the IVFADC counterpart of "
    "minhash_index_probe_incremental, and the shape a 100 TB vector "
    "store actually runs: the coarse quantizer, residual-PQ codebook "
    "and coded inverted lists are trained on the HISTORY corpus only "
    f"(vec_id % {_IVFPQ_NEW_MOD} != {_IVFPQ_NEW_REM}) and served from "
    "their own catalog generation (train tag in the fingerprint — a "
    "different split IS a different stored index); the arrival batch "
    "is never retrained against, only ENCODED with the stored codebook "
    "at probe time. Each arriving vector probes its top-"
    f"{_IVFPQ_PROBE} history cells, builds its query-residual LUT from "
    "the stored codebook, ADC-ranks ONLY the probed inverted lists, "
    "and reports its top-3 nearest history vectors — attach-on-arrival "
    "(dedup, recommendation, routing) without touching the index "
    "build. Shuffles: one (query, neighbor) agg linear in probed "
    "lists; every join broadcasts a bounded side.",
    oracle=f"""
        WITH {_ivfpq_oracle_ctes(f"WHERE vec_id % {_IVFPQ_NEW_MOD} <> {_IVFPQ_NEW_REM}")},
        qp0 AS (
            SELECT e.vec_id AS query_id, e.v, t.ccid
            FROM e JOIN LATERAL (
              SELECT c.ccid FROM cc c
              ORDER BY {duck_sqd('e.v', 'c.ccv')}, c.ccid
              LIMIT {_IVFPQ_PROBE}) t ON true
            WHERE e.vec_id % {_IVFPQ_NEW_MOD} = {_IVFPQ_NEW_REM}),
        qp AS (
            SELECT q.query_id, q.ccid,
                   list_transform(generate_series(1, 64),
                                  i -> q.v[i] - c.ccv[i]) AS qr
            FROM qp0 q JOIN cc c ON q.ccid = c.ccid),
        qsub AS (
            SELECT query_id, ccid, m.m,
                   qr[m.m * 16 + 1 : m.m * 16 + 16] AS qv
            FROM qp, (SELECT unnest(range(0, 4)) AS m) m),
        lut AS (
            SELECT s.query_id, s.ccid, s.m, c.cid,
                   {duck_sqd('s.qv', 'c.cv')} AS d2
            FROM qsub s JOIN cb c ON s.m = c.m),
        adc AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(ROUND(SUM(CAST(l.d2 AS DECIMAL(38,8))), 4)
                        AS DOUBLE) AS adc
            FROM codes c
            JOIN ca ON ca.vec_id = c.vec_id
            JOIN lut l ON l.m = c.m AND l.cid = c.cid
                      AND l.ccid = ca.ccid
            GROUP BY 1, 2)
        SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc
        FROM (
            SELECT query_id, neighbor_id, adc,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc, neighbor_id) AS rank
            FROM adc)
        WHERE rank <= 3
    """,
)
def ivfpq_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, cc, cent1, codes = _ivfpq_artifacts(
        spark,
        sf_dir,
        train_where=f"vec_id % {_IVFPQ_NEW_MOD} != {_IVFPQ_NEW_REM}",
        tag=f"hist_mod{_IVFPQ_NEW_MOD}ne{_IVFPQ_NEW_REM}",
    )
    qp = top_k_per_group(
        e.where(
            F.col("vec_id") % _IVFPQ_NEW_MOD == _IVFPQ_NEW_REM
        )
        .selectExpr("vec_id AS query_id", "v")
        .join(F.broadcast(cc), F.lit(True))
        .selectExpr(
            "query_id", "v", "ccid", "ccv",
            f"{sqd('v', 'ccv')} AS cd2",
        ),
        ["query_id"], ["cd2", "ccid"], _IVFPQ_PROBE,
    ).selectExpr(
        "query_id", "ccid", "zip_with(v, ccv, (x, c) -> x - c) AS qr"
    )
    qsub = qp.crossJoin(
        F.broadcast(spark.range(0, 4).selectExpr("id AS m"))
    ).selectExpr(
        "query_id", "ccid", "m",
        "slice(qr, CAST(m * 16 + 1 AS INT), 16) AS qv",
    )
    lut = qsub.join(
        F.broadcast(cent1.withColumnRenamed("cv", "cbv")), "m"
    ).selectExpr(
        "query_id", "ccid", "m", "cid",
        f"{sqd('qv', 'cbv')} AS d2",
    )
    # no self-exclusion filter: queries are OUTSIDE the indexed corpus
    adc = (
        codes.join(F.broadcast(lut), ["m", "cid", "ccid"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.round(F.sum(F.col("d2").cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("adc")
        )
    )
    return top_k_per_group(
        adc, ["query_id"], ["adc", "neighbor_id"], 3, rank="rank"
    ).select("query_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id", "adc")
