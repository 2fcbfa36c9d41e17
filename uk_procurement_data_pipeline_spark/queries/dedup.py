"""Deduplication operators over ``documents`` (SURVEY.md §2.5 D2/D3,
[NORTH-STAR] LLM-pipeline dedup).

D2 exact dedup: content hash + ``row_number`` keyed dedup with tombstone
status columns — the scale form of the reference's ``seen_uris`` loop
(2a_extract_contracts_finder.py:226-243), which KEEPS duplicates flagged
rather than dropping them.

D3 MinHash near-dup: shingle → ONE md5 per shingle lowered to a 32-bit int
→ K affine minhashes ((a_i*h + b_i) mod p, cheap int ops) → banded LSH
keys → equi-join on (band, key) → exact-Jaccard refine. Never all-pairs:
the only join is on band keys, so at 100 TB the shuffle is proportional to
data size, not its square. md5 + hex→int is the base hash because it is
bit-identical in Spark (conv(substr(md5,1,8),16,10)) and DuckDB
('0x'||substr(md5,1,8) cast), making the whole pipeline — including which
candidate pairs surface — oracle-checkable, while the K-fold expansion
stays in 64-bit integer arithmetic instead of K md5 calls per shingle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load, local_table, spread
from uk_procurement_data_pipeline_spark.functions.topk import global_rank
from uk_procurement_data_pipeline_spark.functions.vec import cosine, duck_dot, norm
from uk_procurement_data_pipeline_spark.queries.base import register

# --- shared expression fragments (Spark SQL / DuckDB SQL) -------------------
_PFX = "array_join(slice(split(text, ' '), 1, 10), ' ')"
_D_PFX = "array_to_string(string_split(text, ' ')[1:10], ' ')"

# distinct 3-token shingles. Guarded: for a <3-token doc the unguarded
# sequence(1, n-2) would DESCEND ([1,0] — Spark steps -1 when start>stop)
# and element_at(arr, 0) then throws INVALID_ARRAY_INDEX; the guard yields
# an empty shingle set instead, matching DuckDB's generate_series(1, n-2).
# r12 (guide §4.1/§2.3): element_at(split(text), i) inside a lambda
# re-evaluates the SPLIT per element (Catalyst does no subexpression
# elimination across lambda boundaries) — O(len^2) per document, measured
# 12x slower than the arrays_zip(slice(...)) form, which splits O(1) times
# per ROW and zips three shifted slices into the same shingle structs.
_SHINGLES = (
    "array_distinct(if(size(split(text,' ')) >= 3,"
    " transform(arrays_zip("
    "   slice(split(text,' '), 1, size(split(text,' ')) - 2),"
    "   slice(split(text,' '), 2, size(split(text,' ')) - 2),"
    "   slice(split(text,' '), 3, size(split(text,' ')) - 2)),"
    " s -> concat_ws(' ', s['0'], s['1'], s['2'])),"
    " cast(array() as array<string>)))"
)
_D_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),"
    " i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]"
    " || ' ' || string_split(text,' ')[i+2]))"
)

_K = 12  # minhash signature length
_BANDS = 4  # LSH bands (of K/BANDS rows each)
_ROWS = _K // _BANDS
_P = 2147483647  # Mersenne prime 2^31-1; a*h+b stays < 2^62 (no overflow)
# Fixed affine hash family (a_i odd < 2^31). Shared literals => identical
# signatures in both engines.
_AB = [
    (1664525, 1013904223),
    (22695477, 1),
    (1103515245, 12345),
    (134775813, 1),
    (214013, 2531011),
    (69069, 1234567),
    (1103515221, 11),
    (48271, 0),
    (16807, 17),
    (1588635695, 3),
    (69621, 95),
    (1181783497, 7),
]
assert len(_AB) == _K

# base hash: first 8 md5 hex chars -> 32-bit int, bit-identical across engines
_HS = "transform(sh, s -> cast(conv(substr(md5(s), 1, 8), 16, 10) AS bigint))"
_D_HS = "list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT))"

_SIG = (
    "array("
    + ", ".join(
        f"array_min(transform(hs, h -> ({a}L * h + {b}L) % {_P}))" for a, b in _AB
    )
    + ")"
)
_D_SIG = (
    "["
    + ", ".join(
        f"list_min(list_transform(hs, h -> (CAST({a} AS BIGINT) * h + {b}) % {_P}))"
        for a, b in _AB
    )
    + "]"
)


@register(
    name="exact_dedup_docs",
    survey="D2 W1 E2 F8",
    doc="Exact/content-hash dedup with tombstones (the scale form of ref "
    "2a:226-243): sha256 full-text hash; keyed rank over a normalized "
    "10-token-prefix key; duplicates kept and flagged, not dropped. One "
    "window shuffle on a high-cardinality key.",
    oracle=f"""
        SELECT doc_id,
               sha256(text) AS content_hash,
               md5({_D_PFX}) AS norm_key,
               ROW_NUMBER() OVER (PARTITION BY md5({_D_PFX}) ORDER BY doc_id)
                   AS rank_in_group,
               COUNT(*) OVER (PARTITION BY md5({_D_PFX})) AS n_in_group,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY md5({_D_PFX})
                                            ORDER BY doc_id) = 1
                    THEN 'ok' ELSE 'near_duplicate_prefix' END AS status
        FROM documents
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "sha2(text, 256) AS content_hash",
        f"md5({_PFX}) AS norm_key",
    )
    w = Window.partitionBy("norm_key").orderBy("doc_id")
    return docs.select(
        "doc_id",
        "content_hash",
        "norm_key",
        F.row_number().over(w).alias("rank_in_group"),
        F.count(F.lit(1)).over(Window.partitionBy("norm_key")).alias("n_in_group"),
        F.when(F.row_number().over(w) == 1, "ok")
        .otherwise("near_duplicate_prefix")
        .alias("status"),
    )


_MINHASH_ORACLE = f"""
        WITH d AS (
            SELECT doc_id, {_D_SHINGLES} AS sh FROM documents),
        sg AS (
            SELECT doc_id, sh, {_D_SIG} AS sig
            FROM (SELECT doc_id, sh, {_D_HS} AS hs FROM d)),
        b AS (
            SELECT doc_id, t.i AS band_idx,
                   md5(array_to_string(sig[t.i*{_ROWS}+1 : t.i*{_ROWS}+{_ROWS}],
                                       '|')) AS band_key
            FROM sg, generate_series(0, {_BANDS - 1}) t(i)),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, z.doc_id AS doc_b
            FROM b a JOIN b z
              ON a.band_idx = z.band_idx AND a.band_key = z.band_key
             AND a.doc_id < z.doc_id)
        SELECT cand.doc_a, cand.doc_b,
               CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(da.sh, db.sh))) AS DOUBLE)
                   AS jaccard
        FROM cand
        JOIN d da ON cand.doc_a = da.doc_id
        JOIN d db ON cand.doc_b = db.doc_id
        WHERE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(da.sh, db.sh))) AS DOUBLE)
              >= 0.8
    """


@register(
    name="minhash_near_dup",
    survey="D3 J9-pattern F17 F18 A5",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="MinHash+LSH near-duplicate pairs: 3-token shingles, one md5 per "
    "shingle lowered to int, K=12 affine minhashes, 4 banded keys, candidate "
    "equi-join on (band, key) — never all-pairs — then exact-Jaccard refine "
    "at 0.8. Both engines compute the identical hash family, so the surfaced "
    "pairs match exactly.",
    oracle=_MINHASH_ORACLE,
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    # d feeds three consumers (signatures + both sides of the Jaccard
    # refine); materialize the shingle build once instead of thrice
    d = docs.selectExpr("doc_id", f"{_SHINGLES} AS sh").localCheckpoint(eager=True)
    sg = d.selectExpr("doc_id", "sh", f"{_HS} AS hs").selectExpr(
        "doc_id", "sh", f"{_SIG} AS sig"
    )
    bands = sg.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""transform(sequence(0, {_BANDS - 1}),
                      b -> struct(b AS band_idx,
                                  md5(concat_ws('|', transform(
                                      slice(sig, b*{_ROWS}+1, {_ROWS}),
                                      x -> cast(x AS string)))) AS band_key))"""
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")

    a, z = bands.alias("a"), bands.alias("z")
    cand = (
        a.join(
            z,
            (F.col("a.band_idx") == F.col("z.band_idx"))
            & (F.col("a.band_key") == F.col("z.band_key"))
            & (F.col("a.doc_id") < F.col("z.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("z.doc_id").alias("doc_b"))
        .distinct()
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double")
    )
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.8)
    )


# ---------------------------------------------------------------------------
# SimHash dedup (32-bit fingerprint, keyed grouping)
# ---------------------------------------------------------------------------
_BITS = 32

# per-token 32-bit hash (same cross-engine base hash as the minhash family)
_TOK_HS = (
    "transform(array_distinct(split(text, ' ')),"
    " t -> cast(conv(substr(md5(t), 1, 8), 16, 10) AS bigint))"
)
_D_TOK_HS = (
    "list_transform(list_distinct(string_split(text, ' ')),"
    " t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))"
)

# fingerprint: bit b set iff the sum of per-token votes (+1 if the token
# hash has bit b, else -1) is positive. ONE fold over hs maintaining a
# 32-counter array accumulator (transform's two-arg lambda gives the bit
# index), then one finishing pass turns positive counters into set bits —
# O(T) array traversals instead of the 32-fold O(32*T) form. The DuckDB
# oracle keeps the per-bit formulation (values are identical; the oracle is
# correctness-only and runs at sf0.01).
_FP = f"""aggregate(hs,
        array_repeat(0L, {_BITS}),
        (acc, h) -> transform(acc,
            (c, b) -> c + if((shiftright(h, b) & 1) = 1, 1L, -1L)),
        acc -> aggregate(
            transform(acc, (c, b) -> if(c > 0, shiftleft(1L, b), 0L)),
            0L, (a, x) -> a + x))"""
_D_FP = f"""CAST(list_sum(list_transform(generate_series(0, {_BITS - 1}),
        b -> CASE WHEN list_sum(list_transform(hs,
                       h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"""


@register(
    name="simhash_dedup",
    survey="D3 D2 W1 E2 UD4",
    doc="SimHash dedup: 32-bit majority-vote fingerprint over token hashes, "
    "then keyed first-wins grouping on the fingerprint with tombstone "
    "status (the D1 contract applied to a similarity hash). Output is "
    "LINEAR in documents — the pair-listing form of near-dup detection is "
    "minhash_near_dup; simhash's strength at 100 TB is that grouping needs "
    "one window shuffle on the fingerprint, no candidate join at all.",
    oracle=f"""
        WITH f AS (
            SELECT doc_id, {_D_FP} AS fp
            FROM (SELECT doc_id, {_D_TOK_HS} AS hs FROM documents))
        SELECT doc_id, fp,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id)
                   AS rank_in_group,
               COUNT(*) OVER (PARTITION BY fp) AS n_in_group,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
                    THEN 'ok' ELSE 'simhash_duplicate' END AS status
        FROM f
    """,
)
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    f = docs.selectExpr("doc_id", f"{_TOK_HS} AS hs").selectExpr(
        "doc_id", f"{_FP} AS fp"
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return f.select(
        "doc_id",
        "fp",
        F.row_number().over(w).alias("rank_in_group"),
        F.count(F.lit(1)).over(Window.partitionBy("fp")).alias("n_in_group"),
        F.when(F.row_number().over(w) == 1, "ok")
        .otherwise("simhash_duplicate")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# Character n-gram Jaccard near-dup (prefix-blocked)
# ---------------------------------------------------------------------------
_GRAM_N = 4
_PFX_CHARS = 240  # grams computed over a normalized prefix, bounding cost

_GRAMS = (
    f"array_distinct(transform("
    f" sequence(1, greatest(length(substr(lower(text), 1, {_PFX_CHARS})) - {_GRAM_N - 1}, 1)),"
    f" i -> substr(substr(lower(text), 1, {_PFX_CHARS}), i, {_GRAM_N})))"
)
_D_GRAMS = (
    f"list_distinct(list_transform("
    f" generate_series(1, greatest(length(substr(lower(text), 1, {_PFX_CHARS})) - {_GRAM_N - 1}, 1)),"
    f" i -> substr(substr(lower(text), 1, {_PFX_CHARS}), i, {_GRAM_N})))"
)


@register(
    name="ngram_jaccard_dedup",
    survey="D3 F7 F17",
    doc="Character 4-gram Jaccard near-dup over a normalized 240-char "
    "prefix, blocked on md5 of the first 16 chars (near-dup docs in this "
    "corpus share their head) — block equi-join then exact Jaccard refine "
    "at 0.7; never all-pairs.",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, md5(substr(lower(text), 1, 16)) AS blk,
                   {_D_GRAMS} AS grams
            FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(a.grams, b.grams)))
                          AS DOUBLE) AS jaccard
        FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(a.grams, b.grams)))
                         AS DOUBLE) >= 0.7
    """,
)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    g = docs.selectExpr(
        "doc_id", "md5(substr(lower(text), 1, 16)) AS blk", f"{_GRAMS} AS grams"
    )
    a = g.select(
        F.col("doc_id").alias("doc_a"), F.col("blk"), F.col("grams").alias("ga")
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"), F.col("blk").alias("blk_b"),
        F.col("grams").alias("gb"),
    )
    jac = (
        F.size(F.array_intersect("ga", "gb")).cast("double")
        / F.size(F.array_union("ga", "gb")).cast("double")
    )
    return (
        a.join(b, (a.blk == b.blk_b) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.7)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (sign-bucket blocked)
# ---------------------------------------------------------------------------
# demo threshold calibrated to the synthetic fixture embeddings (near-random,
# max within-bucket cosine ~0.51); a real near-dup corpus would use ~0.95.
# Bucket bits must SCALE with data volume (within-bucket candidate pairs grow
# quadratically in bucket occupancy): target log2(N / desired_bucket_rows),
# e.g. ~20 bits at 1e9 vectors, multi-probe for recall. 6 bits fits the
# fixture scale.
_COS_THRESHOLD = 0.4
_NDUP_BITS = 6


@register(
    name="embedding_near_dup",
    survey="D3 J9 UD4",
    doc="Embedding-cosine near-duplicate pairs: sign-bit LSH bucket on the "
    "leading dims (high-cosine pairs land in the same bucket with high "
    "probability), symmetric candidate equi-join within buckets, "
    "sequential-fold cosine refine. Linear shuffle, never all-pairs.",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding,
                   sqrt({duck_dot('embedding', 'embedding')}) AS nrm,
                   array_to_string(list_transform(embedding[1:{_NDUP_BITS}],
                       x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')
                       AS bucket
            FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {duck_dot('a.embedding', 'b.embedding')}
                   / (a.nrm * b.nrm) AS cosine
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {duck_dot('a.embedding', 'b.embedding')}
                  / (a.nrm * b.nrm) >= {_COS_THRESHOLD}
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "embedding",
        f"{norm('embedding')} AS nrm",
        f"""concat_ws('', transform(slice(embedding, 1, {_NDUP_BITS}),
             x -> if(x >= 0, '1', '0'))) AS bucket""",
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"), F.col("bucket").alias("bucket_b"),
    )
    cos = F.expr(cosine("ea", "eb", "na", "nb"))
    return (
        a.join(b, (a.bucket == b.bucket_b) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .where(F.col("cosine") >= _COS_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Dedup clusters: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------


@register(
    name="minhash_components",
    survey="D3 J9-pattern A7 U1",
    doc="Dedup clusters as an iterative algorithm: min-label propagation "
    "over the minhash near-dup pair graph (each node repeatedly adopts the "
    "smallest doc_id reachable) until components stabilize — the Spark form "
    "of union-find for grouping near-duplicates beyond pairwise matches. "
    "Oracle is a recursive CTE computing min reachable id.",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
        e AS (SELECT doc_a AS s, doc_b AS t FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
        reach(s, r) AS (
            SELECT s, s FROM (SELECT DISTINCT s FROM e)
            UNION
            SELECT e.s, reach.r FROM e JOIN reach ON e.t = reach.s),
        comp AS (
            SELECT s AS doc_id, MIN(r) AS component FROM reach GROUP BY s)
        SELECT doc_id, component,
               COUNT(*) OVER (PARTITION BY component) AS component_size
        FROM comp
    """,
)
def minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.graph import (
        connected_components,
    )

    pairs = minhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    # connected_components loops until the changed-label count per round
    # reaches 0 (bounded at 32 rounds, error past that) and materializes
    # every round — see functions/graph.py for the scale rationale.
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    return comp.withColumn(
        "component_size",
        F.count(F.lit(1)).over(Window.partitionBy("component")),
    )


# ---------------------------------------------------------------------------
# Containment dedup (partial / boilerplate duplicates)
# ---------------------------------------------------------------------------
# Near-dup Jaccard misses asymmetric duplication: a short document wholly
# embedded in a longer one (quoted boilerplate, template wrapping) has low
# Jaccard but containment |A∩B|/|A| ≈ 1. Blocking on the global min
# shingle-hash keeps this linear (a contained document shares the larger
# document's minimum with probability ≈ |A|/|B| per the MinHash argument;
# production adds the k smallest hashes as extra probes for recall).
# The set algebra runs on the 32-bit shingle hashes, not the shingle
# strings: both engines compute the identical hash family (cheap to
# materialize, cheap to intersect), so the refine is still exact-match
# checkable — and hashing shingles before set ops is what a production
# containment pass does anyway.

_CONTAIN_THRESHOLD = 0.6


@register(
    name="containment_dedup",
    survey="D3 J9-pattern F17 A5",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="Containment (partial-duplicate) pairs: 3-token shingle sets "
    "hashed to int32, candidates blocked on the global min shingle-hash "
    "(never all-pairs), refined by |small ∩ big| / |small| >= 0.6 with "
    "the smaller-shingle-set document oriented first (ties by id). "
    "Catches boilerplate embedding that symmetric Jaccard misses.",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {_D_SHINGLES} AS sh FROM documents),
        h AS (
            SELECT doc_id,
                   list_distinct({_D_HS}) AS hs,
                   list_min({_D_HS}) AS min_h,
                   len(list_distinct({_D_HS})) AS n_sh
            FROM d WHERE len(sh) > 0),
        pairs AS (
            SELECT CASE WHEN a.n_sh < b.n_sh
                        OR (a.n_sh = b.n_sh AND a.doc_id < b.doc_id)
                        THEN a.doc_id ELSE b.doc_id END AS doc_small,
                   CASE WHEN a.n_sh < b.n_sh
                        OR (a.n_sh = b.n_sh AND a.doc_id < b.doc_id)
                        THEN b.doc_id ELSE a.doc_id END AS doc_big,
                   CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                       / CAST(least(a.n_sh, b.n_sh) AS DOUBLE) AS containment
            FROM h a JOIN h b
              ON a.min_h = b.min_h AND a.doc_id < b.doc_id)
        SELECT doc_small, doc_big, containment
        FROM pairs WHERE containment >= {_CONTAIN_THRESHOLD}
    """,
)
def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    # Checkpoint IMMEDIATELY after the hashed-shingle column: stacked
    # Projects collapse in Catalyst, so every later reference to `hs`
    # (min, size, join payload) would re-inline — and re-evaluate — the
    # whole split→shingle→md5 chain. Materializing (doc_id, hs) first
    # makes the chain run exactly once; the derivations below read the
    # cached int arrays, and the string shingles never cross the join.
    # No pre-checkpoint filter: a WHERE over `sh` gets pushed below the
    # spread() exchange, dragging the whole shingle build onto the scan's
    # single partition. Empty docs are dropped AFTER materialization
    # (hs is empty iff sh is empty), where the check is a cached size().
    h0 = (
        docs.selectExpr("doc_id", f"{_SHINGLES} AS sh")
        .selectExpr("doc_id", f"array_distinct({_HS}) AS hs")
        .localCheckpoint(eager=True)
    )
    h = h0.where("size(hs) > 0").selectExpr(
        "doc_id", "hs", "array_min(hs) AS min_h", "size(hs) AS n_sh"
    )
    a = h.selectExpr("doc_id AS id_a", "hs AS hs_a", "min_h", "n_sh AS n_a")
    b = h.selectExpr("doc_id AS id_b", "hs AS hs_b", "min_h AS min_hb", "n_sh AS n_b")
    small_first = "n_a < n_b OR (n_a = n_b AND id_a < id_b)"
    return (
        a.join(b, (F.col("min_h") == F.col("min_hb")) & (F.col("id_a") < F.col("id_b")))
        .selectExpr(
            f"IF({small_first}, id_a, id_b) AS doc_small",
            f"IF({small_first}, id_b, id_a) AS doc_big",
            "CAST(size(array_intersect(hs_a, hs_b)) AS DOUBLE)"
            " / CAST(least(n_a, n_b) AS DOUBLE) AS containment",
        )
        .where(f"containment >= {_CONTAIN_THRESHOLD}")
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup (prefix-blocked, threshold-bounded DP)
# ---------------------------------------------------------------------------
# Same blocking discipline as ngram_jaccard_dedup: md5 of the 16-char head
# groups near-dup candidates (this corpus's near-dups share their head), so
# the pair join is a block equi-join, never all-pairs. The distance runs on
# a bounded 80-char head and passes the threshold INTO levenshtein so the
# DP early-exits at threshold+1 instead of filling the full matrix — at
# real document sizes that turns O(len^2) per pair into O(len*threshold).
_LEV_HEAD = 80
_LEV_MAX = 16


@register(
    name="levenshtein_blocked_dedup",
    survey="D3 J9 F7",
    doc="Edit-distance near-duplicate pairs: md5-of-head blocking, "
    "block equi-join, threshold-bounded levenshtein refine on an "
    "80-char head (the threshold argument early-exits the DP). Linear "
    "shuffle on the block key; never all-pairs.",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, md5(substr(lower(text), 1, 16)) AS blk,
                   substr(text, 1, {_LEV_HEAD}) AS head
            FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               levenshtein(a.head, b.head) AS edit_dist
        FROM h a JOIN h b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.head, b.head) <= {_LEV_MAX}
    """,
)
def levenshtein_blocked_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    h = docs.selectExpr(
        "doc_id",
        "md5(substr(lower(text), 1, 16)) AS blk",
        f"substr(text, 1, {_LEV_HEAD}) AS head",
    )
    a = h.select(
        F.col("doc_id").alias("doc_a"), "blk", F.col("head").alias("ha")
    )
    b = h.select(
        F.col("doc_id").alias("doc_b"),
        F.col("blk").alias("blk_b"),
        F.col("head").alias("hb"),
    )
    return (
        a.join(b, (a.blk == b.blk_b) & (F.col("doc_a") < F.col("doc_b")))
        # threshold form: returns -1 past _LEV_MAX after an early-exit DP
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"levenshtein(ha, hb, {_LEV_MAX})").alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)
    )


@register(
    name="dedup_canonical_keep",
    survey="D3 J7 A7 U1",
    doc="The dedup pipeline's actual deliverable: every document mapped "
    "to its cluster's canonical representative (smallest doc_id in its "
    "near-dup component; singletons keep themselves) plus the keep/drop "
    "flag a corpus build filters on. Composition: the minhash component "
    "labels left-join back onto the corpus — the component side holds "
    "only documents that appear in near-dup pairs, so at scale AQE "
    "broadcasts it against the full corpus scan.",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
        e AS (SELECT doc_a AS s, doc_b AS t FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
        reach(s, r) AS (
            SELECT s, s FROM (SELECT DISTINCT s FROM e)
            UNION
            SELECT e.s, reach.r FROM e JOIN reach ON e.t = reach.s),
        comp AS (
            SELECT s AS doc_id, MIN(r) AS component FROM reach GROUP BY s)
        SELECT d.doc_id,
               COALESCE(comp.component, d.doc_id) AS canonical_id,
               d.doc_id = COALESCE(comp.component, d.doc_id) AS is_kept
        FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
    """,
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = minhash_components(spark, sf_dir).select("doc_id", "component")
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("canonical_id"),
        (F.col("doc_id") == F.coalesce("component", "doc_id")).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: today's batch against the historical corpus
# ---------------------------------------------------------------------------
# Batch split by md5 bucket of doc_id: >= 80 is "today's arrivals", the rest
# is the already-ingested history (same engine-portable bucket idiom as
# corpus_prep's stratified split).
_NEW_BUCKET = (
    "cast(conv(substr(md5(cast(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
)
_D_NEW_BUCKET = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
)


@register(
    name="incremental_dedup_new_batch",
    survey="D2 D3 J7 E2",
    eager=True,  # fn materializes the shared shingle table; time it honestly
    doc="Incremental dedup — the production shape at 100 TB: you never "
    "re-dedup the corpus, you dedup TODAY'S batch against it. New docs "
    "(md5-bucket of doc_id >= 80) are checked against history (the rest) "
    "by exact content hash (semi-join on sha256) and by MinHash LSH "
    "(new-side band keys equi-joined to history-side band keys, exact "
    "Jaccard refine at 0.8 — the same family as minhash_near_dup, so "
    "only bands ever join, never all-pairs). Each new doc gets "
    "exact_dup / near_dup / kept; history is read, never rewritten.",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, text, ({_D_NEW_BUCKET}) >= 80 AS is_new
            FROM documents),
        newd AS (SELECT doc_id, text FROM base WHERE is_new),
        hist AS (SELECT doc_id, text FROM base WHERE NOT is_new),
        ex AS (
            SELECT DISTINCT n.doc_id
            FROM newd n
            JOIN (SELECT DISTINCT sha256(text) AS h FROM hist) hh
              ON sha256(n.text) = hh.h),
        shn AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM newd),
        shh AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM hist),
        sgn AS (
            SELECT doc_id, sh, {_D_SIG} AS sig
            FROM (SELECT doc_id, sh, {_D_HS} AS hs FROM shn)),
        sgh AS (
            SELECT doc_id, sh, {_D_SIG} AS sig
            FROM (SELECT doc_id, sh, {_D_HS} AS hs FROM shh)),
        bn AS (
            SELECT doc_id, t.i AS band_idx,
                   md5(array_to_string(sig[t.i*{_ROWS}+1 : t.i*{_ROWS}+{_ROWS}],
                                       '|')) AS band_key
            FROM sgn, generate_series(0, {_BANDS - 1}) t(i)),
        bh AS (
            SELECT doc_id, t.i AS band_idx,
                   md5(array_to_string(sig[t.i*{_ROWS}+1 : t.i*{_ROWS}+{_ROWS}],
                                       '|')) AS band_key
            FROM sgh, generate_series(0, {_BANDS - 1}) t(i)),
        cand AS (
            SELECT DISTINCT bn.doc_id AS nid, bh.doc_id AS hid
            FROM bn JOIN bh
              ON bn.band_idx = bh.band_idx AND bn.band_key = bh.band_key),
        nr AS (
            SELECT DISTINCT c.nid AS doc_id
            FROM cand c
            JOIN shn a ON c.nid = a.doc_id
            JOIN shh b ON c.hid = b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                             AS DOUBLE) >= 0.8)
        SELECT n.doc_id,
               CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'kept' END AS status
        FROM newd n
        LEFT JOIN ex ON n.doc_id = ex.doc_id
        LEFT JOIN nr ON n.doc_id = nr.doc_id
    """,
)
def incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    # One pass builds text hash + shingles for BOTH sides, materialized once
    # (the shingle table feeds band keys AND the Jaccard refine, twice each).
    base = docs.selectExpr(
        "doc_id",
        f"({_NEW_BUCKET}) >= 80 AS is_new",
        "sha2(text, 256) AS h",
        f"{_SHINGLES} AS sh",
    ).localCheckpoint(eager=True)
    new, hist = base.where("is_new"), base.where("NOT is_new")

    exact = new.join(
        hist.select("h").distinct(), "h", "left_semi"
    ).select("doc_id").withColumn("exact_dup", F.lit(True))

    def bands(side: DataFrame) -> DataFrame:
        sg = side.selectExpr("doc_id", f"{_HS} AS hs").selectExpr(
            "doc_id", f"{_SIG} AS sig"
        )
        return sg.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"""transform(sequence(0, {_BANDS - 1}),
                          b -> struct(b AS band_idx,
                                      md5(concat_ws('|', transform(
                                          slice(sig, b*{_ROWS}+1, {_ROWS}),
                                          x -> cast(x AS string)))) AS band_key))"""
                )
            ).alias("band"),
        ).select("doc_id", "band.band_idx", "band.band_key")

    bn = bands(new).withColumnRenamed("doc_id", "nid")
    bh = bands(hist).withColumnRenamed("doc_id", "hid")
    cand = (
        bn.join(bh, ["band_idx", "band_key"]).select("nid", "hid").distinct()
    )
    near = (
        cand.join(new.selectExpr("doc_id AS nid", "sh AS sh_n"), "nid")
        .join(hist.selectExpr("doc_id AS hid", "sh AS sh_h"), "hid")
        .where(
            F.size(F.array_intersect("sh_n", "sh_h")).cast("double")
            / F.size(F.array_union("sh_n", "sh_h")).cast("double")
            >= 0.8
        )
        .select("nid")
        .distinct()
        .withColumnRenamed("nid", "doc_id")
        .withColumn("near_dup", F.lit(True))
    )
    return (
        new.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_dup"), "exact_dup")
            .when(F.col("near_dup"), "near_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )


_WIN_W = 4  # winnowing window: guarantee a shared fingerprint for any
# match of length >= w + k - 1 tokens (k=3 shingles)


@register(
    name="winnowing_fingerprints",
    survey="D3 F17 A5",
    doc="Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the "
    "MOSS scheme): ORDERED 3-token shingle hashes, sliding window of "
    f"{_WIN_W}, keep each window's minimum hash, distinct per doc — the "
    "guarantee is that any copied passage of >= w+k-1 tokens shares at "
    "least one fingerprint between documents, which plain MinHash (a "
    "whole-doc sketch) cannot promise. Entirely higher-order array "
    "expressions over the same cross-engine md5 hash family as the "
    "MinHash suite: one map-side pass, no shuffle before the final "
    "explode. Short docs (< w+2 tokens) produce one whole-doc window.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
            WHERE len(string_split(text, ' ')) >= 3),
        h AS (
            SELECT doc_id,
                   list_transform(
                       list_transform(generate_series(1, len(toks) - 2),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
                       s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
            FROM t),
        fp AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(hs) - {_WIN_W - 1}, 1)),
                       i -> list_aggregate(hs[i:i+{_WIN_W - 1}], 'min'))) AS fps
            FROM h)
        SELECT doc_id, unnest(fps) AS fingerprint
        FROM fp
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two structural choices keep this O(n) per doc instead of the naive
    # O(n * w) (or worse):
    # * the window minimum is a ROLLING min built from two zip_with passes
    #   (pairwise min with the 1-shifted self, then with the 2-shifted
    #   pair-mins -> min over 4), not per-window slice+array_min;
    # * a monotonically_increasing_id barrier column blocks Catalyst's
    #   CollapseProject from inlining the md5-hash array into every
    #   downstream reference (measured: the collapsed plan recomputed the
    #   full hash array per reference — 22s -> 0.6s at sf0.01).
    # zip_with pads the shorter (shifted) side with nulls and `least`
    # ignores nulls, so tail windows clamp to the available hashes; valid
    # window starts are 1..n-w+1 (one whole-doc window for short docs).
    docs = spread(load(spark, sf_dir, "documents"))
    return (
        docs.selectExpr("doc_id", "split(text, ' ') AS t")
        .where(F.expr("size(t) >= 3"))
        .selectExpr(
            "doc_id",
            "size(t) - 2 AS n_sh",
            # ordered (NOT distinct) shingles -> md5-based 32-bit hashes
            "transform(transform(sequence(1, size(t) - 2),"
            " i -> concat_ws(' ', element_at(t, i), element_at(t, i+1),"
            " element_at(t, i+2))),"
            " s -> cast(conv(substr(md5(s), 1, 8), 16, 10) AS bigint)) AS hs",
        )
        .select(
            "doc_id", "n_sh", "hs",
            F.monotonically_increasing_id().alias("_barrier"),
        )
        .selectExpr(
            "doc_id",
            "n_sh",
            "zip_with(hs, slice(hs, 2, size(hs)), (x, y) -> least(x, y)) AS p2",
        )
        .select(
            "doc_id", "n_sh", "p2",
            F.monotonically_increasing_id().alias("_barrier"),
        )
        .selectExpr(
            "doc_id",
            "array_distinct(slice("
            " zip_with(p2, slice(p2, 3, size(p2)), (x, y) -> least(x, y)),"
            f" 1, greatest(n_sh - {_WIN_W - 1}, 1))) AS fps",
        )
        # explode_outer, NOT explode: plain explode makes Catalyst infer a
        # size(fps) > 0 pre-filter and push it below the Exchange with the
        # whole fingerprint expression inlined — the entire computation
        # then runs twice, once single-partition at the scan (measured 30s
        # vs 0.6s at sf0.01). fps is never empty (>= 1 window by
        # construction), so the outer variant is value-identical.
        .select("doc_id", F.explode_outer("fps").alias("fingerprint"))
    )


@register(
    name="golden_record_survivorship",
    survey="D1 D3 A7 J6 F17",
    eager=True,  # clustering loop materializes per round; time it honestly
    doc="Golden-record (survivorship) merge over the minhash dedup "
    "clusters — the MDM step after clustering: every near-duplicate "
    "component collapses to ONE canonical record whose fields follow "
    "explicit survivorship rules (id: smallest member; text: the "
    "longest, tie-broken by doc_id via a max-struct argmax; n_chars: "
    "the max; sources: every distinct member source, sorted and "
    "';'-joined to a string — query outputs never carry array "
    "columns, the driver canonicalizer cannot sort list cells). "
    "Singleton documents pass through as their own golden record. "
    "One aggregation over the component assignment — the clustering "
    "(iterative, convergence-checked) dominates, the merge itself is "
    "a linear hash agg.",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
        e AS (SELECT doc_a AS s, doc_b AS t FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
        reach(s, r) AS (
            SELECT s, s FROM (SELECT DISTINCT s FROM e)
            UNION
            SELECT e.s, reach.r FROM e JOIN reach ON e.t = reach.s),
        comp AS (
            SELECT s AS doc_id, MIN(r) AS component FROM reach GROUP BY s),
        assign AS (
            SELECT d.doc_id, d.text, d.source, d.n_chars,
                   COALESCE(comp.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp USING (doc_id))
        SELECT component AS golden_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
               (MAX(struct_pack(l := length(text), nd := -doc_id,
                                t := text))).t AS golden_text,
               CAST(MAX(n_chars) AS BIGINT) AS max_n_chars,
               array_to_string(list_sort(list_distinct(list(source))), ';')
                   AS sources
        FROM assign
        GROUP BY component
    """,
)
def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions.graph import (
        connected_components,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    pairs = minhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    assign = docs.join(comp, "doc_id", "left").withColumn(
        "component", F.coalesce("component", "doc_id")
    )
    # Longest-text argmax as a max-struct: (length, -doc_id, text) orders
    # identically in both engines, no window needed.
    return assign.groupBy(F.col("component").alias("golden_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max(
            F.struct(
                F.length("text").alias("l"),
                (-F.col("doc_id")).alias("nd"),
                F.col("text").alias("text"),
            )
        )["text"].alias("golden_text"),
        F.max("n_chars").cast("bigint").alias("max_n_chars"),
        F.array_join(F.array_sort(F.collect_set("source")), ";").alias(
            "sources"
        ),
    )


@register(
    name="dedup_methods_report",
    survey="D2 D3 A7 U1",
    eager=True,  # minhash stage materializes its shingle table in fn
    doc="One-table dedup audit across methods — the report a curation "
    "run ships with its output: exact duplicates (docs minus distinct "
    "md5(text)), minhash near-dup pair count (the banded-LSH join), "
    "and low-novelty redundancy (documents whose distinct-bigram "
    "novelty rate falls below 1/2 — redundant against the corpus even "
    "with no single pairwise duplicate). Three independent linear "
    "pipelines union-ed into (method, n) rows; each reuses the "
    "registered operator's exact plan shape.",
    oracle=f"""
        WITH mh AS ({_MINHASH_ORACLE}),
        toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), grams AS (
          SELECT DISTINCT doc_id, d.t[s.i] || ' ' || d.t[s.i + 1] AS gram
          FROM toks d, LATERAL (SELECT unnest(range(1, len(d.t))) AS i) s
        ), debut AS (
          SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
        ), novelty AS (
          SELECT g.doc_id,
                 SUM(CASE WHEN d.first_doc = g.doc_id THEN 1 ELSE 0 END)
                     AS nn,
                 count(*) AS ng
          FROM grams g JOIN debut d USING (gram) GROUP BY g.doc_id)
        SELECT 'exact_duplicate_docs' AS method,
               CAST((SELECT count(*) - count(DISTINCT md5(text))
                     FROM documents) AS BIGINT) AS n
        UNION ALL
        SELECT 'minhash_near_dup_pairs',
               CAST((SELECT count(*) FROM mh) AS BIGINT)
        UNION ALL
        SELECT 'low_novelty_docs',
               CAST((SELECT count(*) FROM novelty WHERE 2 * nn < ng)
                    AS BIGINT)
    """,
)
def dedup_methods_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    exact = docs.agg(
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("bigint")
        .alias("n")
    ).select(F.lit("exact_duplicate_docs").alias("method"), "n")
    mh = (
        minhash_near_dup(spark, sf_dir)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("minhash_near_dup_pairs").alias("method"), "n")
    )
    grams = (
        docs.selectExpr("doc_id", "split(text, ' ') AS t")
        .selectExpr(
            "doc_id",
            "explode(IF(size(t) < 2, array(),"
            " transform(sequence(1, size(t) - 1),"
            " i -> concat(t[i - 1], ' ', t[i])))) AS gram",
        )
        .distinct()
    )
    debut = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    low_novel = (
        grams.join(debut, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("nn"),
            F.count(F.lit(1)).alias("ng"),
        )
        .where(2 * F.col("nn") < F.col("ng"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("low_novelty_docs").alias("method"), "n")
    )
    return exact.unionAll(mh).unionAll(low_novel)


@register(
    name="blocking_quality_report",
    survey="D3 J9-pattern A7 A8",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="Entity-resolution blocking-quality audit of the MinHash LSH "
    "scheme (the two numbers every blocking key is judged by - "
    "Christen's reduction ratio and pair completeness): candidate "
    "pairs from the SAME banded keys minhash_near_dup joins on, "
    "ground-truth duplicate pairs from exact content identity "
    "(md5(text) groups), and the fraction of truth pairs the blocks "
    "recover. Candidates and truth pairs are both bounded equi-joins "
    "(band keys / content hash); the total-pair denominator is the "
    "closed form n*(n-1)/2, so nothing quadratic ever materializes. "
    "pair_completeness is NULL when the corpus holds no exact "
    "duplicates (identical in both engines).",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {_D_SHINGLES} AS sh, md5(text) AS content_hash
            FROM documents),
        sg AS (
            SELECT doc_id, {_D_SIG} AS sig
            FROM (SELECT doc_id, {_D_HS} AS hs FROM d)),
        b AS (
            SELECT doc_id, t.i AS band_idx,
                   md5(array_to_string(sig[t.i*{_ROWS}+1 : t.i*{_ROWS}+{_ROWS}],
                                       '|')) AS band_key
            FROM sg, generate_series(0, {_BANDS - 1}) t(i)),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, z.doc_id AS doc_b
            FROM b a JOIN b z
              ON a.band_idx = z.band_idx AND a.band_key = z.band_key
             AND a.doc_id < z.doc_id),
        truth AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM d x JOIN d y
              ON x.content_hash = y.content_hash AND x.doc_id < y.doc_id),
        hit AS (
            SELECT count(*) AS n
            FROM truth t JOIN cand c
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
        cnt AS (
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_docs,
                   (SELECT CAST(count(*) AS BIGINT) FROM cand)
                       AS n_candidate_pairs,
                   (SELECT CAST(count(*) AS BIGINT) FROM truth)
                       AS n_true_pairs,
                   (SELECT CAST(n AS BIGINT) FROM hit)
                       AS n_true_pairs_blocked)
        SELECT n_docs, n_candidate_pairs, n_true_pairs,
               n_true_pairs_blocked,
               1.0 - CAST(n_candidate_pairs AS DOUBLE)
                     / (CAST(n_docs AS DOUBLE)
                        * (CAST(n_docs AS DOUBLE) - 1.0) / 2.0)
                   AS reduction_ratio,
               CASE WHEN n_true_pairs > 0
                    THEN CAST(n_true_pairs_blocked AS DOUBLE)
                         / CAST(n_true_pairs AS DOUBLE)
               END AS pair_completeness
        FROM cnt
    """,
)
def blocking_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    d = docs.selectExpr(
        "doc_id", f"{_SHINGLES} AS sh", "md5(CAST(text AS BINARY)) AS content_hash"
    ).localCheckpoint(eager=True)
    sg = d.selectExpr("doc_id", "sh", f"{_HS} AS hs").selectExpr(
        "doc_id", f"{_SIG} AS sig"
    )
    bands = sg.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""transform(sequence(0, {_BANDS - 1}),
                      b -> struct(b AS band_idx,
                                  md5(concat_ws('|', transform(
                                      slice(sig, b*{_ROWS}+1, {_ROWS}),
                                      x -> cast(x AS string)))) AS band_key))"""
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")
    a, z = bands.alias("a"), bands.alias("z")
    cand = (
        a.join(
            z,
            (F.col("a.band_idx") == F.col("z.band_idx"))
            & (F.col("a.band_key") == F.col("z.band_key"))
            & (F.col("a.doc_id") < F.col("z.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("z.doc_id").alias("doc_b"))
        .distinct()
    )
    x = d.select(F.col("doc_id").alias("doc_a"), F.col("content_hash").alias("ha"))
    y = d.select(F.col("doc_id").alias("doc_b"), F.col("content_hash").alias("hb"))
    truth = x.join(
        y, (F.col("ha") == F.col("hb")) & (F.col("doc_a") < F.col("doc_b"))
    ).select("doc_a", "doc_b")
    hit = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs_blocked")
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"))
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    nd = F.col("n_docs").cast("double")
    return (
        n_docs.join(F.broadcast(n_cand))
        .join(F.broadcast(n_truth))
        .join(F.broadcast(hit))
        .select(
            "n_docs",
            "n_candidate_pairs",
            "n_true_pairs",
            "n_true_pairs_blocked",
            (
                F.lit(1.0)
                - F.col("n_candidate_pairs").cast("double")
                / (nd * (nd - F.lit(1.0)) / F.lit(2.0))
            ).alias("reduction_ratio"),
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_true_pairs_blocked").cast("double")
                / F.col("n_true_pairs").cast("double"),
            ).alias("pair_completeness"),
        )
    )


@register(
    name="cross_source_dup_matrix",
    survey="D3 A7 J6 U1",
    doc="Cross-source near-duplication matrix: the MinHash near-dup "
    "pairs (the exact minhash_near_dup plan - Spark calls it, the "
    "oracle embeds its SQL) rolled up to (source_a, source_b) pair "
    "counts plus each source's duplicated-doc rate - the "
    "contamination view that tells a corpus curator WHICH feeds "
    "copy from which before mixing weights are chosen. Pair source "
    "lookup is two broadcast-able doc->source joins; the matrix "
    "domain is bounded by source count; sources are ordered "
    "lexicographically so each unordered pair appears once.",
    oracle=f"""
        WITH pairs AS ({_MINHASH_ORACLE.replace('>= 0.8', '>= 0.8')}),
        src AS (SELECT doc_id, source FROM documents),
        tagged AS (
            SELECT LEAST(sa.source, sb.source) AS source_a,
                   GREATEST(sa.source, sb.source) AS source_b
            FROM pairs p
            JOIN src sa ON p.doc_a = sa.doc_id
            JOIN src sb ON p.doc_b = sb.doc_id)
        SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
        FROM tagged
        GROUP BY source_a, source_b
        ORDER BY source_a, source_b
    """,
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.selectExpr("doc_id AS doc_a", "source AS src_a")
    sb = src.selectExpr("doc_id AS doc_b", "source AS src_b")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


@register(
    name="edit_distance_one_join",
    survey="J9 D3 F17 A8",
    doc="Typo-pair discovery: all DISTINCT word pairs at Levenshtein "
    "distance exactly 1, via DELETION-NEIGHBORHOOD blocking (the "
    "SymSpell/FastSS family): every word emits itself plus its len(w) "
    "one-char-deletion variants as block keys; two words are lev<=1 "
    "candidates IFF their key sets intersect (substitution pairs share "
    "a deletion variant, insert/delete pairs collide word-on-variant), "
    "so candidates meet in a plain equi-join on the variant key — work "
    "is vocab-linear x avg word length, never all-pairs — and the "
    "exact levenshtein() refine (JVM-side in Spark, native in DuckDB) "
    "keeps only true distance-1 pairs. The fixture vocabulary has no "
    "natural typos, so the word domain is vocab UNION a deterministic "
    "md5-positioned 'z' substitution of each word (the standard "
    "synthetic-typo protocol); the join must recover exactly those "
    "mutation pairs plus any accidental vocab-internal ones. Ordered "
    "(w1 < w2) so each pair appears once.",
    oracle="""
        WITH vocab AS (
          SELECT DISTINCT w
          FROM (SELECT unnest(string_split(text, ' ')) AS w
                FROM documents)
          WHERE length(w) >= 4
        ), words AS (
          SELECT w FROM vocab
          UNION
          SELECT substr(w, 1, p - 1) || 'z' || substr(w, p + 1) AS w
          FROM (SELECT w,
                       CAST(CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)
                            % length(w) AS INTEGER) + 1 AS p
                FROM vocab)
        ), keyed AS (
          SELECT w, w AS variant FROM words
          UNION ALL
          SELECT w, substr(w, 1, i - 1) || substr(w, i + 1) AS variant
          FROM words, LATERAL (
            SELECT unnest(range(1, length(w) + 1)) AS i) t
        ), cand AS (
          SELECT DISTINCT a.w AS w1, b.w AS w2
          FROM keyed a JOIN keyed b ON a.variant = b.variant
          WHERE a.w < b.w
        )
        SELECT w1, w2 FROM cand
        WHERE levenshtein(w1, w2) = 1
        ORDER BY w1, w2
    """,
)
def edit_distance_one_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= 4)
        .distinct()
    )
    mutated = vocab.selectExpr(
        "w",
        "CAST(CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT)"
        " % length(w) AS INT) + 1 AS p",
    ).selectExpr("concat(substr(w, 1, p - 1), 'z', substr(w, p + 1)) AS w")
    words = vocab.union(mutated).distinct()
    keyed = words.select(
        "w",
        F.explode(
            F.expr(
                "array_union(array(w), transform(sequence(1, length(w)),"
                " i -> concat(substr(w, 1, i - 1), substr(w, i + 1))))"
            )
        ).alias("variant"),
    )
    a = keyed.select(F.col("w").alias("w1"), "variant")
    b = keyed.select(F.col("w").alias("w2"), "variant")
    return (
        a.join(b, "variant")
        .where(F.col("w1") < F.col("w2"))
        .select("w1", "w2")
        .distinct()
        .where(F.expr("levenshtein(w1, w2) = 1"))
        .orderBy("w1", "w2")
    )


# LSH band/row tuning configurations over the K=12 signature: the
# s-curve threshold is roughly (1/b)^(1/r), so these four sweep the
# candidate-recall/precision tradeoff from conservative (2 bands of 6)
# to aggressive (6 bands of 2).
_TUNE_CFGS = [(0, 2, 6), (1, 3, 4), (2, 4, 3), (3, 6, 2)]


@register(
    name="minhash_band_tuning_report",
    survey="D3 J9-pattern A7 A8 F17",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="LSH banding-parameter tuning report — the measurement that "
    "picks (bands, rows) before a production MinHash dedup run: for "
    "four (b, r) splits of the same K=12 signature (2x6, 3x4, 4x3, "
    "6x2), count the candidate pairs each banding generates and how "
    "many are true near-duplicates (exact shingle Jaccard >= 0.5), "
    "giving the empirical precision of each point on the s-curve "
    "(threshold ~ (1/b)^(1/r)). One signature build is shared by all "
    "four configs; candidates come from per-config banded equi-joins "
    "(never all-pairs), and the Jaccard refine runs once over the "
    "distinct union of candidates, so adding configs costs band keys, "
    "not corpus passes. Measured at sf0.1: the 6x2 config trades 27% "
    "precision for +0 recall on this corpus — exactly the answer the "
    "report exists to give.",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {_D_SHINGLES} AS sh FROM documents),
        sg AS (
            SELECT doc_id, sh, {_D_SIG} AS sig
            FROM (SELECT doc_id, sh, {_D_HS} AS hs FROM d)),
        cfg AS (SELECT * FROM (VALUES
                {", ".join(f"({c}, {b}, {r})" for c, b, r in _TUNE_CFGS)})
                c(config_id, n_bands, rows_per_band)),
        b AS (
            SELECT config_id, doc_id, t.i AS band_idx,
                   md5(array_to_string(
                       sig[t.i*rows_per_band+1
                           : t.i*rows_per_band+rows_per_band],
                       '|')) AS band_key
            FROM sg, cfg,
                 LATERAL (SELECT unnest(range(0, n_bands)) AS i) t),
        cand AS (
            SELECT DISTINCT a.config_id AS config_id,
                   a.doc_id AS doc_a, z.doc_id AS doc_b
            FROM b a JOIN b z
              ON a.config_id = z.config_id AND a.band_idx = z.band_idx
             AND a.band_key = z.band_key AND a.doc_id < z.doc_id),
        pair AS (
            SELECT DISTINCT doc_a, doc_b FROM cand),
        jac AS (
            SELECT pair.doc_a, pair.doc_b,
                   CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                       / CAST(len(list_distinct(list_concat(da.sh, db.sh)))
                              AS DOUBLE) AS jaccard
            FROM pair
            JOIN d da ON pair.doc_a = da.doc_id
            JOIN d db ON pair.doc_b = db.doc_id),
        scored AS (
            SELECT cand.config_id, jac.jaccard
            FROM cand JOIN jac
              ON cand.doc_a = jac.doc_a AND cand.doc_b = jac.doc_b)
        SELECT c.config_id, CAST(c.n_bands AS BIGINT) AS n_bands,
               CAST(c.rows_per_band AS BIGINT) AS rows_per_band,
               CAST(COALESCE(count(s.jaccard), 0) AS BIGINT) AS n_candidates,
               CAST(COALESCE(sum(CASE WHEN s.jaccard >= 0.5
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_good,
               CAST(CASE WHEN count(s.jaccard) = 0 THEN 0
                         ELSE 1000 * sum(CASE WHEN s.jaccard >= 0.5
                                              THEN 1 ELSE 0 END)
                              // count(s.jaccard) END AS BIGINT)
                   AS precision_permille
        FROM cfg c LEFT JOIN scored s USING (config_id)
        GROUP BY c.config_id, c.n_bands, c.rows_per_band
    """,
)
def minhash_band_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    d = docs.selectExpr("doc_id", f"{_SHINGLES} AS sh").localCheckpoint(
        eager=True
    )
    sg = d.selectExpr("doc_id", "sh", f"{_HS} AS hs").selectExpr(
        "doc_id", f"{_SIG} AS sig"
    )
    cfgs = local_table(
        spark, _TUNE_CFGS, "config_id int, n_bands int, rows_per_band int"
    )
    bands = (
        sg.crossJoin(F.broadcast(cfgs))
        .select(
            "config_id",
            "doc_id",
            F.explode(
                F.expr(
                    """transform(sequence(0, n_bands - 1),
                         b -> struct(b AS band_idx,
                                     md5(concat_ws('|', transform(
                                         slice(sig, b*rows_per_band+1,
                                               rows_per_band),
                                         x -> cast(x AS string))))
                                     AS band_key))"""
                )
            ).alias("band"),
        )
        .select("config_id", "doc_id", "band.band_idx", "band.band_key")
    )
    a, z = bands.alias("a"), bands.alias("z")
    cand = (
        a.join(
            z,
            (F.col("a.config_id") == F.col("z.config_id"))
            & (F.col("a.band_idx") == F.col("z.band_idx"))
            & (F.col("a.band_key") == F.col("z.band_key"))
            & (F.col("a.doc_id") < F.col("z.doc_id")),
        )
        .select(
            F.col("a.config_id").alias("config_id"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("z.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pair = cand.select("doc_a", "doc_b").distinct()
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = pair.join(da, "doc_a").join(db, "doc_b").select(
        "doc_a",
        "doc_b",
        (
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double")
        ).alias("jaccard"),
    )
    scored = cand.join(jac, ["doc_a", "doc_b"]).select("config_id", "jaccard")
    good = F.when(F.col("jaccard") >= 0.5, 1).otherwise(0)
    per_cfg = scored.groupBy("config_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(good).alias("n_good"),
    )
    return (
        F.broadcast(cfgs)
        .join(per_cfg, "config_id", "left")
        .select(
            "config_id",
            F.col("n_bands").cast("bigint").alias("n_bands"),
            F.col("rows_per_band").cast("bigint").alias("rows_per_band"),
            F.coalesce("n_candidates", F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.coalesce("n_good", F.lit(0)).cast("bigint").alias("n_good"),
            F.when(
                F.coalesce("n_candidates", F.lit(0)) == 0, F.lit(0)
            )
            .otherwise(
                F.floor(1000 * F.col("n_good") / F.col("n_candidates"))
            )
            .cast("bigint")
            .alias("precision_permille"),
        )
    )


def _minhash_bands_of(side: DataFrame) -> DataFrame:
    """LSH band keys for a (doc_id, sh) frame: the signature split into
    _BANDS md5-hashed row-groups. Module-level (not a closure) because the
    stored band index and every probe batch must band identically — the
    incremental == full-rebuild equivalence rests on it."""
    sg = side.selectExpr("doc_id", f"{_HS} AS hs").selectExpr(
        "doc_id", f"{_SIG} AS sig"
    )
    return sg.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""transform(sequence(0, {_BANDS - 1}),
                      b -> struct(b AS band_idx,
                                  md5(concat_ws('|', transform(
                                      slice(sig, b*{_ROWS}+1, {_ROWS}),
                                      x -> cast(x AS string)))) AS band_key))"""
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")


def minhash_band_index_fingerprint(sf_dir: str) -> str:
    """Generation fingerprint for the stored MinHash band index: the
    documents snapshot stats + every knob the band keys depend on. Bump
    ``version`` if the banding expression itself changes shape."""
    from uk_procurement_data_pipeline_spark import indexes

    return indexes.fingerprint(
        tables={"documents": indexes.table_fingerprint(sf_dir, "documents")},
        params={
            "bands": _BANDS,
            "rows": _ROWS,
            "history": "md5_bucket<80",
            "version": 1,
        },
    )


@register(
    name="minhash_index_probe_incremental",
    survey="D3 J9-pattern E2",
    eager=True,  # fn materializes the stored band index; time it honestly
    doc="Incremental NEAR-dup via a STORED MinHash band index (VERDICT r10 "
    "item 6): at 100 TB near-dedup is never a one-shot batch — the band "
    "table is a maintained artifact, and each arriving batch (md5 "
    "bucket of doc_id >= 80, the incremental_dedup_new_batch split) is "
    "signed ONCE, probed against the index, and appended to it. Here "
    "the history index is materialized to parquet (the stored-artifact "
    "shape, tmpfs-rooted and atexit-reaped like graph_ann_beam's "
    "edge list); probe time signs ONLY the new docs, equi-joins their "
    "band keys against index ∪ new-bands (the append makes new-new "
    "pairs surface through the same probe), and exact-Jaccard-refines "
    "at 0.8 over a candidate-bounded shingle join. Because banding a "
    "doc is independent of every other doc, the incremental result "
    "EQUALS the full rebuild restricted to pairs touching the batch — "
    "the oracle recomputes the union index from scratch, and "
    "tests/test_r11_additions.py pins engine-incremental == "
    "engine-full-rebuild.",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {_D_SHINGLES} AS sh,
                   ({_D_NEW_BUCKET}) >= 80 AS is_new
            FROM documents),
        sg AS (
            SELECT doc_id, is_new, sh, {_D_SIG} AS sig
            FROM (SELECT doc_id, is_new, sh, {_D_HS} AS hs FROM d)),
        b AS (
            SELECT doc_id, is_new, t.i AS band_idx,
                   md5(array_to_string(sig[t.i*{_ROWS}+1 : t.i*{_ROWS}+{_ROWS}],
                                       '|')) AS band_key
            FROM sg, generate_series(0, {_BANDS - 1}) t(i)),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, z.doc_id AS doc_b
            FROM b a JOIN b z
              ON a.band_idx = z.band_idx AND a.band_key = z.band_key
             AND a.doc_id < z.doc_id
            WHERE a.is_new OR z.is_new)
        SELECT doc_a, doc_b, jaccard, pair_type FROM (
            SELECT cand.doc_a, cand.doc_b,
                   CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                       / CAST(len(list_distinct(list_concat(da.sh, db.sh)))
                              AS DOUBLE) AS jaccard,
                   CASE WHEN da.is_new AND db.is_new THEN 'new_new'
                        ELSE 'new_hist' END AS pair_type
            FROM cand
            JOIN d da ON cand.doc_a = da.doc_id
            JOIN d db ON cand.doc_b = db.doc_id)
        WHERE jaccard >= 0.8
    """,
)
def minhash_index_probe_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from uk_procurement_data_pipeline_spark import indexes

    docs = spread(load(spark, sf_dir, "documents"))
    base = docs.selectExpr(
        "doc_id",
        f"({_NEW_BUCKET}) >= 80 AS is_new",
        f"{_SHINGLES} AS sh",
    ).localCheckpoint(eager=True)
    bands_of = _minhash_bands_of

    # The STORED index: history band keys, materialized once per
    # (documents snapshot, band params) generation through the index
    # catalog (r12, VERDICT r11 item 1). The first call in a session pays
    # the build; every later call — bench re-runs, the second probe of
    # index_catalog_reuse — reads the persisted parquet, which is the
    # production serving cost.
    index = indexes.build_or_load(
        spark,
        "minhash_band_index",
        minhash_band_index_fingerprint(sf_dir),
        lambda: bands_of(base.where("NOT is_new")),
    )

    # Probe time: sign ONLY the new batch — checkpointed so the banding
    # subplan runs once even though it feeds both the probe side and the
    # appended target (ADVICE r11: the lazy form signed new docs twice).
    nb = bands_of(base.where("is_new")).localCheckpoint(eager=True)
    probe_target = index.union(nb)  # append = index maintenance
    cand = (
        nb.selectExpr("doc_id AS nid", "band_idx", "band_key")
        .join(
            probe_target.selectExpr("doc_id AS oid", "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .where(F.col("nid") != F.col("oid"))
        .selectExpr(
            "least(nid, oid) AS doc_a", "greatest(nid, oid) AS doc_b"
        )
        .distinct()
    )
    da = base.selectExpr("doc_id AS doc_a", "sh AS sh_a", "is_new AS new_a")
    db = base.selectExpr("doc_id AS doc_b", "sh AS sh_b", "is_new AS new_b")
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            ).alias("jaccard"),
            F.when(F.col("new_a") & F.col("new_b"), "new_new")
            .otherwise("new_hist")
            .alias("pair_type"),
        )
        .where(F.col("jaccard") >= 0.8)
    )


@register(
    name="index_catalog_reuse",
    survey="D3 J9-pattern E4 E5",
    eager=True,  # fn materializes (or catalog-loads) the band index
    doc="Build-once / probe-twice through the index catalog (r12, VERDICT "
    "r11 item 1): the stored MinHash band index is resolved via "
    "indexes.build_or_load under a fingerprint of (documents snapshot, "
    "band params) — the SAME generation minhash_index_probe_incremental "
    "serves from — then probed by two disjoint arrival batches "
    "(md5-bucket [80,90) and [90,100)) against the <80 history. The "
    "second probe's build_or_load call is a pure parquet read: "
    "tests/test_r12_additions.py pins builder invocations == 1 across "
    "both probes plus a repeat end-to-end call. Each probe signs only "
    "its batch, equi-joins band keys against the index, and "
    "exact-Jaccard-refines at 0.8 — the maintained-artifact serving "
    "lifecycle (build / probe / probe / vacuum_stale) the 100 TB "
    "deployment runs daily.",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {_D_SHINGLES} AS sh,
                   ({_D_NEW_BUCKET}) AS bucket
            FROM documents),
        sg AS (
            SELECT doc_id, bucket, sh, {_D_SIG} AS sig
            FROM (SELECT doc_id, bucket, sh, {_D_HS} AS hs FROM d)),
        b AS (
            SELECT doc_id, bucket, t.i AS band_idx,
                   md5(array_to_string(sig[t.i*{_ROWS}+1 : t.i*{_ROWS}+{_ROWS}],
                                       '|')) AS band_key
            FROM sg, generate_series(0, {_BANDS - 1}) t(i)),
        cand AS (
            SELECT DISTINCT
                   CASE WHEN n.bucket >= 90 THEN 'batch_b'
                        ELSE 'batch_a' END AS batch,
                   n.doc_id AS new_doc, h.doc_id AS hist_doc
            FROM b n JOIN b h
              ON n.band_idx = h.band_idx AND n.band_key = h.band_key
            WHERE n.bucket >= 80 AND h.bucket < 80)
        SELECT batch, new_doc, hist_doc, jaccard FROM (
            SELECT cand.batch, cand.new_doc, cand.hist_doc,
                   CAST(len(list_intersect(dn.sh, dh.sh)) AS DOUBLE)
                       / CAST(len(list_distinct(list_concat(dn.sh, dh.sh)))
                              AS DOUBLE) AS jaccard
            FROM cand
            JOIN d dn ON cand.new_doc = dn.doc_id
            JOIN d dh ON cand.hist_doc = dh.doc_id)
        WHERE jaccard >= 0.8
    """,
)
def index_catalog_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark import indexes

    docs = spread(load(spark, sf_dir, "documents"))
    base = docs.selectExpr(
        "doc_id",
        f"({_NEW_BUCKET}) AS bucket",
        f"{_SHINGLES} AS sh",
    ).localCheckpoint(eager=True)
    fp = minhash_band_index_fingerprint(sf_dir)
    da = base.selectExpr("doc_id AS new_doc", "sh AS sh_n")
    db = base.selectExpr("doc_id AS hist_doc", "sh AS sh_h")
    outs = []
    for tag, lo, hi in (("batch_a", 80, 90), ("batch_b", 90, 100)):
        # Both iterations resolve the SAME (name, fingerprint) generation:
        # iteration 1 builds (or, if minhash_index_probe_incremental ran
        # earlier this session, loads), iteration 2 always loads.
        index = indexes.build_or_load(
            spark,
            "minhash_band_index",
            fp,
            lambda: _minhash_bands_of(base.where("bucket < 80")),
        )
        nb = _minhash_bands_of(
            base.where(f"bucket >= {lo} AND bucket < {hi}")
        )
        cand = (
            nb.selectExpr("doc_id AS new_doc", "band_idx", "band_key")
            .join(
                index.selectExpr(
                    "doc_id AS hist_doc", "band_idx", "band_key"
                ),
                ["band_idx", "band_key"],
            )
            .select("new_doc", "hist_doc")
            .distinct()
        )
        outs.append(
            cand.join(da, "new_doc")
            .join(db, "hist_doc")
            .select(
                F.lit(tag).alias("batch"),
                "new_doc",
                "hist_doc",
                (
                    F.size(F.array_intersect("sh_n", "sh_h")).cast("double")
                    / F.size(F.array_union("sh_n", "sh_h")).cast("double")
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= 0.8)
        )
    return outs[0].unionByName(outs[1])


# --- multi-pass sorted-neighborhood blocking (r12) -------------------------
_SNM_W = 3  # neighborhood window: pairs within 3 positions of sort order
# Pass keys: zero-padded so string sort order is identical in both
# engines (ASCII digits), and bounded-domain so the scale-safe rank
# offsets broadcast.
_SNM_KEYS = {
    "seg_nation": (
        "concat(c_mktsegment, '|', lpad(CAST(c_nationkey AS STRING), 3, '0'))",
        "c_mktsegment || '|' || lpad(CAST(c_nationkey AS VARCHAR), 3, '0')",
    ),
    "bal_band": (
        "lpad(CAST(CAST(floor(c_acctbal / 100) AS BIGINT) + 100 AS STRING),"
        " 5, '0')",
        "lpad(CAST(CAST(floor(c_acctbal / 100) AS BIGINT) + 100 AS VARCHAR),"
        " 5, '0')",
    ),
}


@register(
    name="sorted_neighborhood_pairs",
    survey="D3 J6 W1 A7 O2",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="Multi-pass sorted-neighborhood candidate generation (Hernandez & "
    "Stolfo 1995) — the third blocking family in the ER toolkit beside "
    "banded keys (minhash/simhash) and equality blocks "
    "(blocking_quality_report): sort the table by a pass key, slide a "
    f"width-{_SNM_W} window over the SORT ORDER, and emit every pair "
    "within the window — catching near-boundary pairs that equality "
    "blocks split. Two passes (segment|nation key; account-balance "
    "band key) plus their union and intersection, each audited with "
    "candidate count, weak-label agreement (same nation AND segment), "
    "and the reduction ratio against the closed-form n(n-1)/2 — "
    "nothing quadratic materializes. The global sort rank is computed "
    "SCALE-SAFELY: rank within each key class (partitioned window), "
    "then offset by the broadcast count of strictly-smaller keys — "
    "topk.global_rank, no unpartitioned WindowExec; the "
    "window join is the rank + d equi-join for d in 1..w. Pair order "
    "is normalized (ca < cb) so multi-pass set algebra is exact.",
    oracle=f"""
        WITH cust AS (
            SELECT c_custkey, c_nationkey, c_mktsegment,
                   {_SNM_KEYS["seg_nation"][1]} AS k1,
                   {_SNM_KEYS["bal_band"][1]} AS k2
            FROM customer),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM cust),
        r1 AS (
            SELECT c_custkey, c_nationkey, c_mktsegment,
                   row_number() OVER (ORDER BY k1, c_custkey) AS rn
            FROM cust),
        r2 AS (
            SELECT c_custkey, c_nationkey, c_mktsegment,
                   row_number() OVER (ORDER BY k2, c_custkey) AS rn
            FROM cust),
        p1 AS (
            SELECT LEAST(a.c_custkey, b.c_custkey) AS ca,
                   GREATEST(a.c_custkey, b.c_custkey) AS cb,
                   CASE WHEN a.c_nationkey = b.c_nationkey
                         AND a.c_mktsegment = b.c_mktsegment
                        THEN 1 ELSE 0 END AS weak
            FROM r1 a
            JOIN (SELECT unnest(range(1, {_SNM_W + 1})) AS d) o ON true
            JOIN r1 b ON b.rn = a.rn + o.d),
        p2 AS (
            SELECT LEAST(a.c_custkey, b.c_custkey) AS ca,
                   GREATEST(a.c_custkey, b.c_custkey) AS cb,
                   CASE WHEN a.c_nationkey = b.c_nationkey
                         AND a.c_mktsegment = b.c_mktsegment
                        THEN 1 ELSE 0 END AS weak
            FROM r2 a
            JOIN (SELECT unnest(range(1, {_SNM_W + 1})) AS d) o ON true
            JOIN r2 b ON b.rn = a.rn + o.d),
        u AS (
            SELECT ca, cb, MAX(weak) AS weak
            FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
            GROUP BY 1, 2),
        i AS (
            SELECT p1.ca, p1.cb, p1.weak
            FROM (SELECT DISTINCT ca, cb, weak FROM p1) p1
            JOIN (SELECT DISTINCT ca, cb FROM p2) q
              ON q.ca = p1.ca AND q.cb = p1.cb),
        stats AS (
            SELECT 'pass_seg_nation' AS pass,
                   CAST(count(*) AS BIGINT) AS n_candidates,
                   CAST(SUM(weak) AS BIGINT) AS n_weak_agree
            FROM (SELECT DISTINCT ca, cb, weak FROM p1)
            UNION ALL
            SELECT 'pass_bal_band', CAST(count(*) AS BIGINT),
                   CAST(SUM(weak) AS BIGINT)
            FROM (SELECT DISTINCT ca, cb, weak FROM p2)
            UNION ALL
            SELECT 'union', CAST(count(*) AS BIGINT),
                   CAST(SUM(weak) AS BIGINT) FROM u
            UNION ALL
            SELECT 'intersection', CAST(count(*) AS BIGINT),
                   CAST(SUM(weak) AS BIGINT) FROM i)
        SELECT s.pass, s.n_candidates, s.n_weak_agree,
               CAST(floor((1.0 - CAST(s.n_candidates AS DOUBLE)
                           / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE)
                              - 1.0) / 2.0)) * 1000000 + 0.5) AS BIGINT)
                   AS reduction_ratio_micro
        FROM stats s CROSS JOIN tot t
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        f"{_SNM_KEYS['seg_nation'][0]} AS k1",
        f"{_SNM_KEYS['bal_band'][0]} AS k2",
    ).localCheckpoint(eager=True)  # 2 rank passes + total count
    tot = cust.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def pairs(r: DataFrame) -> DataFrame:
        a = r.selectExpr(
            "c_custkey AS a_key",
            "c_nationkey AS a_nat",
            "c_mktsegment AS a_seg",
            f"explode(sequence(1, {_SNM_W})) AS d",
            "rn",
        ).selectExpr("a_key", "a_nat", "a_seg", "rn + d AS rn2")
        b = r.selectExpr(
            "c_custkey AS b_key",
            "c_nationkey AS b_nat",
            "c_mktsegment AS b_seg",
            "rn AS rn2",
        )
        return (
            a.join(b, "rn2")
            .selectExpr(
                "LEAST(a_key, b_key) AS ca",
                "GREATEST(a_key, b_key) AS cb",
                "CASE WHEN a_nat = b_nat AND a_seg = b_seg"
                " THEN 1 ELSE 0 END AS weak",
            )
            .distinct()
        )

    # Scale-safe global rank by (key, custkey): the band is the key class.
    # Each pass feeds both the stats and the set ops, so it is pinned.
    p1, p2 = (
        pairs(global_rank(cust, [k, "c_custkey"])).localCheckpoint(eager=True)
        for k in ("k1", "k2")
    )
    u = (
        p1.unionByName(p2)
        .groupBy("ca", "cb")
        .agg(F.max("weak").alias("weak"))
    )
    i = p1.join(p2.select("ca", "cb"), ["ca", "cb"])

    def stat(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("weak").cast("bigint").alias("n_weak_agree"),
        ).selectExpr(f"'{name}' AS pass", "n_candidates", "n_weak_agree")

    stats = (
        stat(p1, "pass_seg_nation")
        .unionByName(stat(p2, "pass_bal_band"))
        .unionByName(stat(u, "union"))
        .unionByName(stat(i, "intersection"))
    )
    return stats.crossJoin(F.broadcast(tot)).selectExpr(
        "pass",
        "n_candidates",
        "n_weak_agree",
        "CAST(floor((1.0 - CAST(n_candidates AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0))"
        " * 1000000 + 0.5) AS BIGINT) AS reduction_ratio_micro",
    )
