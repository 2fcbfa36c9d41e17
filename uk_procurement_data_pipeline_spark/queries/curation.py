"""Corpus-curation operators beyond filtering/dedup basics ([NORTH-STAR]
LLM-pipeline surface, round 4 batch 3).

Five operators a production pretraining pipeline runs that the existing
quality/dedup/corpus_prep modules do not yet cover:

* ``gopher_quality_rules`` — the rule-based document FILTER battery
  (Gopher/MassiveText style): word-count bounds, mean-word-length bounds,
  alphabetic-word fraction, stopword presence. Distinct from
  ``repetition_signals`` (signals only) and ``quality_linear_score``
  (learned weights): this is the named-flag boolean gate. Entirely
  map-side higher-order functions — zero shuffle at any corpus size.
* ``bpe_pair_counts`` — the first iteration of BPE tokenizer training:
  corpus-frequency-weighted counts of adjacent character pairs, computed
  over the DISTINCT-word vocabulary (the classic trick: pair explosion is
  O(vocabulary), not O(corpus)).
* ``temperature_mixture_weights`` — UniMax/temperature-sampling source
  weights p_s ∝ n_s^0.5 with a largest-remainder integer allocation of a
  fixed document budget. Micro-quantized sqrt (the ln() contract from
  queries/retrieval.py) keeps every downstream step in exact integer
  arithmetic, so the allocation is bit-identical across engines and
  cluster sizes.
* ``semdedup_prune`` — SemDeDup (Abbas et al. 2023): k-means cells as the
  blocking key, pairwise cosine INSIDE each cell only, keep-first-by-id
  pruning. The cluster assignment is one broadcast join; the pairwise
  stage is quadratic only within a cell, and production sizing K ~
  sqrt(N) keeps cells bounded as the corpus grows.
* ``allpairs_prefix_jaccard`` — the AllPairs/PPJoin prefix-filter
  similarity join on whole-document token sets: order each document's
  tokens by ascending document frequency, emit only the first
  |d| - ceil(t*|d|) + 1 rarest tokens as join keys. Candidate generation
  is an equi-join on single tokens (linear shuffle), correct because two
  sets with Jaccard >= t MUST share a token inside both prefixes.

Reference parity note: the reference repo (qmanhbeo/
uk-procurement-data-pipeline) stops at scrape+flatten (2a/2b); these
operators extend the engine along SURVEY.md §2.13's [NORTH-STAR] axis,
same as queries/dedup.py and queries/corpus_prep.py.

Cross-engine determinism: flags compare in integer cross-multiplied
arithmetic (never a double threshold), dot products and norms are
sequential folds (bit-identical, see queries/similarity.py), sqrt is
IEEE-exact in both engines and micro-quantized before any sum, and every
reported ratio is a single int/int double division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_procurement_data_pipeline_spark.catalog import load
from uk_procurement_data_pipeline_spark.functions.vec import cosine, duck_dot, duck_sqd, norm, sqd
from uk_procurement_data_pipeline_spark.queries.base import register

_T = "split(text, ' ')"  # Spark tokens
_DT = "string_split(text, ' ')"  # DuckDB tokens

# Gopher-style rule constants (public MassiveText filter shapes; bounds
# adapted to the synthetic fixture's short documents, same spirit).
_MIN_WORDS, _MAX_WORDS = 5, 100_000
_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    name="gopher_quality_rules",
    survey="F17 F18 P4 P8 UD4",
    doc="Gopher/MassiveText rule-based document gate: word-count bounds, "
    "mean-word-length in [3,10], >=80% words containing an alphabetic "
    "character, >=2 distinct stopwords present. All four flags and the "
    "combined verdict are computed with integer cross-multiplication "
    "(no double thresholds), from per-document higher-order folds — "
    "a pure map-side projection with zero shuffle at any corpus size.",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, {_DT} AS t FROM documents
        ), m AS (
          SELECT doc_id,
                 CAST(len(t) AS BIGINT) AS n_words,
                 CAST(list_aggregate(list_transform(t, w -> length(w)),
                                     'sum') AS BIGINT) AS sum_word_len,
                 CAST(len(list_filter(t,
                          w -> regexp_matches(w, '[A-Za-z]')))
                      AS BIGINT) AS n_alpha_words,
                 CAST(len(list_filter(list_distinct(t),
                          w -> w IN ({_STOP_SQL})))
                      AS BIGINT) AS n_stop_hits
          FROM t)
        SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stop_hits,
               CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE)
                   AS mean_word_len,
               CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE)
                   AS alpha_frac,
               (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}) AS flag_len,
               (3 * n_words <= sum_word_len
                AND sum_word_len <= 10 * n_words) AS flag_word_len,
               (10 * n_alpha_words >= 8 * n_words) AS flag_alpha,
               (n_stop_hits >= 2) AS flag_stop,
               ((n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
                AND 3 * n_words <= sum_word_len
                AND sum_word_len <= 10 * n_words
                AND 10 * n_alpha_words >= 8 * n_words
                AND n_stop_hits >= 2) AS pass_gopher
        FROM m
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    stop_arr = ", ".join(f"'{w}'" for w in _STOPWORDS)
    m = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"CAST(size({_T}) AS BIGINT) AS n_words",
        f"aggregate({_T}, 0L, (a, w) -> a + length(w)) AS sum_word_len",
        f"CAST(size(filter({_T}, w -> w rlike '[A-Za-z]')) AS BIGINT)"
        " AS n_alpha_words",
        f"CAST(size(array_intersect({_T}, array({stop_arr}))) AS BIGINT)"
        " AS n_stop_hits",
    )
    n, s = F.col("n_words"), F.col("sum_word_len")
    flag_len = (n >= _MIN_WORDS) & (n <= _MAX_WORDS)
    flag_wl = (3 * n <= s) & (s <= 10 * n)
    flag_alpha = 10 * F.col("n_alpha_words") >= 8 * n
    flag_stop = F.col("n_stop_hits") >= 2
    return m.select(
        "doc_id",
        "n_words",
        "sum_word_len",
        "n_alpha_words",
        "n_stop_hits",
        (s.cast("double") / n.cast("double")).alias("mean_word_len"),
        (F.col("n_alpha_words").cast("double") / n.cast("double")).alias(
            "alpha_frac"
        ),
        flag_len.alias("flag_len"),
        flag_wl.alias("flag_word_len"),
        flag_alpha.alias("flag_alpha"),
        flag_stop.alias("flag_stop"),
        (flag_len & flag_wl & flag_alpha & flag_stop).alias("pass_gopher"),
    )


_BPE_TOPK = 20


@register(
    name="bpe_pair_counts",
    survey="A7 A10 F17 O4",
    doc="First BPE tokenizer-training iteration: corpus counts of adjacent "
    "character pairs, weighted by word frequency, top-20 with full "
    "(count desc, pair asc) tiebreak. Pair explosion runs over the "
    "DISTINCT-word vocabulary (one hash agg collapses the corpus "
    "first), so the quadratic-ish character work is O(vocabulary) "
    "however large the corpus; the final top-K is "
    "TakeOrderedAndProject, never a global sort.",
    oracle=f"""
        WITH w AS (
          SELECT word, count(*) AS c
          FROM (SELECT unnest({_DT}) AS word FROM documents)
          GROUP BY word
        ), p AS (
          SELECT substr(w.word, s.i, 2) AS pair, w.c
          FROM w, LATERAL (SELECT unnest(range(1, length(w.word))) AS i) s)
        SELECT pair, CAST(SUM(c) AS BIGINT) AS n_occurrences
        FROM p GROUP BY pair
        ORDER BY n_occurrences DESC, pair
        LIMIT {_BPE_TOPK}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        load(spark, sf_dir, "documents")
        .selectExpr(f"explode({_T}) AS word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = vocab.selectExpr(
        "c",
        # Guard 1-char words: sequence(1, 0) DESCENDS in Spark (would
        # fabricate out-of-range grams); the oracle's range(1, 1) is
        # empty, so emit an empty array to match.
        "explode(IF(length(word) < 2, array(),"
        " transform(sequence(1, length(word) - 1),"
        " i -> substring(word, i, 2)))) AS pair",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(_BPE_TOPK)
    )


_BUDGET = 10_000  # document budget to allocate across sources
_ALPHA_NOTE = "alpha = 0.5 (temperature 2): w_s = sqrt(n_s)"


@register(
    name="temperature_mixture_weights",
    survey="A7 W1 F28 UD4",
    doc="Temperature-based source mixture (UniMax-style, " + _ALPHA_NOTE
    + "): per-source weights micro-quantized from the IEEE-exact sqrt, "
    "then a largest-remainder allocation of a fixed 10k-doc budget in "
    "pure integer arithmetic — bit-identical across engines and "
    "cluster sizes. The per-source table is a one-row-per-source "
    "aggregate; every window below it runs on that bounded domain, "
    "never on corpus-sized data.",
    oracle=f"""
        WITH src AS (
          SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        ), w AS (
          SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)
                      AS BIGINT) AS w_micro
          FROM src
        ), tot AS (
          SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM w
        ), base AS (
          SELECT w.*, tot.tw,
                 ({_BUDGET} * w_micro) // tw AS base_alloc,
                 ({_BUDGET} * w_micro) % tw AS rem
          FROM w, tot
        ), lo AS (
          SELECT CAST({_BUDGET} - SUM(base_alloc) AS BIGINT) AS leftover
          FROM base
        ), r AS (
          SELECT base.*, lo.leftover,
                 ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
          FROM base, lo)
        SELECT source, n_docs, w_micro,
               CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE) AS p_sample,
               CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_docs
        FROM r
    """,
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .selectExpr(
            "source",
            "n_docs",
            "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"
            " AS w_micro",
        )
    )
    tot = w.agg(F.sum("w_micro").cast("bigint").alias("tw"))
    base = w.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_docs",
        "w_micro",
        "tw",
        f"({_BUDGET}L * w_micro) div tw AS base_alloc",
        f"({_BUDGET}L * w_micro) % tw AS rem",
    )
    lo = base.agg(
        (F.lit(_BUDGET).cast("bigint") - F.sum("base_alloc").cast("bigint")).alias(
            "leftover"
        )
    )
    from pyspark.sql import Window

    # Unpartitioned window is safe by construction: input is one row per
    # SOURCE (bounded domain), not per document.
    rk = F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    return (
        base.crossJoin(F.broadcast(lo))
        .withColumn("rk", rk)
        .select(
            "source",
            "n_docs",
            "w_micro",
            (F.col("w_micro").cast("double") / F.col("tw").cast("double")).alias(
                "p_sample"
            ),
            (
                F.col("base_alloc")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc_docs"),
        )
    )


# SemDeDup constants: same deterministic seeding as kmeans_lloyd_cells
# (centroids = vectors with vec_id < K) and the fixture-calibrated cosine
# threshold from queries/dedup.py (embeddings are near-random synthetic).
#
# K is CORPUS-PROPORTIONAL, not fixed: k = max(8, ceil(N / _SEM_CELL)).
# Within-cell pairwise cosine is O(|cell|^2); with fixed k, cells grow
# linearly with the corpus and the verify stage goes quadratic. Targeting
# a bounded expected cell occupancy (_SEM_CELL) makes the verify stage
# O(k * _SEM_CELL^2) = O(N * _SEM_CELL) — linear in the corpus. At the
# test SFs (N = 500..2000) the floor of 8 binds, so results are identical
# to the historical fixed-k baseline; the proportional term takes over
# from N > 2048. At extreme N the centroid set itself outgrows a
# broadcast (~4e7 centroids at 1e10 vectors); there the assignment stage
# hands off to a coarse quantizer (IVF/LSH, similarity.py) — the
# bounded-cell invariant is what this query pins.
_SEM_CELL = 256
_SEM_K_SQL = f"GREATEST(8, CAST(CEIL(count(*) / {_SEM_CELL}.0) AS BIGINT))"
_SEM_COS = 0.4


@register(
    name="semdedup_prune",
    survey="J9 D3 UD4 J7",
    eager=True,  # fn materializes the assignment table; time it honestly
    doc="SemDeDup semantic pruning (Abbas et al. 2023): assign every "
    "vector to its nearest of k deterministic centroids (broadcast "
    "join, sequential-fold squared-L2, tiebreak on centroid id), then "
    "prune any vector whose cell contains an EARLIER vector with "
    "cosine >= 0.4 (keep-first-by-id). k = max(8, ceil(N/256)) is "
    "corpus-proportional so expected cell occupancy stays bounded and "
    "the within-cell pairwise verify is O(N), never quadratic; the "
    "k expression is mirrored in the oracle as a scalar subquery.",
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        c0 AS (
            SELECT vec_id AS cid, v AS cv FROM e
            WHERE vec_id < (SELECT {_SEM_K_SQL} FROM e)),
        d AS (
            SELECT e.vec_id, e.v, c.cid,
                   {duck_sqd('e.v', 'c.cv')} AS d2
            FROM e JOIN c0 c ON TRUE),
        a AS (
            SELECT vec_id, v, cid AS cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM d),
        asg AS (
            SELECT vec_id, v,
                   sqrt({duck_dot('v', 'v')}) AS nrm, cluster
            FROM a WHERE rn = 1),
        pruned AS (
            SELECT DISTINCT b.vec_id
            FROM asg a JOIN asg b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE {duck_dot('a.v', 'b.v')} / (a.nrm * b.nrm)
                      >= {_SEM_COS})
        SELECT asg.vec_id, asg.cluster,
               (pruned.vec_id IS NULL) AS is_kept
        FROM asg LEFT JOIN pruned USING (vec_id)
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    )
    # k = max(8, ceil(N/_SEM_CELL)) computed IN the plan (1-row agg,
    # broadcast) — no driver-side collect, stays declarative so AQE sees
    # the real N at runtime.
    kdf = e.agg(
        F.greatest(
            F.lit(8), F.ceil(F.count("*") / F.lit(_SEM_CELL)).cast("bigint")
        ).alias("sem_k")
    )
    c0 = (
        e.join(F.broadcast(kdf))
        .where(F.col("vec_id") < F.col("sem_k"))
        .selectExpr("vec_id AS cid", "v AS cv")
    )
    # r12 optimization (guide §2.4 remove shuffles): nearest-centroid
    # assignment was a k-way broadcast-join row explosion (N*k rows) +
    # row_number window (a full shuffle+sort keyed on vec_id), and the
    # whole subplan re-executed for each of its three consumers. The
    # argmin over k centroids is a pure per-row function of v, so fold it
    # map-side: collect the k centroids into ONE broadcast array row and
    # take array_min over (d2, cid) structs — struct ordering (d2 ASC,
    # cid ASC) is exactly the old window's ORDER BY d2, cid with rn=1,
    # computed from the identical vec.sqd d2 expression.
    # Zero exchanges, zero row fan-out, and each re-execution is one
    # projection pass.
    cents = c0.agg(
        F.expr("collect_list(struct(cid, cv))").alias("cents")
    )
    d2_fold = sqd("v", "c.cv")
    asg = (
        e.crossJoin(F.broadcast(cents))
        .selectExpr(
            "vec_id",
            "v",
            f"{norm('v')} AS nrm",
            f"array_min(transform(cents,"
            f" c -> struct({d2_fold} AS d2, c.cid AS cid))).cid AS cluster",
        )
        # r12 (guide §5 cut lineage / §2.4): asg feeds THREE consumers —
        # both sides of the within-cell verify join and the final keep
        # readout. The N x k argmin scan is the dominant per-row work here
        # (k grows as N/256), and without materialization the physical
        # plan re-evaluated it for every consumer the exchange-reuse rule
        # could not collapse. Pin it once; the spec is now eager so the
        # bench times this build honestly.
        .localCheckpoint(eager=True)
    )
    a = asg.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), F.col("cluster").alias("ca"),
    )
    b = asg.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), F.col("cluster").alias("cb"),
    )
    cos = F.expr(cosine("va", "vb", "na", "nb"))
    pruned = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("ia") < F.col("ib")))
        .where(cos >= _SEM_COS)
        .select(F.col("ib").alias("vec_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return asg.join(pruned, "vec_id", "left").select(
        "vec_id", "cluster", F.col("hit").isNull().alias("is_kept")
    )


# Jaccard threshold 0.9, as integers. 0.9 (not the 0.7 the n-gram dedup
# uses) because these are DISTINCT-TOKEN sets over a small synthetic
# vocabulary: at 0.7 half the corpus pairs qualify (51k pairs at sf0.01),
# which is a result-size blowup, not a near-dup set. At 0.9 the prefix is
# the rarest ~10% of each document's tokens — low-df join keys, so the
# candidate equi-join stays linear.
_APJ_TAU_NUM, _APJ_TAU_DEN = 9, 10


@register(
    name="allpairs_prefix_jaccard",
    survey="J9 D3 W1 A8",
    doc="AllPairs/PPJoin prefix-filter similarity self-join on "
    "whole-document DISTINCT-token sets at Jaccard >= 0.9: tokens "
    "ranked by ascending document frequency, only each document's "
    "|d| - ceil(0.9|d|) + 1 rarest tokens become join keys (two sets "
    "with Jaccard >= t must share a prefix token), candidates verified "
    "by exact integer set arithmetic (10*inter >= 9*union). Candidate "
    "generation is a single-token equi-join — linear shuffle, "
    "rare-token keys, never all-pairs.",
    oracle=f"""
        WITH tok AS (
          SELECT DISTINCT doc_id, unnest({_DT}) AS token FROM documents
        ), sz AS (
          SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id
        ), df AS (
          SELECT token, count(*) AS df FROM tok GROUP BY token
        ), ranked AS (
          SELECT t.doc_id, t.token, s.len,
                 ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                    ORDER BY d.df, t.token) AS rn
          FROM tok t JOIN df d USING (token) JOIN sz s USING (doc_id)
        ), prefix AS (
          SELECT doc_id, token, len, rn FROM ranked
          WHERE rn <= len - ({_APJ_TAU_NUM} * len + {_APJ_TAU_DEN} - 1)
                               // {_APJ_TAU_DEN} + 1
        ), cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.len AS la, b.len AS lb
          FROM prefix a JOIN prefix b
            ON a.token = b.token AND a.doc_id < b.doc_id
          WHERE {_APJ_TAU_DEN} * a.len >= {_APJ_TAU_NUM} * b.len
            AND {_APJ_TAU_DEN} * b.len >= {_APJ_TAU_NUM} * a.len
            AND least(a.len - a.rn, b.len - b.rn) + 1
                >= ({_APJ_TAU_NUM} * (a.len + b.len)
                    + {_APJ_TAU_NUM + _APJ_TAU_DEN} - 1)
                       // {_APJ_TAU_NUM + _APJ_TAU_DEN}
        ), inter AS (
          SELECT c.doc_a, c.doc_b, c.la, c.lb, count(*) AS n_inter
          FROM cand c
          JOIN tok ta ON ta.doc_id = c.doc_a
          JOIN tok tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
          GROUP BY c.doc_a, c.doc_b, c.la, c.lb)
        SELECT doc_a, doc_b,
               CAST(n_inter AS DOUBLE)
                   / CAST(la + lb - n_inter AS DOUBLE) AS jaccard
        FROM inter
        WHERE {_APJ_TAU_DEN} * n_inter
                  >= {_APJ_TAU_NUM} * (la + lb - n_inter)
    """,
)
def allpairs_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Per-doc distinct-token SET as an array — computed map-side from the
    # text column, no shuffle. The verify stage intersects once per
    # DISTINCT candidate pair (attached after the scalar dedup below); to
    # keep those intersections cheap, each set is ALSO carried as a
    # sorted array of xxhash64 token hashes — primitive-long
    # array_intersect, no per-row string hashing.
    # A hash collision can only miscount if two distinct tokens of the
    # SAME candidate pair collide in 64 bits: ~(100 choose 2) * 2^-64 per
    # pair — vanishing, and the driver's cross-engine hash check would
    # surface it.
    sets = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"array_sort(array_distinct({_T})) AS toks",
        f"CAST(size(array_distinct({_T})) AS BIGINT) AS len",
    ).selectExpr(
        "doc_id",
        "toks",
        "len",
        "array_sort(transform(toks, w -> xxhash64(w))) AS hset",
        # 256-bit hashed set-signature, stored as FOUR long columns so the
        # candidate-stage popcount prune below stays inside whole-stage
        # codegen (an array form would need a CodegenFallback lambda).
        *[
            f"aggregate(transform(toks, w -> xxhash64(w)), 0L,"
            f" (acc, h) -> acc | IF(pmod(h, 256) div 64 = {k},"
            f" shiftleft(1L, CAST(pmod(h, 256) % 64 AS INT)), 0L))"
            f" AS bm{k}"
            for k in range(4)
        ],
    )
    tok = sets.select("doc_id", "len", F.explode("toks").alias("token"))
    df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    prefix = (
        tok.join(df, "token")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "token")
            ),
        )
        .where(
            F.col("rn")
            <= F.col("len")
            - F.expr(
                f"({_APJ_TAU_NUM} * len + {_APJ_TAU_DEN} - 1)"
                f" div {_APJ_TAU_DEN}"
            )
            + 1
        )
        .select("doc_id", "token", "len", "rn")
    )
    # r13 (guide §1.2 step 1): the r11/r12 design computed the hash-set
    # intersection INSIDE the candidate join, once per raw token-match
    # row — the probe breakdown showed that intersect accounting for
    # 4.7 s of the query's 7.9 s (2.27M intersect evaluations for 1.53M
    # distinct candidate pairs; join+prunes without the intersect ran in
    # 1.65 s). Now the join emits SCALARS only (the popcount/positional/
    # length prunes need just the bitmap longs), pairs are deduped on
    # scalars FIRST, and each doc's hset array is attached to the 1.53M
    # DISTINCT pairs by two doc-keyed equi-joins against the |corpus|-row
    # sets table — so the intersect runs exactly once per candidate pair.
    # Measured 7.90 -> 3.64 s at sf0.1. No broadcast hint on the attach
    # joins: at bench SFs the planner auto-broadcasts the sub-threshold
    # sets side; at scale the size gate fails and they degrade to
    # doc-keyed shuffled joins of scalar pair rows — never a forced
    # broadcast of a corpus-scale table. (The r02-era "dedup first" draft
    # that measured 47 s attached arrays to the PRE-prune candidate set,
    # before the popcount/positional prunes existed to shrink it.)
    pa = prefix.join(
        sets.select("doc_id", "bm0", "bm1", "bm2", "bm3"), "doc_id"
    )
    a = pa.selectExpr(
        "doc_id AS doc_a", "token", "len AS la", "rn AS rna",
        "bm0 AS a0", "bm1 AS a1", "bm2 AS a2", "bm3 AS a3",
    )
    b = pa.selectExpr(
        "doc_id AS doc_b", "token", "len AS lb", "rn AS rnb",
        "bm0 AS b0", "bm1 AS b1", "bm2 AS b2", "bm3 AS b3",
    )
    # Required overlap for J >= num/den: inter >= num*(la+lb)/(num+den),
    # as exact integer ceil. PPJoin positional filter: a token shared at
    # positions (rna, rnb) of the two df-ordered lists bounds the overlap
    # by min(la - rna, lb - rnb) + 1 — candidates that cannot reach the
    # required overlap are pruned BEFORE the intersection is computed.
    _req = (
        f"({_APJ_TAU_NUM} * (la + lb) + {_APJ_TAU_NUM + _APJ_TAU_DEN} - 1)"
        f" div {_APJ_TAU_NUM + _APJ_TAU_DEN}"
    )
    scored = (
        a.join(b, ["token"])
        # AllPairs length filter: |a| and |b| within a factor of tau —
        # anything outside cannot reach the threshold, pruned pre-verify.
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (_APJ_TAU_DEN * F.col("la") >= _APJ_TAU_NUM * F.col("lb"))
            & (_APJ_TAU_DEN * F.col("lb") >= _APJ_TAU_NUM * F.col("la"))
            & (
                F.least(
                    F.col("la") - F.col("rna"), F.col("lb") - F.col("rnb")
                )
                + 1
                >= F.expr(_req)
            )
            # Bitmap union prune: popcount(bm_a | bm_b) NEVER exceeds the
            # true union size (distinct signature bits <= distinct
            # tokens), and J >= num/den forces union <= (la+lb)*den/
            # (num+den) — so any pair whose signature popcount already
            # beats that bound is provably below threshold. Pure bitwise
            # ops + bit_count, fully codegen; prunes the hash-set
            # intersection down to near the true result set.
            & (
                (_APJ_TAU_NUM + _APJ_TAU_DEN)
                * (
                    F.bit_count(F.expr("a0 | b0"))
                    + F.bit_count(F.expr("a1 | b1"))
                    + F.bit_count(F.expr("a2 | b2"))
                    + F.bit_count(F.expr("a3 | b3"))
                )
                <= _APJ_TAU_DEN * (F.col("la") + F.col("lb"))
            )
        )
        .select("doc_a", "doc_b", "la", "lb")
    )
    # Dedup on scalars, then attach each side's hset to the DISTINCT pairs
    # and intersect once per pair (see the r13 note above the join build).
    # The Jaccard threshold stays AFTER the intersect projection — an r13
    # attempt to filter it earlier (in the old in-join-verify shape) was
    # measured 13x WORSE (111.6 s vs 8.4 s) even behind a
    # monotonically_increasing_id barrier column: ColumnPruning strips the
    # unused barrier, the then-deterministic projection lets the filter
    # push into the JOIN CONDITION, and the array_intersect lands as the
    # FIRST conjunct, evaluated for every raw token-match row before the
    # cheap prunes.
    cand = scored.groupBy("doc_a", "doc_b").agg(
        F.first("la").alias("la"),
        F.first("lb").alias("lb"),
    )
    hs = sets.select("doc_id", "hset")
    verified = (
        cand.join(hs.selectExpr("doc_id AS doc_a", "hset AS ta"), "doc_a")
        .join(hs.selectExpr("doc_id AS doc_b", "hset AS tb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "la",
            "lb",
            F.size(F.array_intersect("ta", "tb")).cast("bigint").alias(
                "n_inter"
            ),
        )
    )
    return verified.where(
        _APJ_TAU_DEN * F.col("n_inter")
        >= _APJ_TAU_NUM * (F.col("la") + F.col("lb") - F.col("n_inter"))
    ).select(
        "doc_a",
        "doc_b",
        (
            F.col("n_inter").cast("double")
            / (F.col("la") + F.col("lb") - F.col("n_inter")).cast("double")
        ).alias("jaccard"),
    )


def _spec_oracle(name: str) -> str:
    """Oracle SQL of an already-registered query (modules import in
    registry() order, so similarity registers before curation)."""
    from uk_procurement_data_pipeline_spark.queries.base import _REGISTRY

    return _REGISTRY[name].oracle


@register(
    name="ann_recall_report",
    survey="J9 A7 J7 U1",
    doc="ANN quality evaluation in-engine: recall@3 of the sign-bit LSH "
    "index against the exact brute-force top-3, per query and overall "
    "— the measurement loop that tunes bucket bits/probes before "
    "shipping an index. Composes the two REGISTERED operators (the "
    "Spark side literally calls their plans; the oracle embeds their "
    "oracle SQL as subqueries), so the report can never drift from "
    "what the operators actually compute.",
    oracle=f"""
        WITH bf AS (
          SELECT query_id, neighbor_id
          FROM ({_spec_oracle("cosine_topk_bruteforce")}) x
          WHERE rank <= 3
        ), lsh AS (
          SELECT query_id, neighbor_id
          FROM ({_spec_oracle("ann_lsh_bucketed")}) y
          WHERE rank <= 3
        ), hits AS (
          SELECT bf.query_id,
                 CAST(count(lsh.neighbor_id) AS BIGINT) AS n_hits
          FROM bf LEFT JOIN lsh
            ON bf.query_id = lsh.query_id
           AND bf.neighbor_id = lsh.neighbor_id
          GROUP BY bf.query_id)
        SELECT query_id, n_hits,
               CAST(n_hits AS DOUBLE) / 3.0 AS recall_at_3
        FROM hits
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.queries.similarity import (
        ann_lsh_bucketed,
        cosine_topk_bruteforce,
    )

    bf = (
        cosine_topk_bruteforce(spark, sf_dir)
        .where(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    lsh = (
        ann_lsh_bucketed(spark, sf_dir)
        .where(F.col("rank") <= 3)
        .select(
            F.col("query_id").alias("lq"), F.col("neighbor_id").alias("ln")
        )
    )
    return (
        bf.join(
            lsh,
            (F.col("query_id") == F.col("lq"))
            & (F.col("neighbor_id") == F.col("ln")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("ln").cast("bigint").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(3.0)).alias(
                "recall_at_3"
            ),
        )
    )


_ES_N = 8  # duplicate-span gram length (tokens)


@register(
    name="exact_substr_dedup_spans",
    survey="D2 D3 W1 J7 A1 F17",
    doc="ExactSubstr-style duplicate-span removal (Lee et al. 2022, "
    "'Deduplicating Training Data Makes Language Models Better', at "
    "token granularity): every 8-token gram that occurs more than "
    "once in the corpus keeps only its FIRST occurrence in (doc_id, "
    "pos) order; every later occurrence marks its 8 token positions "
    "covered, covered positions are dropped, and the document is "
    "reassembled from the survivors. Grams are md5 keys (the dedup.py "
    "hash family), first-occurrence is one row_number over the gram "
    "key, coverage expansion is a bounded 8-way sequence explode, and "
    "removal is a (doc_id, pos) anti-join - every stage an equi-join "
    "or keyed window, linear shuffle, no driver state. Output pins "
    "the cleaned text via md5 so the whole reconstruction is under "
    "the differential oracle.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_DT} AS t FROM documents),
        pos AS (
            SELECT doc_id, CAST(f.p AS BIGINT) AS p, t[f.p] AS tok,
                   len(t) AS m
            FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS p) f),
        grams AS (
            SELECT doc_id, CAST(f.p AS BIGINT) AS p,
                   md5(array_to_string(t[f.p:f.p + {_ES_N} - 1], ' ')) AS g
            FROM toks,
                 LATERAL (SELECT unnest(range(1, len(t) - {_ES_N} + 2))
                          AS p) f),
        ranked AS (
            SELECT doc_id, p,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY doc_id, p) AS rn
            FROM grams),
        covered AS (
            SELECT DISTINCT r.doc_id, CAST(f.q AS BIGINT) AS p
            FROM ranked r,
                 LATERAL (SELECT unnest(range(r.p, r.p + {_ES_N})) AS q) f
            WHERE r.rn > 1),
        kept AS (
            SELECT pos.doc_id, pos.p, pos.tok, pos.m
            FROM pos LEFT JOIN covered
              ON pos.doc_id = covered.doc_id AND pos.p = covered.p
            WHERE covered.p IS NULL)
        SELECT doc_id,
               CAST(max(m) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_kept,
               CAST(count(*) AS DOUBLE) / CAST(max(m) AS DOUBLE) AS kept_frac,
               md5(string_agg(tok, ' ' ORDER BY p)) AS cleaned_md5
        FROM kept
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def exact_substr_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").selectExpr("doc_id", f"{_T} AS t")
    pos = toks.selectExpr(
        "doc_id",
        "posexplode(t) AS (p0, tok)",
        "size(t) AS m",
    ).selectExpr("doc_id", "CAST(p0 + 1 AS BIGINT) AS p", "tok", "m")
    grams = toks.selectExpr(
        "doc_id",
        # IF-guard: Spark's sequence(1, 0) DESCENDS to [1, 0] (the
        # cdc_chunk_docs quirk), so short docs must short-circuit to an
        # empty gram list exactly like DuckDB's empty range().
        f"posexplode(IF(size(t) < {_ES_N}, array(),"
        f" transform(sequence(1, size(t) - {_ES_N} + 1),"
        f" i -> md5(array_join(slice(t, i, {_ES_N}), ' '))))) AS (p0, g)",
    ).selectExpr("doc_id", "CAST(p0 + 1 AS BIGINT) AS p", "g")
    from pyspark.sql.window import Window

    ranked = grams.select(
        "doc_id",
        "p",
        F.row_number()
        .over(Window.partitionBy("g").orderBy("doc_id", "p"))
        .alias("rn"),
    )
    covered = (
        ranked.where(F.col("rn") > 1)
        .selectExpr("doc_id", f"explode(sequence(p, p + {_ES_N} - 1)) AS p")
        .distinct()
    )
    kept = pos.join(covered, ["doc_id", "p"], "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.max("m").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            (F.count(F.lit(1)).cast("double") / F.max("m").cast("double")).alias(
                "kept_frac"
            ),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("p"), F.col("tok")))
                        ),
                        lambda x: x["tok"],
                    ),
                    " ",
                ).cast("binary")
            ).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )
