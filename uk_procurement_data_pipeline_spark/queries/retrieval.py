"""Lexical retrieval and language-model quality scoring over documents
([NORTH-STAR] text-analysis / training-data-pipeline surface, beside
queries/tfidf.py and queries/quality.py).

Two operators a 100 TB corpus pipeline runs constantly:

- **BM25 top-k retrieval**: the standard lexical ranking function
  (Robertson/Sparck Jones; the Okapi BM25 formulation with k1=1.2,
  b=0.75), expressed as inverted-index joins — explode to postings,
  tf/df/doc-length aggregates, broadcast corpus stats, per-(query, doc)
  score, windowed top-k. Every shuffle keys on high-cardinality
  (doc_id, term) or term; the query set is a literal broadcast table.
  This is the retrieval half of RAG data curation and of dedup-by-query
  mining, at linear cost in corpus size.

- **Unigram surprisal scoring**: the perplexity-proxy quality filter
  (as in CCNet-style corpus filtering): fit a unigram LM on the corpus
  itself, score each document by its mean token surprisal -ln p(t).
  Documents far above the corpus norm are noise/boilerplate candidates.
  The "model fit" is one hash aggregate; scoring is an equi-join on the
  term — no Python, no driver state.

Cross-engine determinism (same contract as queries/tfidf.py): ln() may
differ in the last ulp between Java's Math.log and libm, so every
per-term score is quantized to integer MICRO units — floor(x*1e6 + 0.5)
as BIGINT — *before* any summation, and per-doc totals are exact BIGINT
sums (order-independent), so partial-aggregation order can never flip a
result. The only double division happens once per output row on
identical operands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uk_procurement_data_pipeline_spark import indexes
from uk_procurement_data_pipeline_spark.catalog import load, local_table
from uk_procurement_data_pipeline_spark.functions.topk import global_rank, top_k_per_group
from uk_procurement_data_pipeline_spark.queries.base import register

_TOP_K = 5
# (query_id, term) pairs — multi-term queries over the corpus vocabulary.
_QUERIES: tuple[tuple[str, str], ...] = (
    ("q_exec", "spark"),
    ("q_exec", "join"),
    ("q_exec", "batch"),
    ("q_scan", "hash"),
    ("q_scan", "scan"),
    ("q_scan", "filter"),
    ("q_stream", "vector"),
    ("q_stream", "window"),
    ("q_stream", "stream"),
)
_QUERY_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _QUERIES)

# BM25 per-term weight in micro units. Written ONCE as SQL and used
# verbatim by both engines so the double expression trees are identical:
# idf is the +1-smoothed Robertson idf, sat the tf saturation with
# length normalization (k1=1.2, b=0.75).
_BM25_MICRO = """
    CAST(floor(
        ln((CAST(n_docs AS DOUBLE) - CAST(df_docs AS DOUBLE) + 0.5)
           / (CAST(df_docs AS DOUBLE) + 0.5) + 1.0)
        * (CAST(tf AS DOUBLE) * 2.2)
        / (CAST(tf AS DOUBLE)
           + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        * 1000000 + 0.5) AS BIGINT)
"""

# Per-term surprisal -ln(c_t / total) in micro units, multiplied by the
# in-doc term frequency AFTER quantization (bigint * bigint, exact).
_SURPRISAL_MICRO = """
    CAST(floor(-ln(CAST(c_t AS DOUBLE) / CAST(total_tokens AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)
"""


@register(
    name="bm25_topk_docs",
    survey="A7 W1 J5 F17 F18",
    doc="BM25 top-5 documents per query: postings from one explode, "
    "tf/df/length hash aggregates, corpus stats as a broadcast 1-row "
    "aggregate, literal query table broadcast onto the term join, "
    "per-term micro-quantized weights summed exactly per (query, doc), "
    "windowed top-5 with doc_id tiebreak. Linear in corpus size; the "
    "only window partitions by query_id (bounded domain).",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM tok GROUP BY doc_id, term),
        dl AS (
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
            FROM tf GROUP BY doc_id),
        dfreq AS (
            SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
        corpus AS (
            SELECT COUNT(*) AS n_docs,
                   AVG(CAST(dl AS DOUBLE)) AS avgdl
            FROM dl),
        qt AS (
            SELECT * FROM (VALUES {_QUERY_VALUES}) AS v(query_id, term)),
        scored AS (
            SELECT qt.query_id, tf.doc_id,
                   CAST(SUM({_BM25_MICRO}) AS BIGINT) AS score_micro,
                   COUNT(*) AS n_terms_hit
            FROM tf
            JOIN qt USING (term)
            JOIN dfreq USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN corpus
            GROUP BY qt.query_id, tf.doc_id)
        SELECT query_id, doc_id, score_micro, n_terms_hit, rnk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY score_micro DESC, doc_id) AS rnk
              FROM scored)
        WHERE rnk <= {_TOP_K}
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # dl/dfreq/corpus all derive from tf, not tok: ONE explode and one
    # (doc_id, term) shuffle feed every statistic (the tf subtree is
    # identical across branches, so its exchange is reused).
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qt = local_table(spark, _QUERIES, "query_id string, term string")
    return _bm25_top_k(
        tf.join(F.broadcast(qt), "term")
        .join(dfreq, "term")
        .join(dl, "doc_id")
        .join(F.broadcast(corpus))
    )


def _bm25_top_k(hits: DataFrame) -> DataFrame:
    """The BM25 serving tail: each (query, doc)'s exact bigint score over
    its matched-term rows ``hits`` (query_id, doc_id and _BM25_MICRO's
    inputs), then each query's top-_TOP_K docs by (score DESC, doc_id)."""
    scored = hits.groupBy("query_id", "doc_id").agg(
        F.sum(F.expr(_BM25_MICRO)).alias("score_micro"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    return top_k_per_group(
        scored, ["query_id"], ["score_micro DESC", "doc_id"], _TOP_K, rank="rnk"
    )


@register(
    name="unigram_surprisal_quality",
    survey="A7 J5 F17 F18 UD4",
    doc="Unigram-LM surprisal scoring (perplexity-proxy quality filter): "
    "corpus token counts are the model (one hash aggregate), each "
    "document's mean token surprisal = exact bigint sum of "
    "tf x micro(-ln p(term)) divided once by its token count. The "
    "term join shuffles on the term key; corpus total is a broadcast "
    "1-row aggregate. At 100 TB the model table is millions of rows — "
    "still an equi-join, never a collect.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM tok GROUP BY doc_id, term),
        lm AS (
            SELECT term, CAST(SUM(tf) AS BIGINT) AS c_t
            FROM tf GROUP BY term),
        corpus AS (
            SELECT CAST(SUM(tf) AS BIGINT) AS total_tokens FROM tf)
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf * {_SURPRISAL_MICRO}) AS BIGINT)
                   AS surprisal_micro_sum,
               CAST(SUM(tf * {_SURPRISAL_MICRO}) AS DOUBLE)
                   / CAST(SUM(tf) AS DOUBLE) AS mean_surprisal_micro
        FROM tf JOIN lm USING (term) CROSS JOIN corpus
        GROUP BY doc_id
    """,
)
def unigram_surprisal_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # Model and normalizer derive from tf (single explode, reused exchange).
    lm = tf.groupBy("term").agg(F.sum("tf").cast("bigint").alias("c_t"))
    corpus = tf.agg(F.sum("tf").cast("bigint").alias("total_tokens"))
    term_micro = F.expr(_SURPRISAL_MICRO)
    return (
        tf.join(lm, "term")
        .join(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * term_micro)
            .cast("bigint")
            .alias("surprisal_micro_sum"),
            (
                F.sum(F.col("tf") * term_micro).cast("double")
                / F.sum("tf").cast("double")
            ).alias("mean_surprisal_micro"),
        )
    )


_PMI_MIN_COUNT = 10
_PMI_TOP = 20

# PMI in micro units: ln( p(ab) / (p(a) p(b)) ) with p from corpus counts.
_PMI_MICRO = """
    CAST(floor(ln((CAST(n_ab AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
                  / ((CAST(n_a AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                     * (CAST(n_b AS DOUBLE) / CAST(n_tokens AS DOUBLE))))
               * 1000000 + 0.5) AS BIGINT)
"""


@register(
    name="pmi_collocations",
    survey="A7 J6 F17 O4",
    doc="Collocation mining by pointwise mutual information: adjacent "
    "token pairs from a positional self-join (pos+1), bigram/unigram "
    "hash-aggs, corpus totals as a broadcast one-row aggregate, PMI "
    "micro-quantized (the ln() contract), count floor 10, global "
    "top-20 with (a, b) tiebreak via TakeOrderedAndProject. The "
    "phrase-detection pass a tokenizer-training pipeline runs over a "
    "corpus; every shuffle keys on tokens or (doc, pos).",
    oracle=f"""
        WITH pos AS (
            SELECT d.doc_id, s.i AS pos,
                   (string_split(d.text, ' '))[s.i] AS word
            FROM documents d,
                 LATERAL (SELECT unnest(range(1,
                              len(string_split(d.text, ' ')) + 1)) AS i) s),
        bi AS (
            SELECT p1.word AS a, p2.word AS b, COUNT(*) AS n_ab
            FROM pos p1 JOIN pos p2
              ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
            GROUP BY p1.word, p2.word),
        uni AS (SELECT word, COUNT(*) AS n_w FROM pos GROUP BY word),
        tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_tokens FROM uni),
        totb AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_bigrams FROM bi),
        scored AS (
            SELECT bi.a, bi.b, bi.n_ab, {_PMI_MICRO} AS pmi_micro
            FROM bi
            JOIN uni ua ON bi.a = ua.word
            JOIN uni ub ON bi.b = ub.word
            CROSS JOIN tot CROSS JOIN totb,
            LATERAL (SELECT ua.n_w AS n_a, ub.n_w AS n_b) x
            WHERE bi.n_ab >= {_PMI_MIN_COUNT})
        SELECT a, b, n_ab, pmi_micro
        FROM scored
        ORDER BY pmi_micro DESC, a, b
        LIMIT {_PMI_TOP}
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pos = docs.selectExpr("doc_id", "posexplode(split(text, ' ')) AS (p, word)")
    p1 = pos.select("doc_id", F.col("p").alias("pos"), F.col("word").alias("a"))
    p2 = pos.select(
        "doc_id", (F.col("p") - 1).alias("pos"), F.col("word").alias("b")
    )
    bi = (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _PMI_MIN_COUNT)
    )
    uni = pos.groupBy("word").agg(F.count(F.lit(1)).alias("n_w"))
    tot = uni.agg(F.sum("n_w").cast("bigint").alias("n_tokens"))
    # totals: bigram denominator over ALL bigrams (computed before the
    # count floor, same as the oracle's bi CTE which floors in `scored`)
    bi_all = (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    totb = bi_all.agg(F.sum("n_ab").cast("bigint").alias("n_bigrams"))
    ua = uni.select(F.col("word").alias("a"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("word").alias("b"), F.col("n_w").alias("n_b"))
    return (
        bi.join(ua, "a")
        .join(ub, "b")
        .join(F.broadcast(tot))
        .join(F.broadcast(totb))
        .select("a", "b", "n_ab", F.expr(_PMI_MICRO).alias("pmi_micro"))
        .orderBy(F.col("pmi_micro").desc(), "a", "b")
        .limit(_PMI_TOP)
    )


@register(
    name="entropy_per_source",
    survey="A7 F17 F28",
    doc="Shannon entropy of each source's token distribution (the "
    "diversity score a mixture designer reads next to size — low "
    "entropy flags templated/boilerplate sources): per-(source, token) "
    "counts, per-source totals, and H = sum c * micro(-ln(c/tot)) / "
    "(tot * 1e6) with the half-up micro-ln contract so the sum is an "
    "exact integer. One (source, token) hash aggregation plus one "
    "per-source rollup — linear shuffle at any corpus size.",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS term
            FROM documents),
        tf AS (
            SELECT source, term, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY source, term),
        tot AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS tot
            FROM tf GROUP BY source),
        terms AS (
            SELECT tf.source, tf.c, tot.tot,
                   CAST(floor(-ln(CAST(tf.c AS DOUBLE)
                                  / CAST(tot.tot AS DOUBLE))
                              * 1000000 + 0.5) AS BIGINT) AS s_micro
            FROM tf JOIN tot ON tf.source = tot.source)
        SELECT source,
               CAST(MAX(tot) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab_size,
               CAST(SUM(c * s_micro) AS BIGINT) AS h_micro_sum,
               CAST(SUM(c * s_micro) AS DOUBLE)
                   / (CAST(MAX(tot) AS DOUBLE) * 1000000.0) AS entropy_nats
        FROM terms GROUP BY source
    """,
)
def entropy_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = tf.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    terms = tf.join(tot, "source").withColumn(
        "s_micro",
        F.expr(
            "CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))"
            " * 1000000 + 0.5) AS BIGINT)"
        ),
    )
    return terms.groupBy("source").agg(
        F.max("tot").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.col("c") * F.col("s_micro")).cast("bigint").alias(
            "h_micro_sum"
        ),
        (
            F.sum(F.col("c") * F.col("s_micro")).cast("double")
            / (F.max("tot").cast("double") * F.lit(1e6))
        ).alias("entropy_nats"),
    )


# Conditional bigram surprisal -ln(c(w1,w2) / c(w1,*)) in micro units.
_BIGRAM_MICRO = (
    "CAST(floor(-ln(CAST(c_big AS DOUBLE) / CAST(c_ctx AS DOUBLE))"
    " * 1000000 + 0.5) AS BIGINT)"
)


@register(
    name="bigram_surprisal_quality",
    survey="A7 J5 F17 F18 W2",
    doc="Bigram-LM surprisal scoring (the conditional upgrade of "
    "unigram_surprisal_quality — the KenLM-shaped perplexity-proxy "
    "filter): corpus bigram counts c(w1,w2) and continuation totals "
    "c(w1,*) are the model, each document's mean conditional "
    "surprisal = exact bigint sum of tf x micro(-ln p(w2|w1)) over "
    "its bigrams divided by its bigram count. Model training is two "
    "hash aggregates over one explode; scoring is one equi-join on "
    "the bigram key — all linear.",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), big AS (
          SELECT d.doc_id, d.t[s.i] AS w1, d.t[s.i + 1] AS w2
          FROM toks d, LATERAL (SELECT unnest(range(1, len(d.t))) AS i) s
        ), tf AS (
          SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
          FROM big GROUP BY doc_id, w1, w2
        ), model AS (
          SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c_big
          FROM tf GROUP BY w1, w2
        ), ctx AS (
          SELECT w1, CAST(SUM(c_big) AS BIGINT) AS c_ctx
          FROM model GROUP BY w1)
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_bigrams,
               CAST(SUM(tf * {_BIGRAM_MICRO}) AS BIGINT)
                   AS surprisal_micro_sum,
               CAST(SUM(tf * {_BIGRAM_MICRO}) AS DOUBLE)
                   / CAST(SUM(tf) AS DOUBLE) AS mean_surprisal_micro
        FROM tf JOIN model USING (w1, w2) JOIN ctx USING (w1)
        GROUP BY doc_id
    """,
)
def bigram_surprisal_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", "split(text, ' ') AS t")
        .selectExpr(
            "doc_id",
            # Guard 1-token docs: sequence(1, 0) DESCENDS in Spark; the
            # oracle's range(1, 1) is empty (the repetition_signals fix).
            "explode(IF(size(t) < 2, array(),"
            " transform(sequence(1, size(t) - 1),"
            " i -> struct(t[i - 1] AS w1, t[i] AS w2)))) AS b",
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    tf = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    model = tf.groupBy("w1", "w2").agg(
        F.sum("tf").cast("bigint").alias("c_big")
    )
    ctx = model.groupBy("w1").agg(F.sum("c_big").cast("bigint").alias("c_ctx"))
    term = F.expr(_BIGRAM_MICRO)
    return (
        tf.join(model, ["w1", "w2"])
        .join(ctx, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("tf") * term).cast("bigint").alias(
                "surprisal_micro_sum"
            ),
            (
                F.sum(F.col("tf") * term).cast("double")
                / F.sum("tf").cast("double")
            ).alias("mean_surprisal_micro"),
        )
    )


@register(
    name="zipf_exponent_fit",
    survey="A7 W1 F28",
    doc="Zipf-law exponent of the corpus word-frequency distribution "
    "(the diagnostic behind tokenizer and vocabulary sizing): words "
    "ranked by (count desc, word) WITHOUT a global sort — rank within "
    "each count value plus broadcast higher-count offsets (topk."
    "global_rank; the band IS the count) — then a log-log OLS of "
    "ln(count) on ln(rank) with both logs milli-quantized, so every "
    "regression moment is an exact bigint (milli keeps the cross "
    "moments under 2^63 out to million-word vocabularies). Slope "
    "lands near -1 on natural corpora.",
    oracle="""
        WITH vocab AS (
          SELECT word, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents)
          GROUP BY word
        ), ranked AS (
          SELECT word, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rnk
          FROM vocab
        ), lg AS (
          SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000 + 0.5)
                      AS BIGINT) AS x,
                 CAST(floor(ln(CAST(c AS DOUBLE)) * 1000 + 0.5)
                      AS BIGINT) AS y
          FROM ranked
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM lg)
        SELECT n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope,
               (CAST(sy AS DOUBLE)
                - (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE))
                  * CAST(sx AS DOUBLE))
               / (CAST(n AS DOUBLE) * 1000.0) AS intercept_ln
        FROM m
    """,
)
def zipf_exponent_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # Banded global rank: the band is the count value itself.
    lg = global_rank(vocab, ["c DESC", "word"], rank="rk").selectExpr(
        "CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS x",
        "CAST(floor(ln(CAST(c AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS y",
    )
    m = lg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    return m.select(
        "n",
        slope.alias("zipf_slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / (F.col("n").cast("double") * F.lit(1000.0))
        ).alias("intercept_ln"),
    )


_COV_TOPK = 64


@register(
    name="vocab_coverage_curve",
    survey="A7 W1 W3 F28",
    doc=f"Vocabulary coverage curve (what fraction of corpus tokens the "
    f"top-k words cover, k <= {_COV_TOPK} — the tokenizer-sizing "
    "diagnostic): banded global rank by topk.global_rank, "
    "cumulative covered tokens as the broadcast higher-count offset "
    "SUM plus a running sum WITHIN the count band (partitioned "
    "window) — no unpartitioned window anywhere, whatever the "
    "vocabulary size.",
    oracle=f"""
        WITH vocab AS (
          SELECT word, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents)
          GROUP BY word
        ), tot AS (
          SELECT CAST(SUM(c) AS BIGINT) AS total FROM vocab
        ), ranked AS (
          SELECT word, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rnk,
                 CAST(SUM(c) OVER (ORDER BY c DESC, word
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum
          FROM vocab)
        SELECT rnk AS rank, word, c AS n_occurrences, cum AS cum_tokens,
               CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
        FROM ranked, tot
        WHERE rnk <= {_COV_TOPK}
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = vocab.agg(F.sum("c").cast("bigint").alias("total"))
    return (
        global_rank(vocab, ["c DESC", "word"], rank="rank", running={"cum_tokens": "c"})
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "word",
            F.col("c").alias("n_occurrences"),
            "cum_tokens",
            (
                F.col("cum_tokens").cast("double") / F.col("total").cast("double")
            ).alias("coverage"),
        )
        .where(F.col("rank") <= _COV_TOPK)
    )


@register(
    name="kl_divergence_sources",
    survey="A7 J5 F28",
    doc="KL divergence of each source's token distribution from the "
    "corpus distribution (the drift/skew score that ranks sources by "
    "how unrepresentative their language is — the companion to "
    "entropy_per_source): per-(source, token) counts joined to corpus "
    "counts, per-term contribution c * micro(ln((c/tot)/(C/T))) as an "
    "exact bigint sum divided once by tot. Smoothing is unnecessary "
    "by construction: every source term exists in the corpus "
    "distribution. Two hash aggregations plus a term-keyed equi-join "
    "— all linear.",
    oracle="""
        WITH tf AS (
            SELECT source, term, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT source, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY source, term),
        stot AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS tot
            FROM tf GROUP BY source),
        corpus AS (
            SELECT term, CAST(SUM(c) AS BIGINT) AS cc FROM tf GROUP BY term),
        ctot AS (
            SELECT CAST(SUM(c) AS BIGINT) AS t FROM tf),
        terms AS (
            SELECT tf.source, tf.c, stot.tot,
                   CAST(floor(ln((CAST(tf.c AS DOUBLE)
                                  / CAST(stot.tot AS DOUBLE))
                                 / (CAST(corpus.cc AS DOUBLE)
                                    / CAST(ctot.t AS DOUBLE)))
                              * 1000000 + 0.5) AS BIGINT) AS r_micro
            FROM tf
            JOIN stot ON tf.source = stot.source
            JOIN corpus ON tf.term = corpus.term
            CROSS JOIN ctot)
        SELECT source,
               CAST(MAX(tot) AS BIGINT) AS n_tokens,
               CAST(SUM(c * r_micro) AS BIGINT) AS kl_micro_sum,
               CAST(SUM(c * r_micro) AS DOUBLE)
                   / (CAST(MAX(tot) AS DOUBLE) * 1000000.0) AS kl_nats
        FROM terms GROUP BY source
    """,
)
def kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    stot = tf.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    corpus = tf.groupBy("term").agg(F.sum("c").cast("bigint").alias("cc"))
    ctot = tf.agg(F.sum("c").cast("bigint").alias("t"))
    terms = (
        tf.join(stot, "source")
        .join(corpus, "term")
        .crossJoin(F.broadcast(ctot))
        .withColumn(
            "r_micro",
            F.expr(
                "CAST(floor(ln((CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))"
                " / (CAST(cc AS DOUBLE) / CAST(t AS DOUBLE)))"
                " * 1000000 + 0.5) AS BIGINT)"
            ),
        )
    )
    return terms.groupBy("source").agg(
        F.max("tot").cast("bigint").alias("n_tokens"),
        F.sum(F.col("c") * F.col("r_micro")).cast("bigint").alias(
            "kl_micro_sum"
        ),
        (
            F.sum(F.col("c") * F.col("r_micro")).cast("double")
            / (F.max("tot").cast("double") * F.lit(1e6))
        ).alias("kl_nats"),
    )


def _nb_scores(spark: SparkSession, sf_dir: str):
    """Shared NB kernel: (scores per (doc, source), truth). Mirrors
    _NB_SCORE_CTES expression-for-expression."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    truth = docs.select("doc_id", F.col("source").alias("true_source"))
    cnt = (
        tf.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("term", "source")
        .agg(F.sum("tf").cast("bigint").alias("c"))
    )
    vocab = tf.select("term").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    stot = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    prior = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    ndocs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    model = (
        vocab.crossJoin(F.broadcast(stot))
        .crossJoin(F.broadcast(vsize))
        .join(cnt, ["term", "source"], "left")
        .selectExpr(
            "term",
            "source",
            "CAST(floor(ln(CAST(COALESCE(c, 0) + 1 AS DOUBLE)"
            " / CAST(tot + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
            " AS w_micro",
        )
    )
    prior_w = (
        prior.crossJoin(F.broadcast(ndocs))
        .selectExpr(
            "source",
            "CAST(floor(ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE))"
            " * 1000000 + 0.5) AS BIGINT) AS prior_micro",
        )
    )
    scores = (
        tf.join(model, "term")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("tf") * F.col("w_micro")).cast("bigint").alias("s"))
        .join(F.broadcast(prior_w), "source")
        .withColumn("score_micro", F.col("s") + F.col("prior_micro"))
    )
    return scores, truth


_NB_SCORE_CTES = """
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY doc_id, term),
        truth AS (
            SELECT doc_id, source AS true_source FROM documents),
        cnt AS (
            SELECT t.term, d.source, CAST(SUM(t.tf) AS BIGINT) AS c
            FROM tf t JOIN documents d USING (doc_id)
            GROUP BY t.term, d.source),
        vocab AS (SELECT DISTINCT term FROM tf),
        vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
        stot AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS tot
            FROM cnt GROUP BY source),
        prior AS (
            SELECT source, CAST(count(*) AS BIGINT) AS nd FROM documents
            GROUP BY source),
        ndocs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        model AS (
            SELECT v.term, s.source,
                   CAST(floor(ln((CAST(COALESCE(cnt.c, 0) + 1 AS DOUBLE))
                                 / CAST(s.tot + vs.v AS DOUBLE))
                              * 1000000 + 0.5) AS BIGINT) AS w_micro
            FROM vocab v
            CROSS JOIN stot s
            CROSS JOIN vsize vs
            LEFT JOIN cnt ON cnt.term = v.term AND cnt.source = s.source),
        scores AS (
            SELECT tf.doc_id, m.source,
                   CAST(SUM(tf.tf * m.w_micro) AS BIGINT)
                   + (SELECT CAST(floor(ln(CAST(p.nd AS DOUBLE)
                                           / CAST(n.n AS DOUBLE))
                                        * 1000000 + 0.5) AS BIGINT)
                      FROM prior p, ndocs n WHERE p.source = m.source)
                       AS score_micro
            FROM tf JOIN model m USING (term)
            GROUP BY tf.doc_id, m.source)"""


@register(
    name="naive_bayes_source_classifier",
    survey="A7 J5 J6 W1 F28",
    doc="Multinomial Naive Bayes trained AND evaluated in-engine (the "
    "classic text classifier as pure relational algebra): Laplace-"
    "smoothed token likelihoods per source over the dense vocab x "
    "source grid (two small aggregates cross-joined; at web scale "
    "you keep the sparse table plus a per-source default weight), "
    "log-prior plus per-token micro-ln weights summed as exact "
    "bigints per (doc, source), argmax by (score desc, source) per "
    "doc (a keyed top-1). Reports each document's predicted vs "
    "true source — the self-classification confusion signal.",
    oracle="WITH" + _NB_SCORE_CTES + """,
        best AS (
            SELECT doc_id, source AS predicted_source, score_micro,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score_micro DESC, source)
                       AS rn
            FROM scores)
        SELECT b.doc_id, t.true_source, b.predicted_source,
               b.score_micro AS best_score_micro,
               (b.predicted_source = t.true_source) AS is_correct
        FROM best b JOIN truth t USING (doc_id)
        WHERE b.rn = 1
    """,
)
def naive_bayes_source_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores, truth = _nb_scores(spark, sf_dir)
    best = top_k_per_group(
        scores.select("doc_id", "source", "score_micro"),
        ["doc_id"],
        ["score_micro DESC", "source"],
        1,
    )
    return (
        best.join(truth, "doc_id")
        .select(
            "doc_id",
            "true_source",
            F.col("source").alias("predicted_source"),
            F.col("score_micro").alias("best_score_micro"),
            (F.col("source") == F.col("true_source")).alias("is_correct"),
        )
    )


@register(
    name="source_vocab_jaccard",
    survey="A8 J6 A7 F28",
    doc="Source-pair vocabulary overlap matrix: Jaccard similarity of "
    "the DISTINCT-word vocabularies of every source pair (the corpus "
    "diagnostic behind domain-mixing decisions - two sources whose "
    "vocabularies nearly coincide contribute less diversity than "
    "their token counts suggest). Vocabularies are (source, term) "
    "distincts, the intersection is a term equi-join restricted to "
    "source_a < source_b, sizes come from one bounded aggregate, and "
    "jaccard = inter / (|a| + |b| - inter) is a single int/int IEEE "
    "division. Shuffles are linear in vocabulary size; the pair "
    "domain is bounded by the (small) source count.",
    oracle="""
        WITH v AS (
            SELECT DISTINCT source, unnest(string_split(text, ' ')) AS term
            FROM documents),
        sizes AS (
            SELECT source, CAST(count(*) AS BIGINT) AS vsz
            FROM v GROUP BY source),
        inter AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS n_inter
            FROM v a JOIN v b
              ON a.term = b.term AND a.source < b.source
            GROUP BY a.source, b.source)
        SELECT i.source_a, i.source_b, sa.vsz AS vocab_a, sb.vsz AS vocab_b,
               i.n_inter,
               CAST(i.n_inter AS DOUBLE)
               / CAST(sa.vsz + sb.vsz - i.n_inter AS DOUBLE) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.source = i.source_a
        JOIN sizes sb ON sb.source = i.source_b
        ORDER BY i.source_a, i.source_b
    """,
)
def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("term"))
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("vsz"))
    a = v.alias("a")
    b = v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sizes.selectExpr("source AS source_a", "vsz AS vocab_a")
    sb = sizes.selectExpr("source AS source_b", "vsz AS vocab_b")
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


_MARGIN_BIN_MICRO = 250_000  # quarter-nat margin bins


@register(
    name="nb_margin_calibration",
    survey="A7 W1 J6 F28",
    doc="Reliability diagram of the Naive Bayes source classifier by "
    "decision margin (the confidence-vs-accuracy audit run before "
    "trusting a learned quality filter at scale): per document the "
    "margin = best minus runner-up log-score (exact micro-nat "
    "BIGINTs from the shared _nb_scores kernel, so no runtime "
    "exp/softmax enters the comparison), binned at quarter-nat "
    "width (capped at bin 9), and per bin the doc count, empirical "
    "accuracy, and mean margin in nats - each a single int/int IEEE "
    "division. A well-calibrated classifier shows accuracy rising "
    "with margin; inversions localize the bins to distrust. One "
    "doc-partitioned window over the bounded source domain plus one "
    "bounded-bin aggregate on top of the NB plan.",
    oracle="WITH" + _NB_SCORE_CTES + f""",
        ranked AS (
            SELECT doc_id, source, score_micro,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score_micro DESC, source)
                       AS rn
            FROM scores),
        top2 AS (
            SELECT doc_id,
                   MAX(CASE WHEN rn = 1 THEN score_micro END) AS s1,
                   MAX(CASE WHEN rn = 2 THEN score_micro END) AS s2,
                   MAX(CASE WHEN rn = 1 THEN source END) AS predicted
            FROM ranked WHERE rn <= 2 GROUP BY doc_id),
        j AS (
            SELECT t.doc_id, t.s1 - t.s2 AS margin_micro,
                   CASE WHEN t.predicted = tr.true_source
                        THEN 1 ELSE 0 END AS ok
            FROM top2 t JOIN truth tr USING (doc_id))
        SELECT LEAST(margin_micro // {_MARGIN_BIN_MICRO}, 9) AS margin_bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(ok) AS BIGINT) AS n_correct,
               CAST(SUM(ok) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS accuracy,
               (CAST(SUM(margin_micro) AS DOUBLE)
                / CAST(count(*) AS DOUBLE)) / 1000000.0 AS mean_margin_nats
        FROM j
        GROUP BY margin_bin
        ORDER BY margin_bin
    """,
)
def nb_margin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores, truth = _nb_scores(spark, sf_dir)
    ranked = top_k_per_group(
        scores, ["doc_id"], ["score_micro DESC", "source"], 2, rank="rn"
    )
    top2 = (
        ranked.groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("score_micro"))).alias("s1"),
            F.max(F.when(F.col("rn") == 2, F.col("score_micro"))).alias("s2"),
            F.max(F.when(F.col("rn") == 1, F.col("source"))).alias("predicted"),
        )
    )
    j = top2.join(truth, "doc_id").select(
        (F.col("s1") - F.col("s2")).alias("margin_micro"),
        F.when(F.col("predicted") == F.col("true_source"), 1).otherwise(0).alias("ok"),
    )
    return (
        j.groupBy(
            F.least(
                F.expr(f"margin_micro div {_MARGIN_BIN_MICRO}"), F.lit(9).cast("bigint")
            ).alias("margin_bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ok").cast("bigint").alias("n_correct"),
            (F.sum("ok").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "accuracy"
            ),
            (
                (F.sum("margin_micro").cast("double") / F.count(F.lit(1)).cast("double"))
                / F.lit(1000000.0)
            ).alias("mean_margin_nats"),
        )
        .orderBy("margin_bin")
    )


@register(
    name="distinctive_terms_log_odds",
    survey="A7 W1 J5 F28",
    doc="Distinctive vocabulary per source by Dirichlet-smoothed "
    "log-odds z-score (Monroe et al. 2008 'Fightin' Words' - the "
    "principled replacement for raw tf ratios when comparing a "
    "subcorpus against the rest): per (source, term), delta = "
    "ln((y+a)/(n+A-y-a)) - ln((Y+a)/(N+A-Y-a)) against the "
    "complement corpus, variance ~ 1/(y+a) + 1/(Y+a), z = "
    "delta/sqrt(var) quantized to integer micro units (the ln() "
    "contract), top-5 terms per source by (z_micro DESC, term). "
    "Every ln/sqrt input is an exact integer-count expression "
    "(identical operand trees in both engines) and the final window "
    "partitions by the bounded source domain. Counts: one "
    "(source, term) aggregate; complement counts by broadcast "
    "global-term join - linear shuffles only.",
    oracle="""
        WITH st AS (
            SELECT source, term, CAST(count(*) AS BIGINT) AS y
            FROM (SELECT source, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            GROUP BY source, term),
        tot AS (
            SELECT term, CAST(SUM(y) AS BIGINT) AS yg FROM st GROUP BY term),
        ns AS (
            SELECT source, CAST(SUM(y) AS BIGINT) AS n FROM st
            GROUP BY source),
        ng AS (SELECT CAST(SUM(n) AS BIGINT) AS ntot FROM ns),
        scored AS (
            SELECT st.source, st.term, st.y,
                   (ln((CAST(st.y AS DOUBLE) + 0.5)
                       / (CAST(ns.n AS DOUBLE) + 1.0
                          - CAST(st.y AS DOUBLE) - 0.5))
                    - ln((CAST(tot.yg - st.y AS DOUBLE) + 0.5)
                         / (CAST(ng.ntot - ns.n AS DOUBLE) + 1.0
                            - CAST(tot.yg - st.y AS DOUBLE) - 0.5)))
                   / sqrt(1.0 / (CAST(st.y AS DOUBLE) + 0.5)
                          + 1.0 / (CAST(tot.yg - st.y AS DOUBLE) + 0.5))
                       AS zraw
            FROM st
            JOIN tot USING (term)
            JOIN ns ON ns.source = st.source
            CROSS JOIN ng)
        SELECT source, term, y AS n_in_source, z_micro, rk
        FROM (SELECT source, term, y,
                     CAST(floor(zraw * 1000000 + 0.5) AS BIGINT) AS z_micro,
                     row_number() OVER (
                         PARTITION BY source
                         ORDER BY CAST(floor(zraw * 1000000 + 0.5) AS BIGINT)
                                  DESC, term) AS rk
              FROM scored)
        WHERE rk <= 5
        ORDER BY source, rk
    """,
)
def distinctive_terms_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    tot = st.groupBy("term").agg(F.sum("y").cast("bigint").alias("yg"))
    ns = st.groupBy("source").agg(F.sum("y").cast("bigint").alias("n"))
    ng = ns.agg(F.sum("n").cast("bigint").alias("ntot"))
    y = F.col("y").cast("double")
    n = F.col("n").cast("double")
    ycomp = (F.col("yg") - F.col("y")).cast("double")
    ncomp = (F.col("ntot") - F.col("n")).cast("double")
    delta = F.log((y + 0.5) / (n + 1.0 - y - 0.5)) - F.log(
        (ycomp + 0.5) / (ncomp + 1.0 - ycomp - 0.5)
    )
    zraw = delta / F.sqrt(1.0 / (y + 0.5) + 1.0 / (ycomp + 0.5))
    # ln() may differ in the last ulp between engines (module contract):
    # quantize the z-score to integer micro units BEFORE ranking so both
    # the ordering and the emitted value are bit-identical.
    z_micro = F.floor(zraw * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    scored = (
        st.join(tot, "term")
        .join(F.broadcast(ns), "source")
        .join(F.broadcast(ng))
        .select("source", "term", "y", z_micro.alias("z_micro"))
    )
    return (
        top_k_per_group(scored, ["source"], ["z_micro DESC", "term"], 5, rank="rk")
        .select("source", "term", F.col("y").alias("n_in_source"), "z_micro", "rk")
        .orderBy("source", "rk")
    )


@register(
    name="distinct_ngram_diversity",
    survey="A7 A8 F17 F28",
    doc="Distinct-n diversity per source (the self-BLEU-adjacent "
    "repetitiveness metric used to audit generated or scraped "
    "corpora - low distinct-2/3 ratios expose template spam): per "
    "source the total and distinct counts of unigrams, bigrams and "
    "trigrams (n-grams within documents; docs shorter than n "
    "contribute none, IF-guarded against Spark's descending "
    "sequence(1,0) quirk), each ratio one int/int division. One "
    "explode per n plus (source, gram)-keyed aggregates - linear "
    "shuffles on high-cardinality keys.",
    oracle="""
        WITH t AS (
            SELECT source, string_split(text, ' ') AS w FROM documents),
        g1 AS (
            SELECT source, w[f.i] AS g
            FROM t, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) f),
        g2 AS (
            SELECT source, w[f.i] || ' ' || w[f.i + 1] AS g
            FROM t, LATERAL (SELECT unnest(range(1, len(w))) AS i) f),
        g3 AS (
            SELECT source,
                   w[f.i] || ' ' || w[f.i + 1] || ' ' || w[f.i + 2] AS g
            FROM t, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) f),
        s1 AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n1,
                   CAST(count(DISTINCT g) AS BIGINT) AS d1
            FROM g1 GROUP BY source),
        s2 AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n2,
                   CAST(count(DISTINCT g) AS BIGINT) AS d2
            FROM g2 GROUP BY source),
        s3 AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n3,
                   CAST(count(DISTINCT g) AS BIGINT) AS d3
            FROM g3 GROUP BY source)
        SELECT s1.source, n1, d1,
               CAST(d1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS distinct1,
               n2, d2, CAST(d2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS distinct2,
               n3, d3, CAST(d3 AS DOUBLE) / CAST(n3 AS DOUBLE) AS distinct3
        FROM s1 JOIN s2 USING (source) JOIN s3 USING (source)
        ORDER BY s1.source
    """,
)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents").selectExpr(
        "source", "split(text, ' ') AS w"
    )

    def grams(n: int):
        if n == 1:
            return t.select("source", F.explode("w").alias("g"))
        parts = " || ' ' || ".join(f"w[i + {k}]" for k in range(n))
        return t.selectExpr(
            "source",
            f"explode(IF(size(w) < {n}, array(),"
            f" transform(sequence(0, size(w) - {n}),"
            f" i -> {parts}))) AS g",
        )

    out = None
    for n in (1, 2, 3):
        s = grams(n).groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias(f"n{n}"),
            F.countDistinct("g").cast("bigint").alias(f"d{n}"),
        )
        s = s.withColumn(
            f"distinct{n}",
            F.col(f"d{n}").cast("double") / F.col(f"n{n}").cast("double"),
        )
        out = s if out is None else out.join(s, "source")
    return out.select(
        "source",
        "n1", "d1", "distinct1",
        "n2", "d2", "distinct2",
        "n3", "d3", "distinct3",
    ).orderBy("source")


@register(
    name="recommender_hitrate_backtest",
    survey="J6 J7 W1 A7 F15",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="Item-based collaborative-filtering backtest: split orders at "
    "the 3/4 point of the order-date range, build an item-item "
    "co-purchase matrix from the train window (same-order part pairs), "
    "prune it to each part's top-20 co-items, recommend every "
    "customer's top-3 unseen parts by summed co-purchase score, and "
    "measure the hit rate against their test-window purchases. This "
    "composes the retrieval stack end-to-end — temporal split, "
    "candidate generation, per-key pruning, anti-join novelty filter, "
    "top-k with total tiebreaks, evaluation join — the way a "
    "production recommender offline-eval does. Everything is integer "
    "counts and epoch-day arithmetic; the single division is the final "
    "hit rate. Scale shape: pair generation self-joins lineitem on "
    "orderkey (baskets are <=7 lines, so the fan-out is bounded x7); "
    "the top-20-per-part prune caps the per-customer candidate "
    "expansion at 20 x train-basket, and every join is a keyed "
    "equi-join — no cross products anywhere.",
    oracle="""
        WITH bounds AS (
          SELECT CAST(min(CAST(o_orderdate AS DATE)) AS DATE) AS mn,
                 CAST(date_diff('day',
                      CAST(min(CAST(o_orderdate AS DATE)) AS DATE),
                      CAST(max(CAST(o_orderdate AS DATE)) AS DATE))
                   AS BIGINT) AS span
          FROM orders
        ), marked AS (
          SELECT o.o_orderkey, o.o_custkey,
                 CASE WHEN CAST(date_diff('day', b.mn,
                                CAST(o.o_orderdate AS DATE)) AS BIGINT)
                      < (b.span * 3) // 4
                      THEN 1 ELSE 0 END AS is_train
          FROM orders o CROSS JOIN bounds b
        ), basket AS (
          SELECT m.o_orderkey, m.o_custkey, m.is_train,
                 l.l_partkey AS part
          FROM marked m JOIN lineitem l ON m.o_orderkey = l.l_orderkey
          GROUP BY 1, 2, 3, 4
        ), cust_train AS (
          SELECT DISTINCT o_custkey AS cust, part
          FROM basket WHERE is_train = 1
        ), cust_test AS (
          SELECT DISTINCT o_custkey AS cust, part
          FROM basket WHERE is_train = 0
        ), pairs AS (
          SELECT a.part AS p1, b.part AS p2,
                 CAST(count(*) AS BIGINT) AS co
          FROM (SELECT o_orderkey, part FROM basket WHERE is_train = 1) a
          JOIN (SELECT o_orderkey, part FROM basket WHERE is_train = 1) b
            ON a.o_orderkey = b.o_orderkey AND a.part <> b.part
          GROUP BY 1, 2
        ), pruned AS (
          SELECT p1, p2, co FROM (
            SELECT p1, p2, co,
                   row_number() OVER (PARTITION BY p1
                                      ORDER BY co DESC, p2) AS rn
            FROM pairs) t
          WHERE rn <= 20
        ), cand AS (
          SELECT ct.cust, pr.p2 AS part,
                 CAST(SUM(pr.co) AS BIGINT) AS score
          FROM cust_train ct JOIN pruned pr ON ct.part = pr.p1
          WHERE NOT EXISTS (SELECT 1 FROM cust_train s
                            WHERE s.cust = ct.cust AND s.part = pr.p2)
          GROUP BY 1, 2
        ), recs AS (
          SELECT cust, part FROM (
            SELECT cust, part,
                   row_number() OVER (PARTITION BY cust
                                      ORDER BY score DESC, part) AS rn
            FROM cand) t
          WHERE rn <= 3
        ), eval_cust AS (
          SELECT r.cust,
                 MAX(CASE WHEN tt.part IS NOT NULL THEN 1 ELSE 0 END)
                     AS hit
          FROM recs r
          LEFT JOIN cust_test tt
            ON r.cust = tt.cust AND r.part = tt.part
          WHERE r.cust IN (SELECT DISTINCT cust FROM cust_test)
          GROUP BY r.cust
        )
        SELECT CAST(count(*) AS BIGINT) AS n_customers_eval,
               CAST(SUM(hit) AS BIGINT) AS n_hit,
               CAST(SUM(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS hit_rate
        FROM eval_cust
    """,
)
def recommender_hitrate_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("od")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    bounds = orders.agg(
        F.min("od").alias("mn"),
        F.datediff(F.max("od"), F.min("od")).cast("bigint").alias("span"),
    )
    marked = orders.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        "o_custkey",
        F.when(
            F.datediff(F.col("od"), F.col("mn")).cast("bigint")
            < F.expr("span * 3 div 4"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_train"),
    )
    basket = (
        marked.join(li, marked.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey", "is_train", F.col("l_partkey").alias("part"))
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
        # r12 (guide §2.4): basket feeds FOUR consumers (train/test
        # profiles + both pair-join sides); materialize it once. An
        # earlier round had measured checkpoint-vs-recompute as 6.7s vs
        # 5.1s END-TO-END, but that wall included fn-time work the bench
        # did not time; with the spec now eager (fn+action timed
        # together) the checkpointed form measures faster — see
        # OPTIMIZATION_r12.md for the before/after numbers.
        .localCheckpoint(eager=True)
    )
    cust_train = (
        basket.where(F.col("is_train") == 1)
        .select(F.col("o_custkey").alias("cust"), "part")
        .distinct()
    )
    cust_test = (
        basket.where(F.col("is_train") == 0)
        .select(F.col("o_custkey").alias("cust"), "part")
        .distinct()
    )
    train_b = basket.where(F.col("is_train") == 1).select("o_orderkey", "part")
    # r12 (guide §2.3 shuffle fewer bytes): co-purchase counts are
    # symmetric — co(x, y) == co(y, x) == |train orders containing both| —
    # so count each UNORDERED pair once and mirror the aggregated row into
    # both directions with one inline() after the count. The directed
    # (p1, p2, co) table the top-20 prune consumes is row-for-row
    # identical to the old a.part != b.part build.
    # r13 (guide §2.4 remove shuffles outright): the canonical pairs come
    # from per-order sorted part ARRAYS (one groupBy exchange + a map-side
    # two-generator explode) instead of the train_b self-join — the join
    # shuffled both sides by o_orderkey and probed them against each
    # other; the array form pays one exchange and no join. Baskets are
    # <= 7 distinct lines, so no per-row array can grow with SF, and the
    # sorted-array i < j enumeration emits exactly the a.part < b.part
    # pair multiset (basket rows are distinct per (order, part)).
    pairs = (
        train_b.groupBy("o_orderkey")
        .agg(F.array_sort(F.collect_list("part")).alias("ps"))
        .select("ps", F.posexplode("ps").alias("i", "p1"))
        .select(
            "p1",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("p2"),
        )
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .selectExpr(
            "inline(array(struct(p1, p2), struct(p2 AS p1, p1 AS p2)))",
            "co",
        )
    )
    # An aggregate-sliced top-20 measured a wash (OPTIMIZATION_r12.md).
    pruned = top_k_per_group(pairs, ["p1"], ["co DESC", "p2"], 20)
    cand = (
        cust_train.join(pruned, cust_train.part == pruned.p1)
        .select("cust", F.col("p2").alias("cpart"), "co")
        # r12 (guide §2.3 aggregate before you shuffle): sum per
        # (cust, cpart) BEFORE the novelty anti-join — dropping whole
        # groups commutes with the per-group sum, so the anti-join probes
        # one row per candidate instead of every contributing pair, and
        # its join keys reuse the aggregation's partitioning.
        .groupBy("cust", F.col("cpart").alias("part"))
        .agg(F.sum("co").cast("bigint").alias("score"))
        # novelty filter: drop items the customer already bought in train
        .join(
            cust_train,
            ["cust", "part"],
            "left_anti",
        )
    )
    # An aggregate-sliced recs array measured 0.5 s slower (OPTIMIZATION_r12.md).
    recs = top_k_per_group(cand, ["cust"], ["score DESC", "part"], 3).select(
        "cust", "part"
    )
    eval_cust = (
        recs.join(cust_test.select("cust").distinct(), "cust", "left_semi")
        .join(
            cust_test.withColumn("hit_flag", F.lit(1)),
            ["cust", "part"],
            "left",
        )
        .groupBy("cust")
        .agg(F.max(F.coalesce("hit_flag", F.lit(0))).alias("hit"))
    )
    return eval_cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers_eval"),
        F.sum("hit").cast("bigint").alias("n_hit"),
        (F.sum("hit").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "hit_rate"
        ),
    )


@register(
    name="rake_keyphrases",
    survey="A1 A7 J5 W1 F17 O4",
    doc="RAKE keyphrase extraction (Rose et al. 2010) with data-derived "
    "stopwords: the corpus's top-20 tokens by frequency act as phrase "
    "delimiters, candidate phrases are the maximal runs of non-stop "
    "tokens (gaps-and-islands: pos - row_number marks each run) capped "
    "at 4 tokens, word scores are the classic degree/frequency ratio "
    "over candidate-phrase members, and a phrase scores the sum of its "
    "member words. Every score is integer-quantized BEFORE any "
    "ordering ((deg * 1e6) div freq — pure integer division, no libm, "
    "no IEEE sums), so the global top-15 with (score, phrase) tiebreak "
    "is engine-exact. In-run token order is pinned by sort_array over "
    "(pos, word) structs — never a bare collect_list. Scale shape: "
    "shuffles key on doc_id or word only; the stopword list is a "
    "broadcast 20-row table; phrase stats live on the bounded "
    "candidate-phrase domain.",
    oracle="""
        WITH pos AS (
            SELECT d.doc_id, s.i AS pos,
                   (string_split(d.text, ' '))[s.i] AS word
            FROM documents d,
                 LATERAL (SELECT unnest(range(1,
                              len(string_split(d.text, ' ')) + 1)) AS i) s),
        uni AS (SELECT word, CAST(count(*) AS BIGINT) AS n_w
                FROM pos GROUP BY word),
        stop AS (
            SELECT word FROM (
              SELECT word,
                     row_number() OVER (ORDER BY n_w DESC, word) AS rn
              FROM uni) t
            WHERE rn <= 20),
        nonstop AS (
            SELECT p.doc_id, p.pos, p.word,
                   p.pos - row_number() OVER (PARTITION BY p.doc_id
                                              ORDER BY p.pos) AS grp
            FROM pos p
            WHERE p.word NOT IN (SELECT word FROM stop)),
        runs AS (
            SELECT doc_id, grp,
                   string_agg(word, ' ' ORDER BY pos) AS phrase,
                   CAST(count(*) AS BIGINT) AS plen
            FROM nonstop GROUP BY doc_id, grp
            HAVING count(*) <= 4),
        members AS (
            SELECT n.word, r.plen, r.doc_id, r.grp
            FROM nonstop n
            JOIN runs r ON n.doc_id = r.doc_id AND n.grp = r.grp),
        wstats AS (
            SELECT word,
                   (SUM(plen) * 1000000) // count(*) AS score_micro
            FROM members GROUP BY word),
        pscore AS (
            SELECT m.doc_id, m.grp,
                   CAST(SUM(w.score_micro) AS BIGINT) AS phrase_micro
            FROM members m JOIN wstats w ON m.word = w.word
            GROUP BY m.doc_id, m.grp),
        rolled AS (
            SELECT r.phrase,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(MAX(p.phrase_micro) AS BIGINT) AS score_micro
            FROM runs r
            JOIN pscore p ON r.doc_id = p.doc_id AND r.grp = p.grp
            GROUP BY r.phrase)
        SELECT phrase, n_occurrences, score_micro
        FROM rolled
        ORDER BY score_micro DESC, phrase
        LIMIT 15
    """,
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pos = docs.selectExpr(
        "doc_id", "posexplode(split(text, ' ')) AS (pos0, word)"
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    uni = pos.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("n_w"))
    # orderBy+limit -> TakeOrderedAndProject: distributed top-20 even
    # over a web-scale vocabulary (no single-partition window sort).
    stop = uni.orderBy(F.col("n_w").desc(), "word").limit(20).select("word")
    # A window, not top_k_per_group: gaps-and-islands, pos - row_number
    # is constant along each run of consecutive non-stop words.
    nonstop = (
        pos.join(F.broadcast(stop), "word", "left_anti")
        .withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
        )
    )
    runs = (
        nonstop.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.struct("pos", "word"))).word, " "
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
        )
        .where(F.col("plen") <= 4)
    )
    members = nonstop.select("doc_id", "grp", "word").join(
        runs.select("doc_id", "grp", "plen"), ["doc_id", "grp"]
    )
    wstats = members.groupBy("word").agg(
        F.expr("(SUM(plen) * 1000000) div count(*)").alias("score_micro")
    )
    pscore = (
        members.join(wstats, "word")
        .groupBy("doc_id", "grp")
        .agg(F.sum("score_micro").cast("bigint").alias("phrase_micro"))
    )
    rolled = (
        runs.join(pscore, ["doc_id", "grp"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.max("phrase_micro").cast("bigint").alias("score_micro"),
        )
    )
    return rolled.orderBy(F.col("score_micro").desc(), "phrase").limit(15)


@register(
    name="vocab_chao1_richness",
    survey="A7 A8 F17 F28",
    doc="Unseen-vocabulary estimation per source — the curation question "
    "'how much of this domain's vocabulary have we NOT crawled yet': "
    "Chao1 richness D + f1^2/(2*f2) (Chao 1984) from singleton/doubleton "
    "counts, plus the Good-Turing unseen-probability mass f1/N. "
    "Complements vocab_coverage_curve (which ranks SEEN mass) with the "
    "nonparametric estimate of what is missing. Two hash aggs — "
    "(source, word) counts, then frequency-of-frequency — both keyed "
    "and linear; the f1/f2/D terms are exact integers and the two "
    "estimator divisions are single IEEE ops written identically in "
    "both engines (f2=0 guarded to the bias-corrected "
    "f1*(f1-1)/2 form).",
    oracle="""
        WITH wc AS (
          SELECT source, (string_split(text, ' '))[s.i] AS word,
                 CAST(count(*) AS BIGINT) AS c
          FROM documents d,
               LATERAL (SELECT unnest(range(1,
                            len(string_split(d.text, ' ')) + 1)) AS i) s
          GROUP BY 1, 2
        ), stats AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS d_distinct,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS f1,
                 CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS f2
          FROM wc GROUP BY source
        )
        SELECT source, d_distinct, n_tokens, f1, f2,
               CAST(d_distinct AS DOUBLE)
                 + CASE WHEN f2 > 0
                        THEN CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE)
                             / (2.0 * CAST(f2 AS DOUBLE))
                        ELSE CAST(f1 AS DOUBLE)
                             * CAST(f1 - 1 AS DOUBLE) / 2.0
                   END AS chao1,
               CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                   AS good_turing_unseen_mass
        FROM stats
        ORDER BY source
    """,
)
def vocab_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    stats = wc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("d_distinct"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
    )
    return stats.select(
        "source",
        "d_distinct",
        "n_tokens",
        "f1",
        "f2",
        (
            F.col("d_distinct").cast("double")
            + F.when(
                F.col("f2") > 0,
                F.col("f1").cast("double")
                * F.col("f1").cast("double")
                / (F.lit(2.0) * F.col("f2").cast("double")),
            ).otherwise(
                F.col("f1").cast("double")
                * (F.col("f1") - 1).cast("double")
                / F.lit(2.0)
            )
        ).alias("chao1"),
        (F.col("f1").cast("double") / F.col("n_tokens").cast("double")).alias(
            "good_turing_unseen_mass"
        ),
    ).orderBy("source")


@register(
    name="loso_source_influence",
    survey="A7 J5 J6 W1 F28",
    eager=True,  # fn materializes the tf table; time fn+action together (r12)
    doc="Leave-one-source-out data valuation (the Shapley-lite "
    "influence probe an LLM curation pipeline runs to find "
    "distinctive vs redundant sources): for every source s, classify "
    "s's documents' LANGUAGE with a multinomial NB model trained on "
    "the corpus MINUS s, and report the held-out accuracy — sources "
    "whose own docs survive removal are redundant; accuracy craters "
    "mark irreplaceable content. The trick that makes 20 models ONE "
    "pass: minus-s counts are global-minus-per-source DIFFERENCES "
    "(the target_encoding_oof exclusion identity), so no model is "
    "retrained — scoring joins each doc's terms to (global, own-"
    "source) count pairs and derives the excluded weight in place. "
    "ln weights are micro-quantized pre-argmax (the NB contract); "
    "priors are Laplace-smoothed so a lang monopolized by one source "
    "never hits ln(0). Shuffles key on (doc, term), (term, lang), "
    "term, doc, source — all linear with a x5 lang fan-out.",
    oracle="""
        WITH tf AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tfc
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents)
          GROUP BY doc_id, term
        ), truth AS (
          SELECT doc_id, source, lang FROM documents
        ), cg AS (
          SELECT t.term, d.lang, CAST(SUM(t.tfc) AS BIGINT) AS c
          FROM tf t JOIN truth d USING (doc_id)
          GROUP BY 1, 2
        ), cs AS (
          SELECT d.source, t.term, d.lang, CAST(SUM(t.tfc) AS BIGINT) AS c
          FROM tf t JOIN truth d USING (doc_id)
          GROUP BY 1, 2, 3
        ), totg AS (
          SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM cg GROUP BY lang
        ), tots AS (
          SELECT source, lang, CAST(SUM(c) AS BIGINT) AS tot
          FROM cs GROUP BY 1, 2
        ), vs AS (
          SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM tf
        ), langs AS (
          SELECT DISTINCT lang FROM truth
        ), nl AS (
          SELECT CAST(count(*) AS BIGINT) AS l FROM langs
        ), ndg AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS nd FROM truth
          GROUP BY lang
        ), nds AS (
          SELECT source, lang, CAST(count(*) AS BIGINT) AS nd FROM truth
          GROUP BY 1, 2
        ), ntot AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM truth
        ), nsrc AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n FROM truth
          GROUP BY source
        ), term_scores AS (
          SELECT t.doc_id, d.source, l.lang,
                 CAST(SUM(t.tfc * CAST(floor(ln(
                       CAST(COALESCE(g.c, 0) - COALESCE(s.c, 0) + 1
                            AS DOUBLE)
                       / CAST(tg.tot - COALESCE(ts.tot, 0) + v.v
                              AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
                   AS BIGINT) AS tscore
          FROM tf t
          JOIN truth d USING (doc_id)
          CROSS JOIN langs l
          CROSS JOIN vs v
          LEFT JOIN cg g ON g.term = t.term AND g.lang = l.lang
          LEFT JOIN cs s ON s.source = d.source AND s.term = t.term
                        AND s.lang = l.lang
          JOIN totg tg ON tg.lang = l.lang
          LEFT JOIN tots ts ON ts.source = d.source AND ts.lang = l.lang
          GROUP BY 1, 2, 3
        ), scores AS (
          SELECT t.doc_id, t.source, t.lang,
                 t.tscore + CAST(floor(ln(
                       CAST(COALESCE(g.nd, 0) - COALESCE(s.nd, 0) + 1
                            AS DOUBLE)
                       / CAST(n.n - ns.n + l2.l AS DOUBLE))
                     * 1000000 + 0.5) AS BIGINT) AS score_micro
          FROM term_scores t
          LEFT JOIN ndg g ON g.lang = t.lang
          LEFT JOIN nds s ON s.source = t.source AND s.lang = t.lang
          JOIN nsrc ns ON ns.source = t.source
          CROSS JOIN ntot n CROSS JOIN nl l2
        ), best AS (
          SELECT doc_id, source, lang AS pred_lang FROM (
            SELECT doc_id, source, lang,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score_micro DESC, lang)
                       AS rn
            FROM scores) t
          WHERE rn = 1
        )
        SELECT b.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN b.pred_lang = tr.lang THEN 1 ELSE 0
                        END) AS BIGINT) AS n_correct_loso,
               CAST(SUM(CASE WHEN b.pred_lang = tr.lang THEN 1 ELSE 0
                        END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS acc_loso
        FROM best b JOIN truth tr USING (doc_id)
        GROUP BY b.source
        ORDER BY b.source
    """,
)
def loso_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tfc"))
        # r12 (guide §2.4): tf feeds FOUR consumers (global counts,
        # per-source counts, vocabulary size, the scoring join) — without
        # a pin the tokenize+aggregate prefix re-executed per consumer.
        # Spec flipped eager so the materialization stays timed.
        .localCheckpoint(eager=True)
    )
    truth = docs.select("doc_id", "source", "lang")
    cg = (
        tf.join(truth, "doc_id")
        .groupBy("term", "lang")
        .agg(F.sum("tfc").cast("bigint").alias("gc"))
    )
    cs = (
        tf.join(truth, "doc_id")
        .groupBy("source", "term", "lang")
        .agg(F.sum("tfc").cast("bigint").alias("sc"))
    )
    totg = cg.groupBy("lang").agg(F.sum("gc").cast("bigint").alias("gtot"))
    tots = cs.groupBy("source", "lang").agg(
        F.sum("sc").cast("bigint").alias("stot")
    )
    vs = tf.agg(F.countDistinct("term").cast("bigint").alias("v"))
    langs = truth.select("lang").distinct()
    nl = langs.agg(F.count(F.lit(1)).cast("bigint").alias("l"))
    ndg = truth.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("gnd"))
    nds = truth.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("snd")
    )
    ntot = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    nsrc = truth.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns")
    )
    lg = langs.select(F.col("lang").alias("ml"))
    term_scores = (
        tf.join(truth.select("doc_id", "source"), "doc_id")
        .crossJoin(F.broadcast(lg))
        .crossJoin(F.broadcast(vs))
        .join(
            cg.select(F.col("term").alias("gt"), F.col("lang").alias("gl"), "gc"),
            (F.col("gt") == F.col("term")) & (F.col("gl") == F.col("ml")),
            "left",
        )
        .join(
            cs.select(
                F.col("source").alias("ss"),
                F.col("term").alias("st"),
                F.col("lang").alias("sl"),
                "sc",
            ),
            (F.col("ss") == F.col("source"))
            & (F.col("st") == F.col("term"))
            & (F.col("sl") == F.col("ml")),
            "left",
        )
        .join(
            F.broadcast(totg.select(F.col("lang").alias("tl"), "gtot")),
            F.col("tl") == F.col("ml"),
        )
        .join(
            F.broadcast(
                tots.select(
                    F.col("source").alias("os"), F.col("lang").alias("ol"), "stot"
                )
            ),
            (F.col("os") == F.col("source")) & (F.col("ol") == F.col("ml")),
            "left",
        )
        .groupBy("doc_id", "source", F.col("ml").alias("lang"))
        .agg(
            F.sum(
                F.col("tfc")
                * F.expr(
                    "CAST(floor(ln(CAST(COALESCE(gc, 0) - COALESCE(sc, 0)"
                    " + 1 AS DOUBLE) / CAST(gtot - COALESCE(stot, 0) + v"
                    " AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("tscore")
        )
    )
    scores = (
        term_scores.join(
            F.broadcast(ndg.select(F.col("lang").alias("pl"), "gnd")),
            F.col("pl") == F.col("lang"),
            "left",
        )
        .join(
            F.broadcast(
                nds.select(
                    F.col("source").alias("qs"), F.col("lang").alias("ql"), "snd"
                )
            ),
            (F.col("qs") == F.col("source")) & (F.col("ql") == F.col("lang")),
            "left",
        )
        .join(F.broadcast(nsrc.select(F.col("source").alias("rs"), "ns")),
              F.col("rs") == F.col("source"))
        .crossJoin(F.broadcast(ntot))
        .crossJoin(F.broadcast(nl))
        .select(
            "doc_id",
            "source",
            "lang",
            F.expr(
                "tscore + CAST(floor(ln(CAST(COALESCE(gnd, 0)"
                " - COALESCE(snd, 0) + 1 AS DOUBLE)"
                " / CAST(n - ns + l AS DOUBLE)) * 1000000 + 0.5)"
                " AS BIGINT)"
            ).alias("score_micro"),
        )
    )
    # A window, not top_k_per_group: its k = 1 reduction measured slower
    # here (sf0.1, 4 cores, 10 alternated fresh-process pairs, median
    # (IQR)): 4.78 s (1.78) against this window's 3.94 s (0.44).
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), "lang")
    best = (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", F.col("lang").alias("pred_lang"))
    )
    return (
        best.join(truth.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct_loso"),
            (
                F.sum(
                    F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("acc_loso"),
        )
        .orderBy("source")
    )


@register(
    name="heaps_law_fit",
    survey="A7 A8 J5 F28",
    doc="Heaps'-law fit of vocabulary growth (V = K * N^beta) across "
    "sources — with zipf_exponent_fit and vocab_chao1_richness this "
    "completes the corpus-statistics triad; beta says how fast NEW "
    "vocabulary keeps arriving as a crawl grows, the number that "
    "sizes tokenizer and dedup-table budgets: per source, exact "
    "(n_tokens, n_distinct) counts; ln of each micro-quantized "
    "(floor(ln(x)*1e6+0.5) — the ln contract, quantized BEFORE "
    "summation); then the log-log OLS slope/intercept from integer "
    "micro moments over the bounded 20-source domain in fixed-order "
    "double expressions. Two keyed hash aggs, then constant-size "
    "arithmetic.",
    oracle="""
        WITH wc AS (
          SELECT source, (string_split(text, ' '))[s.i] AS word,
                 CAST(count(*) AS BIGINT) AS c
          FROM documents d,
               LATERAL (SELECT unnest(range(1,
                            len(string_split(d.text, ' ')) + 1)) AS i) s
          GROUP BY 1, 2
        ), pts AS (
          SELECT source,
                 CAST(floor(ln(CAST(SUM(c) AS DOUBLE)) * 1000000 + 0.5)
                      AS BIGINT) AS lnn,
                 CAST(floor(ln(CAST(count(*) AS DOUBLE)) * 1000000
                      + 0.5) AS BIGINT) AS lnv
          FROM wc GROUP BY source
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(SUM(lnn) AS BIGINT) AS sx,
                 CAST(SUM(lnv) AS BIGINT) AS sy,
                 CAST(SUM(lnn * lnn) AS BIGINT) AS sxx,
                 CAST(SUM(lnn * lnv) AS BIGINT) AS sxy
          FROM pts
        )
        SELECT k AS n_sources,
               (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   AS heaps_beta,
               (CAST(sy AS DOUBLE)
                - ((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                  * CAST(sx AS DOUBLE))
               / CAST(k AS DOUBLE) / 1000000.0 AS ln_k_intercept
        FROM m
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pts = wc.groupBy("source").agg(
        F.expr(
            "CAST(floor(ln(CAST(SUM(c) AS DOUBLE)) * 1000000 + 0.5)"
            " AS BIGINT)"
        ).alias("lnn"),
        F.expr(
            "CAST(floor(ln(CAST(count(*) AS DOUBLE)) * 1000000 + 0.5)"
            " AS BIGINT)"
        ).alias("lnv"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("lnn").cast("bigint").alias("sx"),
        F.sum("lnv").cast("bigint").alias("sy"),
        F.sum(F.col("lnn") * F.col("lnn")).cast("bigint").alias("sxx"),
        F.sum(F.col("lnn") * F.col("lnv")).cast("bigint").alias("sxy"),
    )
    slope = (
        "(CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return m.select(
        F.col("k").alias("n_sources"),
        F.expr(slope).alias("heaps_beta"),
        F.expr(
            f"(CAST(sy AS DOUBLE) - ({slope}) * CAST(sx AS DOUBLE))"
            " / CAST(k AS DOUBLE) / 1000000.0"
        ).alias("ln_k_intercept"),
    )


@register(
    name="phrase_search_positional",
    survey="J6 A7 F17 O4",
    doc="Positional-index phrase search — the posting-list mechanic "
    "behind quoted-phrase retrieval: the corpus's most frequent 3-token "
    "phrase (occurrence count over ALL trigram positions, ties broken "
    "lexicographically) is located exactly via a positional postings "
    "join — (term, doc, pos) rows for w1 joined to w2 at pos+1 and w3 "
    "at pos+2 — returning every (doc, pos) occurrence. Finding the top "
    "phrase is one linear shingle count (map-side explode, hash agg, "
    "TakeOrdered(1)); the search side filters postings to the three "
    "phrase terms via a broadcast 1-row join BEFORE the positional "
    "self-joins, so the joins see only matching-term postings — at "
    "100 TB the postings are doc-partitioned and each join is "
    "partition-local after one co-partitioning shuffle.",
    oracle="""
        WITH toks AS (
            SELECT doc_id, i.i AS pos,
                   string_split(text, ' ')[i.i + 1] AS term
            FROM documents,
                 LATERAL (SELECT unnest(range(0, len(string_split(text, ' '))))
                          AS i) i),
        sh AS (
            SELECT a.term AS w1, b.term AS w2, c.term AS w3, count(*) AS n
            FROM toks a
            JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
            GROUP BY 1, 2, 3),
        top1 AS (
            SELECT w1, w2, w3 FROM sh
            ORDER BY n DESC, w1, w2, w3 LIMIT 1)
        SELECT a.doc_id, CAST(a.pos AS BIGINT) AS pos,
               t.w1 || ' ' || t.w2 || ' ' || t.w3 AS phrase
        FROM toks a JOIN top1 t ON a.term = t.w1
        JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                   AND b.term = t.w2
        JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
                   AND c.term = t.w3
    """,
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # r12 optimization (guide §2.4 remove shuffles / §2.3 shuffle fewer
    # bytes): a trigram occurrence at 0-based position p IS the positional
    # postings 3-way join's (doc, p) row — toks[p]=w1, toks[p+1]=w2,
    # toks[p+2]=w3 — so locating the top phrase needs no positional
    # self-join at all. The old plan tokenized documents 4x and shuffled
    # the FULL (doc, pos, term) postings through two sort-merge joins
    # (term_b/term_c only filterable inside the join); this plan explodes
    # positioned trigrams twice (count pass + locate pass) and attaches
    # the 1-row top phrase by broadcast — zero exchanges carry postings.
    # The size>=3 filter guards the unguarded sequence(1, n-2), which for a
    # <3-token doc DESCENDS ([1,0]) and crashes element_at at index 0.
    # posexplode index i0 = (1-based trigram start i) - 1 = the 0-based
    # token position of w1, exactly the old plan's pos_a.
    # arrays_zip(slice(...)) builds the positioned trigrams with O(1)
    # splits per ROW — element_at(split, i) inside the lambda re-split the
    # text per element (O(len^2) per doc; measured 12x slower).
    tri = docs.where("size(split(text, ' ')) >= 3").selectExpr(
        "doc_id",
        "posexplode(arrays_zip("
        " slice(split(text,' '), 1, size(split(text,' ')) - 2),"
        " slice(split(text,' '), 2, size(split(text,' ')) - 2),"
        " slice(split(text,' '), 3, size(split(text,' ')) - 2))) AS (pos, t)",
    ).selectExpr("doc_id", "pos", "t['0'] AS w1", "t['1'] AS w2", "t['2'] AS w3")
    # top phrase: direct trigram occurrence count (NOT distinct — every
    # position counts).
    top1 = (
        tri.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w1", "w2", "w3")
        .limit(1)
        .selectExpr("w1 AS t1", "w2 AS t2", "w3 AS t3")
    )
    return (
        tri.join(
            F.broadcast(top1),
            (F.col("w1") == F.col("t1"))
            & (F.col("w2") == F.col("t2"))
            & (F.col("w3") == F.col("t3")),
        )
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.concat_ws(" ", "w1", "w2", "w3").alias("phrase"),
        )
    )


# (query_id, term) pairs for the CATALOG-SERVED index probe — a separate
# query mix from bm25_topk_docs so the two entries exercise different
# term postings.
_QUERIES_CAT: tuple[tuple[str, str], ...] = (
    ("q_agg", "agg"),
    ("q_agg", "group"),
    ("q_agg", "sum"),
    ("q_sort", "sort"),
    ("q_sort", "order"),
    ("q_sort", "merge"),
    ("q_plan", "query"),
    ("q_plan", "table"),
    ("q_plan", "fast"),
)
_QUERY_VALUES_CAT = ", ".join(f"('{q}', '{t}')" for q, t in _QUERIES_CAT)


def bm25_index_fingerprint(sf_dir: str) -> str:
    """Generation fingerprint for the stored BM25 postings index."""
    return indexes.fingerprint(
        tables={"documents": indexes.table_fingerprint(sf_dir, "documents")},
        params={"layout": "denorm_postings", "version": 1},
    )


@register(
    name="bm25_index_catalog_topk",
    survey="A7 W1 J5 F17 F18 E4",
    eager=True,  # fn materializes (or catalog-loads) the postings index
    doc="BM25 serving off a STORED postings index — the retrieval face "
    "of the index catalog (dedup has the MinHash band index, ANN the "
    "IVFADC lists; search engines ship exactly this artifact): the "
    "postings are DENORMALIZED at build time — (term, doc_id, tf, "
    "df_docs, dl) with per-term document frequency and per-doc length "
    "folded into each posting row — plus a one-row corpus-stats "
    "artifact, both persisted once per documents-snapshot generation "
    "via indexes.build_or_load. Query time is the production serving "
    "plan: broadcast the literal query table onto the STORED postings "
    "(one term equi-join, zero corpus-side joins — df/dl already "
    "travel with the posting), exact micro-quantized BM25 fold, "
    "windowed top-5 per query. Same scoring contract as "
    "bm25_topk_docs (identical _BM25_MICRO SQL in both engines), "
    "different query mix. At 100 TB the postings table shards by "
    "term; a query touches only its terms' postings.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM tok GROUP BY doc_id, term),
        dl AS (
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
            FROM tf GROUP BY doc_id),
        dfreq AS (
            SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
        post AS (
            SELECT tf.term, tf.doc_id, tf.tf, dfreq.df_docs, dl.dl
            FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)),
        corpus AS (
            SELECT COUNT(*) AS n_docs,
                   AVG(CAST(dl AS DOUBLE)) AS avgdl
            FROM dl),
        qt AS (
            SELECT * FROM (VALUES {_QUERY_VALUES_CAT}) AS v(query_id, term)),
        scored AS (
            SELECT qt.query_id, post.doc_id,
                   CAST(SUM({_BM25_MICRO}) AS BIGINT) AS score_micro,
                   COUNT(*) AS n_terms_hit
            FROM post
            JOIN qt USING (term)
            CROSS JOIN corpus
            GROUP BY qt.query_id, post.doc_id)
        SELECT query_id, doc_id, score_micro, n_terms_hit, rnk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY score_micro DESC, doc_id) AS rnk
              FROM scored)
        WHERE rnk <= {_TOP_K}
    """,
)
def bm25_index_catalog_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = bm25_index_fingerprint(sf_dir)

    def build_postings() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        tok = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        tf = tok.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tf")
        )
        dl = tf.groupBy("doc_id").agg(
            F.sum("tf").cast("bigint").alias("dl")
        )
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
        return tf.join(dfreq, "term").join(dl, "doc_id").select(
            "term", "doc_id", "tf", "df_docs", "dl"
        )

    def build_stats() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        tok = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        return (
            tok.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.avg(F.col("dl").cast("double")).alias("avgdl"),
            )
        )

    post = indexes.build_or_load(spark, "bm25_postings", fp, build_postings)
    corpus = indexes.build_or_load(
        spark, "bm25_corpus_stats", fp, build_stats
    )
    qt = local_table(spark, _QUERIES_CAT, "query_id string, term string")
    return _bm25_top_k(
        post.join(F.broadcast(qt), "term").join(F.broadcast(corpus))
    )


# --- incremental BM25 postings maintenance (r12) ---------------------------
# A third query mix again, over terms the other two don't touch.
_QUERIES_INC: tuple[tuple[str, str], ...] = (
    ("q_join", "join"),
    ("q_join", "hash"),
    ("q_join", "scan"),
    ("q_filter", "filter"),
    ("q_filter", "window"),
    ("q_filter", "stream"),
    ("q_vec", "spark"),
    ("q_vec", "vector"),
    ("q_vec", "batch"),
)
_QUERY_VALUES_INC = ", ".join(f"('{q}', '{t}')" for q, t in _QUERIES_INC)
_BM25_INC_MOD = 5  # arrivals: doc_id % 5 == 0 (~20% of the corpus)


def bm25_inc_fingerprint(sf_dir: str) -> str:
    """Generation fingerprint for the INCREMENTAL postings layout. Unlike
    bm25_index_catalog_topk's denormalized rows (df folded into each
    posting — cheap to serve, stale the moment a doc arrives), this
    generation stores NORMALIZED postings + a separate per-term df table
    + integer corpus totals, the layout that admits append-only
    maintenance."""
    return indexes.fingerprint(
        tables={"documents": indexes.table_fingerprint(sf_dir, "documents")},
        params={
            "layout": "norm_postings",
            "split_mod": _BM25_INC_MOD,
            "version": 1,
        },
    )


@register(
    name="bm25_incremental_append",
    survey="A7 W1 J5 U1 F17 F18 E4",
    eager=True,  # fn materializes (or catalog-loads) the stored index
    doc="Append-only maintenance of the stored BM25 index — the retrieval "
    "twin of minhash_index_probe_incremental and "
    "ivfpq_incremental_append, closing the maintained-index trilogy: "
    "the catalog generation holds NORMALIZED postings (term, doc_id, "
    "tf, dl), a separate per-term df table, and integer corpus totals "
    "(n_docs, sum_dl) for the history docs (doc_id % 5 != 0) — the "
    "layout chosen BECAUSE the denormalized serving rows of "
    "bm25_index_catalog_topk go stale on the first arrival (df/avgdl "
    "are corpus-global). The arrival batch (doc_id % 5 == 0) is "
    "tokenized ALONE; its delta postings union onto the stored ones, "
    "per-term df merges by one sum over (stored ∪ delta) term rows, "
    "and the corpus totals add two integers — no history re-scan, no "
    "stored-row rewrites. Serving then broadcasts the query terms "
    "onto the merged postings and scores the exact micro-quantized "
    "BM25 (same _BM25_MICRO text as every other BM25 entry; avgdl "
    "spelled sum_dl/n_docs in BOTH engines), windowed top-5. The "
    "oracle recomputes full-corpus BM25 from scratch, so the checked "
    "claim is incremental-equals-rebuild. At 100 TB: the delta pass "
    "is proportional to the arrival batch, the df merge shuffles "
    "only the delta's terms, and the postings stay sharded by term.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM tok GROUP BY doc_id, term),
        dl AS (
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
            FROM tf GROUP BY doc_id),
        dfreq AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs
            FROM tf GROUP BY term),
        post AS (
            SELECT tf.term, tf.doc_id, tf.tf, dfreq.df_docs, dl.dl
            FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)),
        corpus AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       AS avgdl
            FROM dl),
        qt AS (
            SELECT * FROM (VALUES {_QUERY_VALUES_INC}) AS v(query_id, term)),
        scored AS (
            SELECT qt.query_id, post.doc_id,
                   CAST(SUM({_BM25_MICRO}) AS BIGINT) AS score_micro,
                   CAST(COUNT(*) AS BIGINT) AS n_terms_hit
            FROM post
            JOIN qt USING (term)
            CROSS JOIN corpus
            GROUP BY qt.query_id, post.doc_id)
        SELECT query_id, doc_id, score_micro, n_terms_hit, rnk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY score_micro DESC, doc_id) AS rnk
              FROM scored)
        WHERE rnk <= {_TOP_K}
    """,
)
def bm25_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = bm25_inc_fingerprint(sf_dir)

    def _postings_of(docs: DataFrame) -> DataFrame:
        tok = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
        return tf.join(dl, "doc_id").select("term", "doc_id", "tf", "dl")

    def hist() -> DataFrame:
        return load(spark, sf_dir, "documents").where(
            F.col("doc_id") % _BM25_INC_MOD != 0
        )

    post_h = indexes.build_or_load(
        spark, "bm25inc_postings", fp, lambda: _postings_of(hist())
    )
    termdf_h = indexes.build_or_load(
        spark,
        "bm25inc_termdf",
        fp,
        lambda: _postings_of(hist())
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df_docs")),
    )
    corpus_h = indexes.build_or_load(
        spark,
        "bm25inc_corpus",
        fp,
        lambda: _postings_of(hist())
        .select("doc_id", "dl")
        .distinct()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("sum_dl"),
        ),
    )

    # Delta pass: tokenizes ONLY the arrival batch.
    post_n = _postings_of(
        load(spark, sf_dir, "documents").where(
            F.col("doc_id") % _BM25_INC_MOD == 0
        )
    ).localCheckpoint(eager=True)  # 3 consumers; arrivals signed once
    termdf_n = post_n.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_docs")
    )
    corpus_n = (
        post_n.select("doc_id", "dl")
        .distinct()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("sum_dl"),
        )
    )

    # Merge: union postings; df sums over (stored ∪ delta) term rows;
    # corpus totals add two integers, avgdl is the one float division
    # (identical sum_dl/n_docs spelling in the oracle).
    post = post_h.unionByName(post_n)
    termdf = (
        termdf_h.unionByName(termdf_n)
        .groupBy("term")
        .agg(F.sum("df_docs").cast("bigint").alias("df_docs"))
    )
    corpus = (
        corpus_h.unionByName(corpus_n)
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("sum_dl").cast("bigint").alias("sum_dl"),
        )
        .selectExpr(
            "n_docs",
            "CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl",
        )
    )

    qt = local_table(spark, _QUERIES_INC, "query_id string, term string")
    qdf = termdf.join(F.broadcast(qt), "term")  # df for query terms only
    return _bm25_top_k(
        post.join(F.broadcast(qdf), "term").join(F.broadcast(corpus))
    )


# Kneser-Ney interpolated bigram probability in nano units: absolute
# discount D=0.75 off every seen bigram, mass redistributed through the
# CONTINUATION unigram (in how many distinct contexts does w2 appear)
# rather than the raw unigram — identical literal arithmetic both engines,
# one +0.5-floored quantization.
_KN_NANO = (
    "CAST(floor(((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)"
    " + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)"
    " * CAST(n1b AS DOUBLE) / CAST(t AS DOUBLE))"
    " * 1000000000.0 + 0.5) AS BIGINT)"
)


@register(
    name="kneser_ney_bigram_probs",
    survey="A7 A8 J5 O4 F17",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen & "
    "Goodman 1999's baseline for every n-gram LM since, and the "
    "smoothing inside KenLM's data-quality filters): p(w2|w1) = "
    "max(c(w1,w2)-D, 0)/c(w1) + D*N1+(w1,.)/c(w1) * N1+(.,w2)/T with "
    "D=0.75 — the continuation count N1+(.,w2) (distinct LEFT "
    "contexts) replacing the raw unigram is what distinguishes KN "
    "from the additive/Katz smoothing in bigram_surprisal_quality's "
    "plain MLE model. Every model statistic is an exact integer "
    "(bigram counts, context totals, forward/backward distinct-"
    "continuation counts, bigram-type total); the probability is one "
    "nano-quantized float expression shared verbatim with the oracle. "
    "Emits the top-30 bigrams by smoothed probability (full tiebreak) "
    "with all four underlying counts, so the checked result pins the "
    "entire sufficient statistic, not just the ranking. At 100 TB: "
    "two hash aggs over one bigram explode + two distinct-count aggs, "
    "all linear; top-30 is TakeOrderedAndProject.",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ), big AS (
          SELECT d.tk[s.i] AS w1, d.tk[s.i + 1] AS w2
          FROM toks d, LATERAL (SELECT unnest(range(1, len(d.tk))) AS i) s
        ), c12t AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM big GROUP BY w1, w2
        ), ctx AS (
          SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                 CAST(count(*) AS BIGINT) AS n1f
          FROM c12t GROUP BY w1
        ), back AS (
          SELECT w2, CAST(count(*) AS BIGINT) AS n1b
          FROM c12t GROUP BY w2
        ), tt AS (
          SELECT CAST(count(*) AS BIGINT) AS t FROM c12t
        )
        SELECT w1, w2, c12, c1, n1f, n1b, {_KN_NANO} AS p_kn_nano
        FROM c12t JOIN ctx USING (w1) JOIN back USING (w2) CROSS JOIN tt
        ORDER BY p_kn_nano DESC, w1, w2
        LIMIT 30
    """,
)
def kneser_ney_bigram_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # arrays_zip(slice(...)): O(1) splits per row (see _SHINGLES note in
    # dedup.py — the lambda form re-split the text per element).
    big = docs.where("size(split(text, ' ')) >= 2").selectExpr(
        "explode(arrays_zip("
        " slice(split(text,' '), 1, size(split(text,' ')) - 1),"
        " slice(split(text,' '), 2, size(split(text,' ')) - 1))) AS b"
    ).selectExpr("b['0'] AS w1", "b['1'] AS w2")
    c12t = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .localCheckpoint(eager=True)  # 4 consumers: ctx, back, tt, rows
    )
    ctx = c12t.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"),
    )
    back = c12t.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1b")
    )
    tt = c12t.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    return (
        c12t.join(ctx, "w1")
        .join(back, "w2")
        .crossJoin(F.broadcast(tt))
        .selectExpr(
            "w1", "w2", "c12", "c1", "n1f", "n1b", f"{_KN_NANO} AS p_kn_nano"
        )
        .orderBy(F.col("p_kn_nano").desc(), "w1", "w2")
        .limit(30)
    )


@register(
    name="mrr_retrieval_eval",
    survey="A7 W1 J5 A8 F18",
    doc="Reciprocal-rank / precision@5 evaluation of the BM25 ranker "
    "against a deterministic boolean-AND relevance oracle (a doc is "
    "relevant to a query iff it contains EVERY query term) — the MRR "
    "face of the IR-eval family (recall: ann_recall_report / "
    "pq_recall_report, nDCG: ann_ndcg_report, hitrate: "
    "recommender_hitrate_backtest). Scoring reuses the exact "
    "micro-quantized BM25 contract (_BM25_MICRO verbatim, _QUERIES "
    "mix), ranking is the (score DESC, doc_id) row_number per query, "
    "relevance is an integer distinct-matched-terms == n_terms test "
    "(a contains-all doc always matches every term, so it is always "
    "in the scored set — no lost relevants). Emits per query: "
    "n_relevant, the first relevant rank (-1 when none), nano-"
    "quantized reciprocal rank, and precision@5 numerator — every "
    "column integer except the one rr division. At 100 TB: postings "
    "equi-join + per-query windows over the matched subset only.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM tok GROUP BY doc_id, term),
        dl AS (
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
            FROM tf GROUP BY doc_id),
        dfreq AS (
            SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
        corpus AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       AS avgdl
            FROM dl),
        qt AS (
            SELECT * FROM (VALUES {_QUERY_VALUES}) AS v(query_id, term)),
        qn AS (
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_terms
            FROM qt GROUP BY 1),
        hits AS (
            SELECT qt.query_id, tf.doc_id,
                   CAST(SUM({_BM25_MICRO}) AS BIGINT)
                       AS score_micro,
                   CAST(COUNT(DISTINCT tf.term) AS BIGINT) AS n_matched
            FROM tf
            JOIN qt USING (term)
            JOIN dfreq ON dfreq.term = tf.term
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN corpus
            GROUP BY qt.query_id, tf.doc_id),
        ranked AS (
            SELECT h.query_id, h.doc_id, h.n_matched, q.n_terms,
                   row_number() OVER (PARTITION BY h.query_id
                                      ORDER BY h.score_micro DESC, h.doc_id)
                       AS rnk
            FROM hits h JOIN qn q USING (query_id))
        SELECT query_id,
               CAST(SUM(CASE WHEN n_matched = n_terms THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_relevant,
               CAST(COALESCE(MIN(CASE WHEN n_matched = n_terms
                                      THEN rnk END), -1) AS BIGINT)
                   AS first_rel_rank,
               CAST(CASE WHEN MIN(CASE WHEN n_matched = n_terms
                                       THEN rnk END) IS NULL THEN 0
                    ELSE floor(1000000000.0
                         / CAST(MIN(CASE WHEN n_matched = n_terms
                                         THEN rnk END) AS DOUBLE) + 0.5)
                    END AS BIGINT) AS rr_nano,
               CAST(SUM(CASE WHEN n_matched = n_terms AND rnk <= 5
                             THEN 1 ELSE 0 END) AS BIGINT) AS rel_in_top5
        FROM ranked
        GROUP BY query_id
    """,
)
def mrr_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # r12 optimization (guide §2.3 aggregate/filter before you shuffle):
    # the old plan built the FULL (doc, term) tf table three times (tf,
    # dl-from-tf, full-vocabulary dfreq) when only the query terms' rows
    # ever reach the scorer. dl = SUM(tf) over all terms = the doc's token
    # count = size(split(text)) — one narrow projection, no explode, no
    # agg; tf/df are filtered to the ~9 query terms by a broadcast
    # semi-filter BEFORE their aggregations, so the only (doc, term)
    # aggregation left runs on matching tokens only and dfreq becomes a
    # 9-row broadcast instead of a vocabulary-wide shuffle join.
    dl = docs.selectExpr(
        "doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS dl"
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    qt = local_table(spark, _QUERIES, "query_id string, term string")
    qn = qt.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms")
    )
    qterms = qt.select("term").distinct()
    ftf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = ftf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    hits = (
        ftf.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(corpus))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.expr(_BM25_MICRO)).cast("bigint").alias("score_micro"),
            F.count_distinct("term").cast("bigint").alias("n_matched"),
        )
    )
    # A window, not top_k_per_group: every hit is ranked, because the
    # first relevant rank can fall past any k.
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    ranked = (
        hits.join(F.broadcast(qn), "query_id")
        .withColumn("rnk", F.row_number().over(w))
    )
    return ranked.groupBy("query_id").agg(
        F.expr(
            "CAST(SUM(CASE WHEN n_matched = n_terms THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_relevant"),
        F.expr(
            "CAST(COALESCE(MIN(CASE WHEN n_matched = n_terms THEN rnk END),"
            " -1) AS BIGINT)"
        ).alias("first_rel_rank"),
        F.expr(
            "CAST(CASE WHEN MIN(CASE WHEN n_matched = n_terms THEN rnk END)"
            " IS NULL THEN 0"
            " ELSE floor(1000000000.0"
            " / CAST(MIN(CASE WHEN n_matched = n_terms THEN rnk END)"
            " AS DOUBLE) + 0.5) END AS BIGINT)"
        ).alias("rr_nano"),
        F.expr(
            "CAST(SUM(CASE WHEN n_matched = n_terms AND rnk <= 5"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("rel_in_top5"),
    )
