"""Training-corpus preparation operators ([NORTH-STAR] LLM-pipeline
surface beyond SURVEY.md §2's row inventory, alongside queries/dedup.py
and queries/similarity.py).

What a 100 TB pretraining-data pipeline runs after dedup/quality:
chunking documents into model-context windows, deterministic
train/validation/test splitting (stratified, reproducible, no RNG state
to ship), and PII scrubbing. All four queries are pure JVM-side
expressions — explode/slice/regexp over the documents table — so each
is linear map-side work with at most one aggregation shuffle, and every
one is oracle-checked against DuckDB.

Cross-engine determinism: the split assignment hashes doc_id through
md5 (identical hex in both engines) instead of each engine's private
hash(); quantiles use the shared (n-1)*p linear-interpolation contract
on integer inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (parity with siblings)

from uk_procurement_data_pipeline_spark.catalog import load, local_table
from uk_procurement_data_pipeline_spark.functions.topk import global_rank
from uk_procurement_data_pipeline_spark.queries.base import register

_TOKENS = "split(text, ' ')"  # Spark tokens
_DTOKENS = "string_split(text, ' ')"  # DuckDB tokens

# Context-window chunking parameters: window of 32 tokens, stride 24
# (8-token overlap) — the standard sliding-window packing shape, scaled
# to the fixture corpus (<=99 tokens/doc). At production sizes only the
# constants change; the plan stays scan -> explode -> project.
_CHUNK, _STRIDE = 32, 24


@register(
    name="doc_chunk_overlap",
    survey="F13 F17 F19 UD4",
    doc="Sliding-window document chunking (training-data packing): token "
    "windows of 32 with stride 24 via explode(sequence(...)) + slice — "
    "linear map-side fan-out, no shuffle; the tail chunk keeps its "
    "natural short length.",
    oracle=f"""
        SELECT d.doc_id,
               s.start // {_STRIDE} AS chunk_idx,
               s.start AS chunk_start,
               len(list_slice({_DTOKENS}, s.start + 1, s.start + {_CHUNK}))
                   AS n_chunk_tokens,
               array_to_string(
                   list_slice({_DTOKENS}, s.start + 1, s.start + {_CHUNK}), ' ')
                   AS chunk_text
        FROM documents d,
             LATERAL (SELECT unnest(range(0, len({_DTOKENS}), {_STRIDE}))
                      AS start) s
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            f"{_TOKENS} AS toks",
            f"explode(sequence(0, size({_TOKENS}) - 1, {_STRIDE})) AS start",
        )
        .selectExpr(
            "doc_id",
            f"CAST(start div {_STRIDE} AS BIGINT) AS chunk_idx",
            "CAST(start AS BIGINT) AS chunk_start",
            f"CAST(size(slice(toks, start + 1, {_CHUNK})) AS BIGINT) AS n_chunk_tokens",
            f"array_join(slice(toks, start + 1, {_CHUNK}), ' ') AS chunk_text",
        )
    )


# Deterministic split assignment: first 8 md5 hex chars of the doc key ->
# int -> percent bucket. Reproducible across engines, languages, and
# re-runs — no RNG seed to persist, rebalancing is a literal change.
_SPARK_BUCKET = (
    "cast(conv(substr(md5(cast(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
)
_DUCK_BUCKET = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
)


@register(
    name="stratified_split_counts",
    survey="A7 F28 UD4",
    doc="Deterministic stratified train/val/test split (80/10/10 by "
    "md5-bucket of doc_id), audited per source stratum: one pass "
    "assigns, one hash-agg shuffle counts docs and tokens per "
    "(source, split). The md5 bucket is engine-portable, so the oracle "
    "pins the exact per-document assignment, not just the rates.",
    oracle=f"""
        SELECT source, split,
               count(*) AS n_docs,
               CAST(sum(len({_DTOKENS})) AS BIGINT) AS n_tokens
        FROM (
          SELECT source, text,
                 CASE WHEN {_DUCK_BUCKET} < 80 THEN 'train'
                      WHEN {_DUCK_BUCKET} < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents
        )
        GROUP BY source, split
    """,
)
def stratified_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .selectExpr(
            "source",
            "text",
            f"CASE WHEN {_SPARK_BUCKET} < 80 THEN 'train'"
            f" WHEN {_SPARK_BUCKET} < 90 THEN 'val'"
            " ELSE 'test' END AS split",
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(f"CAST(sum(size({_TOKENS})) AS BIGINT)").alias("n_tokens"),
        )
    )


@register(
    name="pii_scrub",
    survey="F6 F4 UD4 E2",
    doc="PII scrubbing: mask emails and phone numbers with global "
    "regexp_replace and count redactions per document. PII-bearing text "
    "is constructed deterministically onto each fixture document so the "
    "oracle pins the scrub patterns themselves (both engines replace "
    "ALL matches; patterns avoid escape-sequence dialect differences).",
    oracle="""
        SELECT doc_id,
               regexp_replace(regexp_replace(contact, '[a-z0-9]+@[a-z.]+[a-z]',
                              '[EMAIL]', 'g'), '07[0-9]{9}', '[PHONE]', 'g')
                   AS scrubbed,
               len(regexp_extract_all(contact, '[a-z0-9]+@[a-z.]+[a-z]'))
                   AS n_emails,
               len(regexp_extract_all(contact, '07[0-9]{9}')) AS n_phones
        FROM (
          SELECT doc_id,
                 'doc ' || CAST(doc_id AS VARCHAR) || ' contact user'
                   || CAST(doc_id AS VARCHAR) || '@mail.example.org or user'
                   || CAST(doc_id AS VARCHAR) || '@backup.example.net phone 07'
                   || lpad(CAST(doc_id % 1000000 AS VARCHAR), 9, '0')
                   || ' end' AS contact
          FROM documents
        )
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            "concat('doc ', doc_id, ' contact user', doc_id,"
            " '@mail.example.org or user', doc_id,"
            " '@backup.example.net phone 07',"
            " lpad(CAST(doc_id % 1000000 AS STRING), 9, '0'), ' end') AS contact",
        )
        .selectExpr(
            "doc_id",
            "regexp_replace(regexp_replace(contact, '[a-z0-9]+@[a-z.]+[a-z]',"
            " '[EMAIL]'), '07[0-9]{9}', '[PHONE]') AS scrubbed",
            "CAST(regexp_count(contact, '[a-z0-9]+@[a-z.]+[a-z]') AS BIGINT)"
            " AS n_emails",
            "CAST(regexp_count(contact, '07[0-9]{9}') AS BIGINT) AS n_phones",
        )
    )


@register(
    name="token_quantiles_per_source",
    survey="A7 UD4",
    doc="Exact length quantiles per source stratum (corpus length-"
    "profile audit): p25/p50/p75/p90 of per-document token counts via "
    "linear-interpolation percentile on BIGINT inputs — both engines "
    "share the (n-1)*p contract, so doubles match bit-for-bit.",
    oracle=f"""
        SELECT source,
               count(*) AS n_docs,
               quantile_cont(n_tok, 0.25) AS p25,
               quantile_cont(n_tok, 0.50) AS p50,
               quantile_cont(n_tok, 0.75) AS p75,
               quantile_cont(n_tok, 0.90) AS p90
        FROM (SELECT source, len({_DTOKENS}) AS n_tok FROM documents)
        GROUP BY source
    """,
)
def token_quantiles_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .selectExpr("source", f"size({_TOKENS}) AS n_tok")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("percentile(n_tok, 0.25)").alias("p25"),
            F.expr("percentile(n_tok, 0.50)").alias("p50"),
            F.expr("percentile(n_tok, 0.75)").alias("p75"),
            F.expr("percentile(n_tok, 0.90)").alias("p90"),
        )
    )


@register(
    name="trimmed_mean_tokens",
    survey="UD4 UD5 A7",
    doc="Grouped-aggregate pandas UDF (the UDAF surface): per-source "
    "trimmed mean of token counts, dropping the 2 smallest and 2 largest "
    "values when the stratum is big enough. Arrow ships each group's "
    "column once; the trim itself is robust-statistics boilerplate a "
    "built-in aggregate can't express. Integer sum / count division is "
    "bit-identical across engines, so the oracle hash-checks the doubles.",
    oracle=f"""
        WITH t AS (
            SELECT source, doc_id, len({_DTOKENS}) AS n_tok FROM documents),
        r AS (
            SELECT source, n_tok,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok) AS rn,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM t),
        m AS (
            SELECT source,
                   CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS trimmed_mean_tokens
            FROM r
            WHERE n <= 4 OR (rn > 2 AND rn <= n - 2)
            GROUP BY source),
        c AS (SELECT source, COUNT(*) AS n_docs FROM t GROUP BY source)
        SELECT c.source, c.n_docs, m.trimmed_mean_tokens
        FROM c JOIN m USING (source)
    """,
)
def trimmed_mean_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # no inline type hints: `from __future__ import annotations` stringizes
    # them, which defeats pandas_udf's signature inference — the explicit
    # GROUPED_AGG functionType carries the contract instead
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _trimmed_mean(v):
        s = v.sort_values()
        if len(s) > 4:
            s = s.iloc[2:-2]
        # int64 sum then one double division — matches the oracle exactly
        return float(s.sum()) / len(s)

    # Spark disallows mixing pandas and built-in aggregates in one agg, so
    # the group size is a second grouped-agg pandas UDF
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def _n(v):
        return len(v)

    return (
        load(spark, sf_dir, "documents")
        .selectExpr("source", f"size({_TOKENS}) AS n_tok")
        .groupBy("source")
        .agg(
            _n("n_tok").alias("n_docs"),
            _trimmed_mean("n_tok").alias("trimmed_mean_tokens"),
        )
    )


@register(
    name="hash_sample_docs",
    survey="A7 F28 UD4",
    doc="Deterministic 10% corpus sample: md5-bucket of doc_id < 10 of "
    "100 — the scale-correct alternative to rng TABLESAMPLE for "
    "training-data carve-outs (reproducible across engines, runs, and "
    "repartitions; no seed state to ship; sample membership is a pure "
    "function of the key). Map-side filter, zero shuffles.",
    oracle=f"""
        SELECT doc_id, source, n_chars,
               {_DUCK_BUCKET} AS sample_bucket
        FROM documents
        WHERE {_DUCK_BUCKET} < 10
    """,
)
def hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id", "source", "n_chars", f"{_SPARK_BUCKET} AS sample_bucket"
        )
        .where(F.col("sample_bucket") < 10)
    )


@register(
    name="length_band_filter",
    survey="A7 J5 UD4",
    doc="Percentile length-band quality filter: keep documents whose "
    "token count sits within their source's [p5, p95] band — the "
    "standard outlier cut before training. Per-source quantiles (one "
    "hash-agg over a 20-row group domain, shared (n-1)*p interpolation "
    "contract) broadcast-join back onto the corpus; linear scan, one "
    "tiny broadcast, no all-corpus sort.",
    oracle=f"""
        WITH lens AS (
            SELECT doc_id, source, len({_DTOKENS}) AS n_tok FROM documents),
        bands AS (
            SELECT source,
                   quantile_cont(n_tok, 0.05) AS p5,
                   quantile_cont(n_tok, 0.95) AS p95
            FROM lens GROUP BY source)
        SELECT l.doc_id, l.source, l.n_tok, b.p5, b.p95
        FROM lens l JOIN bands b ON l.source = b.source
        WHERE l.n_tok >= b.p5 AND l.n_tok <= b.p95
    """,
)
def length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    lens = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "source", f"size({_TOKENS}) AS n_tok"
    )
    bands = lens.groupBy("source").agg(
        F.expr("percentile(n_tok, 0.05)").alias("p5"),
        F.expr("percentile(n_tok, 0.95)").alias("p95"),
    )
    return (
        lens.join(F.broadcast(bands), "source")
        .where((F.col("n_tok") >= F.col("p5")) & (F.col("n_tok") <= F.col("p95")))
        .select("doc_id", "source", "n_tok", "p5", "p95")
    )


@register(
    name="capped_per_source_sample",
    survey="A7 W1 UD4",
    doc="Class-balancing downsample: keep at most 15 documents per "
    "source, chosen deterministically by md5(doc_id) order (not by "
    "doc_id, which would bias toward old documents; not by rand(), "
    "which is irreproducible). One window shuffle on source — a "
    "low-cardinality partition key, so at production scale the same "
    "cap runs per (source, salt) first and re-caps after, exactly the "
    "functions/skew.py two-phase discipline.",
    oracle="""
        SELECT doc_id, source, pick_order
        FROM (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                     PARTITION BY source
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                     AS pick_order
          FROM documents
        )
        WHERE pick_order <= 15
    """,
)
def capped_per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", F.row_number().over(w).alias("pick_order"))
        .where(F.col("pick_order") <= 15)
    )


@register(
    name="decontaminate_against_eval",
    survey="J7 D2 F8",
    doc="Benchmark decontamination: drop training documents whose exact "
    "content hash appears in the held-out eval slice (here: every 97th "
    "doc id), via LEFT ANTI join on sha256 — the exact-match first pass "
    "of any contamination pipeline (n-gram overlap is the fuzzy second "
    "pass, cf. ngram_jaccard_dedup). The eval side is tiny relative to "
    "the corpus, so the anti-join broadcasts; output is the clean "
    "training set.",
    oracle="""
        WITH hashed AS (
            SELECT doc_id, source, sha256(text) AS content_hash
            FROM documents),
        eval_set AS (
            SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 97 = 0)
        SELECT h.doc_id, h.source, h.content_hash
        FROM hashed h
        WHERE h.doc_id % 97 <> 0
          AND h.content_hash NOT IN (SELECT content_hash FROM eval_set)
    """,
)
def decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.sha2("text", 256).alias("content_hash")
    )
    eval_set = (
        hashed.where(F.col("doc_id") % 97 == 0).select("content_hash").distinct()
    )
    train = hashed.where(F.col("doc_id") % 97 != 0)
    return train.join(
        F.broadcast(eval_set), "content_hash", "left_anti"
    ).select("doc_id", "source", "content_hash")


@register(
    name="corpus_pipeline_e2e",
    survey="D2 D3 W1 F17 UD4",
    eager=True,  # fn materializes the survivor shingle table
    doc="The whole corpus-prep pipeline as ONE composed plan: quality "
    "filter (linear score >= 0.5) -> exact dedup (first doc per sha256) "
    "-> MinHash near-dedup among survivors (keep the lower doc_id of "
    "each refined pair) -> sliding-window chunking of the kept docs. "
    "Every stage is the already-oracle-checked operator, composed: the "
    "oracle replays the identical four stages in SQL, pinning the "
    "END-TO-END contract, not just each stage alone. Per-stage shapes "
    "are unchanged (map-side score, one hash-window per content key, "
    "banded LSH equi-join, map-side explode), so the composition scales "
    "exactly as its stages do.",
    oracle=None,  # set below: assembled from shared per-stage fragments
)
def corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from uk_procurement_data_pipeline_spark.queries.dedup import (
        _BANDS,
        _HS,
        _ROWS,
        _SHINGLES,
        _SIG,
    )
    from uk_procurement_data_pipeline_spark.queries.quality import (
        with_quality_score,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    q = with_quality_score(docs).where(F.col("score") >= 0.5)
    w = Window.partitionBy("h").orderBy("doc_id")
    dd = (
        q.withColumn("h", F.sha2("text", 256))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    sh = dd.selectExpr("doc_id", "text", f"{_SHINGLES} AS sh").localCheckpoint(
        eager=True
    )
    sg = sh.selectExpr("doc_id", f"{_HS} AS hs").selectExpr(
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
    drop = (
        cand.join(sh.selectExpr("doc_id AS doc_a", "sh AS sh_a"), "doc_a")
        .join(sh.selectExpr("doc_id AS doc_b", "sh AS sh_b"), "doc_b")
        .where(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            >= 0.8
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    keep = sh.join(drop, "doc_id", "left_anti")
    return (
        keep.selectExpr(
            "doc_id",
            f"{_TOKENS} AS toks",
            f"explode(sequence(0, size({_TOKENS}) - 1, {_STRIDE})) AS start",
        )
        .selectExpr(
            "doc_id",
            f"CAST(start div {_STRIDE} AS BIGINT) AS chunk_idx",
            f"CAST(size(slice(toks, start + 1, {_CHUNK})) AS BIGINT)"
            " AS n_chunk_tokens",
            f"array_join(slice(toks, start + 1, {_CHUNK}), ' ') AS chunk_text",
        )
    )


def _corpus_pipeline_oracle() -> str:
    from uk_procurement_data_pipeline_spark.queries.dedup import (
        _D_HS,
        _D_SHINGLES,
        _D_SIG,
        _BANDS,
        _ROWS,
    )
    from uk_procurement_data_pipeline_spark.queries.quality import (
        ORACLE_SCORE_SQL,
    )

    return f"""
        WITH scored AS ({ORACLE_SCORE_SQL.format(src='documents')}),
        q AS (SELECT doc_id, text FROM scored WHERE score >= 0.5),
        dd AS (
            SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                          ORDER BY doc_id) AS rn
                FROM q)
            WHERE rn = 1),
        sh AS (SELECT doc_id, text, {_D_SHINGLES} AS sh FROM dd),
        sg AS (
            SELECT doc_id, {_D_SIG} AS sig
            FROM (SELECT doc_id, {_D_HS} AS hs FROM sh)),
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
        drp AS (
            SELECT DISTINCT c.doc_b AS doc_id
            FROM cand c
            JOIN sh sa ON c.doc_a = sa.doc_id
            JOIN sh sb ON c.doc_b = sb.doc_id
            WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh)))
                             AS DOUBLE) >= 0.8),
        keep AS (
            SELECT doc_id, text FROM sh
            WHERE doc_id NOT IN (SELECT doc_id FROM drp))
        SELECT k.doc_id,
               s.start // {_STRIDE} AS chunk_idx,
               len(list_slice({_DTOKENS}, s.start + 1, s.start + {_CHUNK}))
                   AS n_chunk_tokens,
               array_to_string(
                   list_slice({_DTOKENS}, s.start + 1, s.start + {_CHUNK}), ' ')
                   AS chunk_text
        FROM keep k,
             LATERAL (SELECT unnest(range(0, len({_DTOKENS}), {_STRIDE}))
                      AS start) s
    """


# Late-bind the oracle (the fragments live in sibling modules; assembling at
# import keeps one source of truth for each stage's SQL).
from uk_procurement_data_pipeline_spark.queries.base import _REGISTRY as _R
import dataclasses as _dc

_R["corpus_pipeline_e2e"] = _dc.replace(
    _R["corpus_pipeline_e2e"], oracle=_corpus_pipeline_oracle()
)
del _R, _dc


_MIN_FREQ = 5  # vocabulary admission threshold (corpus frequency)


@register(
    name="vocab_encode_docs",
    survey="A7 W1 J7 A1 F17",
    doc="Vocabulary build + token-id encoding (the tokenize-to-ids stage "
    "of a pretraining pipeline): one corpus wordcount builds the vocab "
    "(corpus frequency >= 5), ids assigned by (freq DESC, word) rank, "
    "then every document is re-encoded as its id sequence with OOV -> "
    "-1, preserving token order (','-joined to a string — query "
    "outputs never carry array columns). The global rank is computed WITHOUT a "
    "single-partition sort by topk.global_rank: row_number partitioned "
    "by freq (word is the tiebreak within a freq class), plus "
    "per-freq-class offsets from a "
    "broadcast theta-join over the distinct-freq table — a multi-"
    "million-word vocab ranks in parallel across freq classes. The "
    "vocab is small by construction (frequency-thresholded) so the "
    "encode join broadcasts; the only big shuffles are the wordcount "
    "and the per-doc reassembly, both keyed on high-cardinality "
    "columns.",
    oracle=f"""
        WITH pos AS (
            SELECT d.doc_id, s.i AS pos, (string_split(d.text, ' '))[s.i] AS word
            FROM documents d,
                 LATERAL (SELECT unnest(range(1,
                              len(string_split(d.text, ' ')) + 1)) AS i) s),
        wc AS (
            SELECT word, count(*) AS freq FROM pos GROUP BY word),
        vocab AS (
            SELECT word,
                   ROW_NUMBER() OVER (ORDER BY freq DESC, word) - 1 AS id
            FROM wc WHERE freq >= {_MIN_FREQ})
        SELECT p.doc_id,
               count(*) AS n_tokens,
               CAST(sum(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               array_to_string(list(COALESCE(v.id, -1) ORDER BY p.pos), ',')
                   AS ids
        FROM pos p LEFT JOIN vocab v ON p.word = v.word
        GROUP BY p.doc_id
    """,
)
def vocab_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, word)")
    )
    wc = pos.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    admitted = wc.where(F.col("freq") >= _MIN_FREQ)
    # Scale-safe global rank by (freq DESC, word): the band is the freq
    # class (Zipfian corpora: few), so no unpartitioned WindowExec funnels
    # the whole vocabulary through one task (VERDICT r03 item 4).
    vocab = global_rank(admitted, ["freq DESC", "word"], rank="rk").select(
        "word", (F.col("rk") - 1).alias("id")
    )
    return (
        pos.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("id").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            # ','-joined string, not array<bigint>: query outputs never
            # carry array columns (driver canonicalizer can't sort lists).
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos", F.coalesce("id", F.lit(-1)).alias("id")
                            )
                        )
                    ),
                    lambda x: x["id"].cast("string"),
                ),
                ",",
            ).alias("ids"),
        )
    )


_CAP = 128  # packed-sequence token capacity


@register(
    name="pack_chunks_into_sequences",
    survey="W3 A7 F13 F17",
    doc="Sequence packing (the last stage before a training run: fill "
    "fixed-capacity sequences with document chunks to minimize padding): "
    "non-overlapping 32-token chunks are packed first-fit-in-order into "
    "128-token sequences WITHIN each source shard — the packing cursor "
    "is a running token cumsum over a (source)-partitioned window, so "
    "there is no global sequential bottleneck; each shard packs "
    "independently, exactly how a 1000-executor job would do it. A "
    "chunk belongs to the sequence where its cursor starts (the "
    "streaming approximation: a sequence may overflow by at most one "
    "chunk, and no chunk is ever split).",
    oracle=f"""
        WITH chunks AS (
            SELECT d.source, d.doc_id,
                   s.start // {_CHUNK} AS chunk_idx,
                   len(list_slice({_DTOKENS}, s.start + 1, s.start + {_CHUNK}))
                       AS n
            FROM documents d,
                 LATERAL (SELECT unnest(range(0, len({_DTOKENS}), {_CHUNK}))
                          AS start) s),
        cur AS (
            SELECT source, doc_id, chunk_idx, n,
                   CAST(sum(n) OVER (PARTITION BY source
                                     ORDER BY doc_id, chunk_idx
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) - n AS BIGINT)
                       AS cum_before
            FROM chunks)
        SELECT source,
               cum_before // {_CAP} AS seq_id,
               count(*) AS n_chunks,
               CAST(sum(n) AS BIGINT) AS n_tokens
        FROM cur
        GROUP BY source, cum_before // {_CAP}
    """,
)
def pack_chunks_into_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    chunks = load(spark, sf_dir, "documents").selectExpr(
        "source",
        "doc_id",
        f"posexplode(transform(sequence(0, size({_TOKENS}) - 1, {_CHUNK}),"
        f" st -> size(slice({_TOKENS}, st + 1, {_CHUNK})))) AS (chunk_idx, n)",
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cur = chunks.withColumn(
        "cum_before", (F.sum("n").over(w) - F.col("n")).cast("bigint")
    )
    return (
        cur.groupBy(
            # Integer floor division (`div`), structurally identical to the
            # oracle's `//` — double-division-then-cast is only exact while
            # _CAP is a power of two and cum_before < 2^53 (ADVICE r03).
            "source", F.expr(f"cum_before div {_CAP}").alias("seq_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n").cast("bigint").alias("n_tokens"),
        )
    )


_CDC_MOD = 16  # expected chunk length ~16 tokens; boundary iff hash % 16 == 0


@register(
    name="cdc_chunk_docs",
    survey="F17 F19 UD4 D3",
    doc="Content-defined chunking (the dedup-friendly chunker: boundaries "
    "depend only on local content, so an insertion early in a document "
    "shifts ONE chunk instead of re-aligning every fixed-stride window "
    "after it): cut after any token whose md5-derived hash is 0 mod 16. "
    "Boundary detection, splitting, and re-assembly are all higher-order "
    "array functions — one map-side pass, no shuffle, no UDF; the same "
    "cross-engine hash family as the MinHash suite.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        b AS (
            SELECT doc_id, toks,
                   [0] || list_filter(range(1, len(toks)),
                       i -> CAST('0x' || substr(md5(toks[i]), 1, 8) AS BIGINT)
                            % {_CDC_MOD} = 0) || [len(toks)] AS bnd
            FROM t),
        c AS (
            SELECT doc_id,
                   list_transform(generate_series(1, len(bnd) - 1),
                       j -> toks[bnd[j] + 1 : bnd[j + 1]]) AS chunks
            FROM b)
        SELECT doc_id, s.ci - 1 AS chunk_idx,
               len(chunks[s.ci]) AS n_tokens,
               array_to_string(chunks[s.ci], ' ') AS chunk_text
        FROM c, LATERAL (SELECT unnest(range(1, len(chunks) + 1)) AS ci) s
    """,
)
def cdc_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr(
            "doc_id",
            "toks",
            # sequence(1, n-1) would DESCEND for n=1 (Spark generates
            # start-down-to-stop); clamp the stop and re-filter i < n so a
            # single-token document yields no interior boundary.
            f"""concat(array(0),
                   filter(sequence(1, greatest(size(toks) - 1, 1)),
                       i -> i < size(toks)
                            AND cast(conv(substr(md5(toks[i - 1]), 1, 8),
                                          16, 10)
                                     AS BIGINT) % {_CDC_MOD} = 0),
                   array(size(toks))) AS bnd""",
        )
        .selectExpr(
            "doc_id",
            """posexplode(transform(sequence(1, size(bnd) - 1),
                   j -> slice(toks, element_at(bnd, j) + 1,
                              element_at(bnd, j + 1) - element_at(bnd, j))))
               AS (chunk_idx, chunk)""",
        )
        .selectExpr(
            "doc_id",
            "CAST(chunk_idx AS BIGINT) AS chunk_idx",
            "CAST(size(chunk) AS BIGINT) AS n_tokens",
            "array_join(chunk, ' ') AS chunk_text",
        )
    )


@register(
    name="cdc_chunk_dedup_ratio",
    survey="D2 A7 J5 F17",
    doc="Chunk-level dedup accounting over the content-defined chunks "
    "(the reason CDC exists: shared passages hash to identical chunks "
    "regardless of where they sit in a document): hash every CDC chunk, "
    "count distinct documents per chunk hash, and report each "
    "document's shared-chunk fraction — the storage/dedup win an "
    "object-level dedup would miss. One (hash)-keyed aggregation plus "
    "one join back; both keys are high-cardinality hashes, so the "
    "shuffles stay uniform at corpus scale.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        b AS (
            SELECT doc_id, toks,
                   [0] || list_filter(range(1, len(toks)),
                       i -> CAST('0x' || substr(md5(toks[i]), 1, 8) AS BIGINT)
                            % {_CDC_MOD} = 0) || [len(toks)] AS bnd
            FROM t),
        ch AS (
            SELECT doc_id,
                   md5(array_to_string(toks[bnd[s.j] + 1 : bnd[s.j + 1]], ' '))
                       AS chash
            FROM b, LATERAL (SELECT unnest(range(1, len(bnd))) AS j) s),
        df AS (
            SELECT chash, count(DISTINCT doc_id) AS n_docs
            FROM ch GROUP BY chash)
        SELECT ch.doc_id,
               count(*) AS n_chunks,
               CAST(sum(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared,
               CAST(sum(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS shared_frac
        FROM ch JOIN df USING (chash)
        GROUP BY ch.doc_id
    """,
)
def cdc_chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr(
            "doc_id",
            "toks",
            f"""concat(array(0),
                   filter(sequence(1, greatest(size(toks) - 1, 1)),
                       i -> i < size(toks)
                            AND cast(conv(substr(md5(toks[i - 1]), 1, 8),
                                          16, 10)
                                     AS BIGINT) % {_CDC_MOD} = 0),
                   array(size(toks))) AS bnd""",
        )
        .selectExpr(
            "doc_id",
            """explode(transform(sequence(1, size(bnd) - 1),
                   j -> md5(array_join(slice(toks, element_at(bnd, j) + 1,
                              element_at(bnd, j + 1) - element_at(bnd, j)),
                              ' ')))) AS chash""",
        )
    )
    dfreq = chunks.groupBy("chash").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(dfreq, "chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
            (
                F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("shared_frac"),
        )
    )


@register(
    name="pps_sample_docs",
    survey="A7 F28 UD4 W1",
    doc="Probability-proportional-to-size sampling with Horvitz-Thompson "
    "weights: each document keeps with probability n_chars/600 (capped "
    "at 1) against an md5-uniform draw, and carries 1/p as its "
    "estimation weight — the deterministic, coordinated form of "
    "weighted sampling (same doc -> same verdict on every engine and "
    "every re-run). Pure map-side filter.",
    oracle="""
        SELECT doc_id, n_chars, p, 1.0 / p AS weight
        FROM (
          SELECT doc_id, n_chars,
                 CASE WHEN CAST(n_chars AS DOUBLE) / 600.0 > 1.0 THEN 1.0
                      ELSE CAST(n_chars AS DOUBLE) / 600.0 END AS p,
                 CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                           AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
          FROM documents
        )
        WHERE u < p
    """,
)
def pps_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            "n_chars",
            "CASE WHEN CAST(n_chars AS DOUBLE) / 600.0 > 1.0 THEN 1.0"
            " ELSE CAST(n_chars AS DOUBLE) / 600.0 END AS p",
            "CAST(cast(conv(substr(md5(cast(doc_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT) AS DOUBLE) / 4294967296.0 AS u",
        )
        .where(F.col("u") < F.col("p"))
        .select("doc_id", "n_chars", "p", (1.0 / F.col("p")).alias("weight"))
    )


from uk_procurement_data_pipeline_spark.queries.quality import (
    ORACLE_SCORE_SQL as _OSS,
)

ORACLE_SCORE_SQL_SRC = _OSS.format(src="documents")


@register(
    name="token_budget_selection",
    survey="W1 W3 A7 UD4",
    doc="Token-budget curation (data mixing under a budget): per source, "
    "documents are ranked by quality score and admitted in rank order "
    "until the source's cumulative token count passes 50% of its "
    "total — the greedy quality-first selection every mixture builder "
    "runs, expressed as two source-partitioned windows (running cumsum "
    "over rank order against a window total). Admission includes the "
    "document that crosses the budget line, so every source keeps at "
    "least its best document.",
    oracle=f"""
        WITH scored AS (
            SELECT s.doc_id, s.score, d.source,
                   len(string_split(d.text, ' ')) AS n_tok
            FROM ({ORACLE_SCORE_SQL_SRC}) s JOIN documents d USING (doc_id)),
        ranked AS (
            SELECT source, doc_id, score, n_tok,
                   CAST(sum(n_tok) OVER (PARTITION BY source
                                         ORDER BY score DESC, doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - n_tok AS BIGINT)
                       AS cum_before,
                   CAST(sum(n_tok) OVER (PARTITION BY source) AS BIGINT)
                       AS total_tok
            FROM scored)
        SELECT source, doc_id, score, n_tok
        FROM ranked
        WHERE cum_before * 2 < total_tok
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from uk_procurement_data_pipeline_spark.queries.quality import (
        with_quality_score,
    )

    docs = load(spark, sf_dir, "documents")
    scored = with_quality_score(docs.select("doc_id", "text")).join(
        docs.selectExpr("doc_id", "source", f"size({_TOKENS}) AS n_tok"),
        "doc_id",
    )
    wr = (
        Window.partitionBy("source")
        .orderBy(F.col("score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("source")
    ranked = scored.select(
        "source",
        "doc_id",
        "score",
        "n_tok",
        (F.sum("n_tok").over(wr) - F.col("n_tok")).cast("bigint").alias(
            "cum_before"
        ),
        F.sum("n_tok").over(wt).cast("bigint").alias("total_tok"),
    )
    return ranked.where(F.col("cum_before") * 2 < F.col("total_tok")).select(
        "source", "doc_id", "score", "n_tok"
    )


_EPOCH_SHARDS = 64  # training shards per epoch


@register(
    name="training_shuffle_order",
    survey="F28 W1 A7",
    doc="Deterministic training-epoch shuffle (the last thing a data "
    "pipeline does before a trainer reads shards): every document gets "
    f"a shard (md5(epoch:doc) mod {_EPOCH_SHARDS}) and a position "
    "within the shard (rank by the same hash — partitioned window, "
    "parallel across shards), so the full epoch ordering is a pure "
    "function of (epoch, doc_id): any engine, any cluster, any re-run "
    "lands every doc in the same place, and a different epoch literal "
    "reshuffles everything. Output is per-shard size + the hash-"
    "ordered head doc, pinning both the assignment and the ordering.",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5('epoch1:' || doc_id), 1, 8)
                        AS BIGINT) AS hv
            FROM documents),
        sharded AS (
            SELECT doc_id, hv, hv % {_EPOCH_SHARDS} AS shard,
                   ROW_NUMBER() OVER (PARTITION BY hv % {_EPOCH_SHARDS}
                                      ORDER BY hv // {_EPOCH_SHARDS}, doc_id)
                       AS pos
            FROM h)
        SELECT shard,
               count(*) AS n_docs,
               CAST(min(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT)
                   AS head_doc
        FROM sharded
        GROUP BY shard
    """,
)
def training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    h = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "cast(conv(substr(md5(concat('epoch1:', cast(doc_id AS string))),"
        " 1, 8), 16, 10) AS bigint) AS hv",
    )
    sharded = h.withColumn(
        "shard", F.col("hv") % _EPOCH_SHARDS
    ).withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("shard").orderBy(
                F.expr(f"hv div {_EPOCH_SHARDS}"), "doc_id"
            )
        ),
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.when(F.col("pos") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("head_doc"),
    )


_ES_K = 200


@register(
    name="weighted_sample_es",
    survey="A7 O4 F28 W1",
    doc=f"Efraimidis-Spirakis weighted sampling WITHOUT replacement "
    f"(top-{_ES_K}): each document draws an md5-uniform u and ranks by "
    "ln(u)/n_chars (the monotone transform of u^(1/w)), micro-"
    "quantized to an exact bigint with doc_id tiebreak; the k largest "
    "keys are the sample. Deterministic/coordinated like "
    "pps_sample_docs, but produces an EXACT-size sample and needs "
    "only one map pass plus TakeOrderedAndProject — the distributed "
    "form of reservoir sampling with weights.",
    oracle=f"""
        WITH keyed AS (
          SELECT doc_id, n_chars,
                 CAST(floor(
                     ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS
                           VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 1.0)
                        / 4294967296.0)
                     / CAST(n_chars AS DOUBLE) * 1000000000 + 0.5)
                      AS BIGINT) AS key_nano
          FROM documents)
        SELECT doc_id, n_chars, key_nano
        FROM keyed
        ORDER BY key_nano DESC, doc_id
        LIMIT {_ES_K}
    """,
)
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            "n_chars",
            "CAST(floor("
            " ln((CAST(cast(conv(substr(md5(cast(doc_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) AS DOUBLE) + 1.0) / 4294967296.0)"
            " / CAST(n_chars AS DOUBLE) * 1000000000 + 0.5) AS BIGINT)"
            " AS key_nano",
        )
        .orderBy(F.desc("key_nano"), "doc_id")
        .limit(_ES_K)
    )


@register(
    name="ngram_novelty_rate",
    survey="A7 A8 D2 F17",
    doc="Per-document bigram novelty rate in corpus order (the "
    "curation curve that shows marginal new content decaying as a "
    "crawl grows — near-zero novelty flags a doc as redundant even "
    "when no single pair-wise duplicate exists): a bigram's debut is "
    "min(doc_id) over its occurrences; a document's novelty is the "
    "fraction of its DISTINCT bigrams that debut in it. Two hash "
    "aggregations on the bigram key plus one per-doc rollup — all "
    "linear, no windows.",
    oracle="""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), grams AS (
          SELECT DISTINCT doc_id, d.t[s.i] || ' ' || d.t[s.i + 1] AS gram
          FROM toks d, LATERAL (SELECT unnest(range(1, len(d.t))) AS i) s
        ), debut AS (
          SELECT gram, CAST(min(doc_id) AS BIGINT) AS first_doc
          FROM grams GROUP BY gram)
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_distinct_grams,
               CAST(SUM(CASE WHEN d.first_doc = g.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN d.first_doc = g.doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty_rate
        FROM grams g JOIN debut d USING (gram)
        GROUP BY g.doc_id
    """,
)
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", f"{_TOKENS} AS t")
        .selectExpr(
            "doc_id",
            # Guard 1-token docs: sequence(1, 0) DESCENDS in Spark; the
            # oracle's range(1, 1) is empty (the repetition_signals fix).
            "explode(IF(size(t) < 2, array(),"
            " transform(sequence(1, size(t) - 1),"
            " i -> concat(t[i - 1], ' ', t[i])))) AS gram",
        )
        .distinct()
    )
    debut = grams.groupBy("gram").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        grams.join(debut, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_grams"),
            novel.alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "novelty_rate"
            ),
        )
    )


_LEAK_N = 8  # leakage-probe gram length (tokens)


@register(
    name="split_leakage_report",
    survey="D3 J7 A7 F17 F28",
    doc="Train->val contamination audit of the stratified hash split "
    "(the leakage check run after ANY split of a near-dup-rich "
    "corpus; composes the stratified_split_counts bucket rule with "
    "decontaminate_against_eval's overlap idea, but at span "
    "granularity): every val document reports how many of its "
    "distinct 8-token grams also occur in ANY train document. Grams "
    "are md5 keys, the train gram set is one distinct over the "
    "train partition, membership is a left semi-style marker join on "
    "the gram key (linear shuffle), and leak_frac is one int/int "
    "division (NULL for sub-gram-length docs in both engines).",
    oracle=f"""
        WITH split AS (
            SELECT doc_id, {_DTOKENS} AS t,
                   CASE WHEN {_DUCK_BUCKET} < 80 THEN 'train'
                        WHEN {_DUCK_BUCKET} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents),
        grams AS (
            SELECT DISTINCT doc_id, split,
                   md5(array_to_string(t[f.p:f.p + {_LEAK_N} - 1], ' ')) AS g
            FROM split,
                 LATERAL (SELECT unnest(range(1, len(t) - {_LEAK_N} + 2))
                          AS p) f),
        train_g AS (
            SELECT DISTINCT g FROM grams WHERE split = 'train'),
        val_g AS (
            SELECT v.doc_id, v.g,
                   CASE WHEN t.g IS NULL THEN 0 ELSE 1 END AS leaked
            FROM grams v LEFT JOIN train_g t ON v.g = t.g
            WHERE v.split = 'val'),
        per_doc AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(SUM(leaked) AS BIGINT) AS n_leaked
            FROM val_g GROUP BY doc_id)
        SELECT s.doc_id,
               COALESCE(p.n_grams, 0) AS n_grams,
               COALESCE(p.n_leaked, 0) AS n_leaked,
               CAST(p.n_leaked AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
                   AS leak_frac
        FROM split s LEFT JOIN per_doc p USING (doc_id)
        WHERE s.split = 'val'
        ORDER BY s.doc_id
    """,
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"{_TOKENS} AS t",
        f"CASE WHEN {_SPARK_BUCKET} < 80 THEN 'train'"
        f" WHEN {_SPARK_BUCKET} < 90 THEN 'val'"
        " ELSE 'test' END AS split",
    )
    grams = split.selectExpr(
        "doc_id",
        "split",
        # IF-guard: sequence(1, 0) descends in Spark (cdc_chunk_docs quirk)
        f"explode(IF(size(t) < {_LEAK_N}, array(),"
        f" transform(sequence(1, size(t) - {_LEAK_N} + 1),"
        f" i -> md5(array_join(slice(t, i, {_LEAK_N}), ' '))))) AS g",
    ).distinct()
    train_g = grams.where(F.col("split") == "train").select("g").distinct()
    val_g = (
        grams.where(F.col("split") == "val")
        .join(train_g.withColumn("leaked_mark", F.lit(1)), "g", "left")
        .select(
            "doc_id",
            F.when(F.col("leaked_mark").isNull(), 0).otherwise(1).alias("leaked"),
        )
    )
    per_doc = val_g.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum("leaked").cast("bigint").alias("n_leaked"),
    )
    return (
        split.where(F.col("split") == "val")
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0).cast("bigint")).alias("n_grams"),
            F.coalesce(F.col("n_leaked"), F.lit(0).cast("bigint")).alias("n_leaked"),
            (F.col("n_leaked").cast("double") / F.col("n_grams").cast("double")).alias(
                "leak_frac"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    name="negative_sampling_table",
    survey="A7 W1 J6 F28 O4",
    doc="Word2vec/NCE negative-sampling table (Mikolov et al. 2013): "
    "the top-200 vocabulary gets unigram^0.75 smoothed sampling mass "
    "— computed WITHOUT libm pow as sqrt(f)*sqrt(sqrt(f)) (sqrt is "
    "IEEE-correctly-rounded in both engines, so f^0.75 is "
    "bit-identical), micro-quantized into integer cumulative bands — "
    "and 10,000 deterministic md5 draws are routed into those bands "
    "by a range join, validating the table empirically (hits vs "
    "expected mass per word). The draw x band join is bounded "
    "(1e4 x 200); the vocabulary cut is a distributed "
    "TakeOrderedAndProject; everything downstream of the one "
    "row-sized word count lives on bounded domains. Output: top-20 "
    "most-drawn words with expected vs empirical share.",
    oracle="""
        WITH wc AS (
          SELECT (string_split(text, ' '))[s.i] AS word,
                 CAST(count(*) AS BIGINT) AS f
          FROM documents d,
               LATERAL (SELECT unnest(range(1,
                            len(string_split(d.text, ' ')) + 1)) AS i) s
          GROUP BY 1
        ), topw AS (
          SELECT word, f FROM wc ORDER BY f DESC, word LIMIT 200
        ), smoothed AS (
          SELECT word, f,
                 CAST(floor(sqrt(CAST(f AS DOUBLE))
                      * sqrt(sqrt(CAST(f AS DOUBLE))) * 1000000)
                   AS BIGINT) AS m_micro
          FROM topw
        ), banded AS (
          SELECT word, f, m_micro,
                 SUM(m_micro) OVER (ORDER BY m_micro DESC, word
                                    ROWS UNBOUNDED PRECEDING)
                   - m_micro AS lo,
                 SUM(m_micro) OVER (ORDER BY m_micro DESC, word
                                    ROWS UNBOUNDED PRECEDING) AS hi
          FROM smoothed
        ), tot AS (
          SELECT CAST(SUM(m_micro) AS BIGINT) AS total FROM smoothed
        ), draws AS (
          SELECT i.i,
                 CAST('0x' || substr(md5('draw-' || CAST(i.i AS VARCHAR)),
                      1, 15) AS BIGINT) % t.total AS pos
          FROM (SELECT unnest(range(0, 10000)) AS i) i CROSS JOIN tot t
        ), hits AS (
          SELECT b.word, b.m_micro, CAST(count(*) AS BIGINT) AS n_hits
          FROM draws d JOIN banded b
            ON d.pos >= b.lo AND d.pos < b.hi
          GROUP BY 1, 2
        )
        SELECT h.word, h.n_hits,
               CAST(h.m_micro AS DOUBLE) / CAST(t.total AS DOUBLE)
                   AS expected_share,
               CAST(h.n_hits AS DOUBLE) / 10000.0 AS empirical_share
        FROM hits h CROSS JOIN tot t
        ORDER BY n_hits DESC, word
        LIMIT 20
    """,
)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    wc = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    topw = wc.orderBy(F.col("f").desc(), "word").limit(200)
    smoothed = topw.selectExpr(
        "word",
        "f",
        "CAST(floor(sqrt(CAST(f AS DOUBLE))"
        " * sqrt(sqrt(CAST(f AS DOUBLE))) * 1000000) AS BIGINT) AS m_micro",
    )
    wcum = Window.orderBy(F.col("m_micro").desc(), "word").rowsBetween(
        Window.unboundedPreceding, 0
    )
    banded = smoothed.select(
        "word",
        "f",
        "m_micro",
        (F.sum("m_micro").over(wcum) - F.col("m_micro")).alias("lo"),
        F.sum("m_micro").over(wcum).alias("hi"),
    )
    tot = smoothed.agg(F.sum("m_micro").cast("bigint").alias("total"))
    draws = (
        spark.range(0, 10000)
        .select(F.col("id").cast("bigint").alias("i"))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "i",
            "CAST(conv(substr(md5('draw-' || CAST(i AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % total AS pos",
        )
    )
    hits = (
        draws.join(
            F.broadcast(banded),
            (F.col("pos") >= F.col("lo")) & (F.col("pos") < F.col("hi")),
        )
        .groupBy("word", "m_micro")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return (
        hits.crossJoin(F.broadcast(tot))
        .select(
            "word",
            "n_hits",
            (F.col("m_micro").cast("double") / F.col("total").cast("double")).alias(
                "expected_share"
            ),
            (F.col("n_hits").cast("double") / 10000.0).alias("empirical_share"),
        )
        .orderBy(F.col("n_hits").desc(), "word")
        .limit(20)
    )


@register(
    name="contamination_13gram_rate",
    survey="J7 J9 D3 A7",
    doc="Fuzzy benchmark contamination — the 13-GRAM collision pass "
    "that follows decontaminate_against_eval's exact-hash pass (the "
    "GPT-3/PaLM decontamination protocol: a training doc is "
    "contaminated if it shares ANY 13-token n-gram with the eval "
    "set): eval = every 97th doc id, both sides explode to md5-hashed "
    "13-gram keys, contaminated training docs fall out of one "
    "SEMI-join on the hash (the eval gram set is corpus-fraction-"
    "sized and broadcasts; work is linear in total grams, never "
    "doc-pairs). Reported per source as counts + rate — the "
    "decision-ready contamination dashboard row. Cross-engine the "
    "gram hash is the shared md5 family.",
    oracle="""
        WITH toks AS (
          SELECT doc_id, source, doc_id % 97 = 0 AS is_eval,
                 string_split(text, ' ') AS t
          FROM documents
        ), grams AS (
          SELECT doc_id, source, is_eval,
                 md5(array_to_string(t[i : i + 12], ' ')) AS g
          FROM toks, LATERAL (
            SELECT unnest(range(1, len(t) - 11)) AS i) s
        ), eval_grams AS (
          SELECT DISTINCT g FROM grams WHERE is_eval
        ), train_docs AS (
          SELECT DISTINCT doc_id, source FROM toks WHERE NOT is_eval
        ), contaminated AS (
          SELECT DISTINCT gr.doc_id
          FROM grams gr
          WHERE NOT gr.is_eval
            AND gr.g IN (SELECT g FROM eval_grams)
        )
        SELECT td.source,
               CAST(COUNT(*) AS BIGINT) AS n_train_docs,
               CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS contamination_rate
        FROM train_docs td LEFT JOIN contaminated c
          ON c.doc_id = td.doc_id
        GROUP BY td.source
        ORDER BY td.source
    """,
)
def contamination_13gram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.col("doc_id") % 97 == 0).alias("is_eval"),
        F.split("text", " ").alias("t"),
    )
    grams = toks.select(
        "doc_id",
        "source",
        "is_eval",
        F.explode(
            # sequence(1, 0) DESCENDS in Spark (repetition_signals
            # precedent) — short docs must emit an empty gram array
            F.expr(
                "IF(size(t) < 13, array(),"
                " transform(sequence(1, size(t) - 12),"
                " i -> md5(array_join(slice(t, i, 13), ' '))))"
            )
        ).alias("g"),
    )
    eval_grams = grams.where("is_eval").select("g").distinct()
    train_docs = toks.where("NOT is_eval").select("doc_id", "source").distinct()
    contaminated = (
        grams.where("NOT is_eval")
        .join(F.broadcast(eval_grams), "g", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        train_docs.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("contamination_rate"),
        )
        .orderBy("source")
    )


# SFT chat-template constants. The template is rendered with plain concat
# so both engines share it character-for-character; offsets are computed
# with length() arithmetic (chars, identical semantics in both engines),
# never by re-searching the rendered string — search would break the
# moment a document contains the delimiter.
_SFT_SYS = "<|system|>You are a procurement assistant.<|end|>\n"
_SFT_USER_PRE = "<|user|>Summarize notice "
_SFT_USER_POST = ".<|end|>\n<|assistant|>"
_SFT_EOT = "<|end|>"


@register(
    name="sft_chat_template_mask",
    survey="F2 F8 A7 UD4",
    doc="SFT formatting with assistant-only loss masking (the supervised "
    "fine-tuning prep step between curation and tokenization): each "
    "document renders into a system/user/assistant chat template and "
    "the [mask_start, mask_end) char span of the assistant turn — the "
    "only span that takes loss — is computed by LENGTH ARITHMETIC on "
    "the template parts, never by searching the rendered string (a "
    "document containing the delimiter would break a search). Per-"
    "source readout: doc count, total rendered chars, total masked "
    "chars, micro-quantized mean loss fraction, mask_start extrema. "
    "Pure map-side projection + one keyed aggregate — linear, and the "
    "offsets feed straight into a tokenizer's offset mapping at scale.",
    oracle=f"""
        WITH r AS (
            SELECT doc_id, source,
                   length('{_SFT_SYS}' || '{_SFT_USER_PRE}'
                          || CAST(doc_id AS VARCHAR) || ' from ' || source
                          || '{_SFT_USER_POST}') AS mask_start,
                   length(text) AS body_len,
                   length('{_SFT_EOT}') AS eot_len
            FROM documents),
        m AS (
            SELECT doc_id, source, mask_start,
                   mask_start + body_len AS mask_end,
                   mask_start + body_len + eot_len AS total_len,
                   body_len
            FROM r)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(total_len) AS BIGINT) AS total_chars,
               CAST(sum(body_len) AS BIGINT) AS masked_chars,
               CAST(floor(CAST(sum(body_len) AS DOUBLE) * 1000000.0
                          / CAST(sum(total_len) AS DOUBLE)) AS BIGINT)
                   AS loss_frac_micro,
               CAST(min(mask_start) AS BIGINT) AS mask_start_min,
               CAST(max(mask_start) AS BIGINT) AS mask_start_max
        FROM m GROUP BY source
    """,
)
def sft_chat_template_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sys_lit = _SFT_SYS.replace("'", "\\'").replace("\n", "\\n")
    pre_lit = _SFT_USER_PRE
    post_lit = _SFT_USER_POST.replace("\n", "\\n")
    r = docs.selectExpr(
        "doc_id",
        "source",
        f"length(concat('{sys_lit}', '{pre_lit}', CAST(doc_id AS STRING),"
        f" ' from ', source, '{post_lit}')) AS mask_start",
        "length(text) AS body_len",
        f"length('{_SFT_EOT}') AS eot_len",
    ).selectExpr(
        "source",
        "mask_start",
        "body_len",
        "mask_start + body_len + eot_len AS total_len",
    )
    return r.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("total_len").cast("bigint").alias("total_chars"),
        F.sum("body_len").cast("bigint").alias("masked_chars"),
        F.floor(
            F.sum("body_len").cast("double")
            * F.lit(1_000_000.0)
            / F.sum("total_len").cast("double")
        )
        .cast("bigint")
        .alias("loss_frac_micro"),
        F.min("mask_start").cast("bigint").alias("mask_start_min"),
        F.max("mask_start").cast("bigint").alias("mask_start_max"),
    )


# Per-position noise decision for T5-style span corruption: the first 8
# md5 hex chars of "doc_id:pos" as an integer, mod 10 — position p starts
# a 3-token noise span iff the draw is 0 (a 10% start rate; with span
# clipping/overlap union this lands near T5's 15% corruption budget).
# Pure function of (doc_id, pos): both engines regenerate the identical
# mask with zero state shipped, which is how 1000 executors agree on the
# noise pattern for free.
_SPARK_SPAN_START = (
    "cast(conv(substr(md5(concat(cast(doc_id AS STRING), ':',"
    " cast({p} AS STRING))), 1, 8), 16, 10) AS BIGINT) % 10 = 0"
)
_DUCK_SPAN_START = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||"
    " CAST({p} AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0"
)


@register(
    name="span_corruption_masks",
    survey="F17 F18 UD4 A7",
    doc="T5-style span-corruption mask statistics (Raffel et al. 2020 "
    "denoising objective) — the pretraining-prep step that decides which "
    "token spans become sentinel targets: position p starts a 3-token "
    "noise span iff an md5 draw on (doc_id, p) hits 1-in-10, a masked "
    "position is one covered by a start at p, p-1, or p-2 (span union, "
    "clipped at the document tail). Per doc: token count, span starts, "
    "masked-position count, and the corruption rate in permille. All "
    "integer outputs; the mask is a pure key function so the plan is one "
    "map-side pass — array folds inside codegen, no explode, no shuffle, "
    "no UDF. At 100 TB this is exactly the shape you want: linear scan, "
    "embarrassingly parallel, mask reproducible on any executor.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, len({_DTOKENS}) AS n FROM documents),
        m AS (
            SELECT doc_id, n,
                   len(list_filter(range(0, n),
                       p -> {_DUCK_SPAN_START.format(p='p')})) AS n_starts,
                   len(list_filter(range(0, n), p ->
                       {_DUCK_SPAN_START.format(p='p')}
                       OR (p >= 1 AND {_DUCK_SPAN_START.format(p='p - 1')})
                       OR (p >= 2 AND {_DUCK_SPAN_START.format(p='p - 2')})
                   )) AS n_masked
            FROM t WHERE n > 0)
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
               CAST(n_starts AS BIGINT) AS n_starts,
               CAST(n_masked AS BIGINT) AS n_masked,
               CAST(1000 * n_masked // n AS BIGINT) AS corrupt_permille
        FROM m
    """,
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    start = _SPARK_SPAN_START
    return (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", f"size({_TOKENS}) AS n")
        .where(F.col("n") > 0)
        .selectExpr(
            "doc_id",
            "CAST(n AS BIGINT) AS n_tokens",
            f"CAST(size(filter(sequence(0, n - 1),"
            f" p -> {start.format(p='p')})) AS BIGINT) AS n_starts",
            f"CAST(size(filter(sequence(0, n - 1), p ->"
            f" {start.format(p='p')}"
            f" OR (p >= 1 AND {start.format(p='p - 1')})"
            f" OR (p >= 2 AND {start.format(p='p - 2')})"
            f")) AS BIGINT) AS n_masked",
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_starts",
            "n_masked",
            "CAST(1000 * n_masked div n_tokens AS BIGINT) AS corrupt_permille",
        )
    )


@register(
    name="rejection_sample_by_quality",
    survey="A7 F28 UD4",
    doc="Quality-proportional rejection sampling (the acceptance step in "
    "quality-weighted corpus construction, cf. CCNet/Gopher pipelines): "
    "each document's acceptance probability IS its quality score — here "
    "the distinct-token ratio in permille — and the accept draw is an "
    "md5 bucket of doc_id in [0, 1000), so acceptance = draw < score is "
    "a pure integer comparison reproducible across engines, runs, and "
    "repartitions (no RNG state). Reports per-source acceptance volume "
    "and rate. One map-side scan plus one hash-agg on a 20-value key; "
    "all arithmetic integer.",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source, len({_DTOKENS}) AS n_tok,
                   1000 * len(list_distinct({_DTOKENS}))
                       // len({_DTOKENS}) AS q_permille,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 1000 AS u_permille
            FROM documents WHERE len({_DTOKENS}) > 0)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN u_permille < q_permille THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_accepted,
               CAST(sum(CASE WHEN u_permille < q_permille THEN n_tok
                             ELSE 0 END) AS BIGINT) AS accepted_tokens,
               CAST(1000 * sum(CASE WHEN u_permille < q_permille
                                    THEN 1 ELSE 0 END) // count(*)
                    AS BIGINT) AS accept_permille
        FROM scored GROUP BY source
    """,
)
def rejection_sample_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = (
        load(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            "source",
            f"size({_TOKENS}) AS n_tok",
            f"1000 * size(array_distinct({_TOKENS}))"
            f" div size({_TOKENS}) AS q_permille",
            "cast(conv(substr(md5(cast(doc_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT) % 1000 AS u_permille",
        )
        .where(F.col("n_tok") > 0)
    )
    acc = F.when(F.col("u_permille") < F.col("q_permille"), 1).otherwise(0)
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(acc).cast("bigint").alias("n_accepted"),
        F.sum(
            F.when(
                F.col("u_permille") < F.col("q_permille"), F.col("n_tok")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("accepted_tokens"),
        (1000 * F.sum(acc).cast("bigint") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("accept_permille"),
    )


@register(
    name="dpo_preference_pairs",
    survey="W1 J6 A7 F28",
    doc="DPO/RLHF preference-pair construction over the corpus: within "
    "each (source, lang) stratum, documents rank by an integer quality "
    "score (distinct-token permille; doc_id tiebreak), and the i-th best "
    "is paired with the i-th worst as (chosen, rejected) for i up to "
    "n/2, keeping only pairs with a strictly positive margin — the "
    "standard max-margin pairing that turns a scored pool into "
    "preference training rows. ONE window rank per stratum suffices: "
    "the worst-first ordering (q ASC, doc_id DESC) is the exact "
    "reverse of the best-first total order, so rn_worst = n + 1 - "
    "rn_best — a single stratum shuffle + sort, then a self-join on "
    "(stratum, n + 1 - rank), with integer margins; deterministic "
    "everywhere, no floats.",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source, lang,
                   1000 * len(list_distinct({_DTOKENS}))
                       // len({_DTOKENS}) AS q_milli
            FROM documents WHERE len({_DTOKENS}) > 0),
        ranked AS (
            SELECT *,
                   row_number() OVER (PARTITION BY source, lang
                                      ORDER BY q_milli DESC, doc_id)
                       AS rn_best,
                   count(*) OVER (PARTITION BY source, lang) AS n
            FROM scored)
        SELECT b.source, b.lang, CAST(b.rn_best AS BIGINT) AS pair_rank,
               b.doc_id AS chosen_doc_id, w.doc_id AS rejected_doc_id,
               CAST(b.q_milli - w.q_milli AS BIGINT) AS margin_milli
        FROM ranked b JOIN ranked w
          ON b.source = w.source AND b.lang = w.lang
         AND w.rn_best = b.n + 1 - b.rn_best
        WHERE b.rn_best <= b.n // 2 AND b.q_milli > w.q_milli
    """,
)
def dpo_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    scored = (
        load(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            "source",
            "lang",
            f"1000 * size(array_distinct({_TOKENS}))"
            f" div size({_TOKENS}) AS q_milli",
        )
        .where(F.expr(f"size({_TOKENS}) > 0"))
    )
    strat = Window.partitionBy("source", "lang")
    ranked = scored.select(
        "doc_id",
        "source",
        "lang",
        "q_milli",
        F.row_number()
        .over(strat.orderBy(F.desc("q_milli"), "doc_id"))
        .alias("rn_best"),
        F.count(F.lit(1)).over(strat).alias("n"),
    )
    b, w = ranked.alias("b"), ranked.alias("w")
    return (
        b.join(
            w,
            (F.col("b.source") == F.col("w.source"))
            & (F.col("b.lang") == F.col("w.lang"))
            & (
                F.col("w.rn_best")
                == F.col("b.n") + 1 - F.col("b.rn_best")
            ),
        )
        .where(
            (F.col("b.rn_best") <= F.floor(F.col("b.n") / 2))
            & (F.col("b.q_milli") > F.col("w.q_milli"))
        )
        .select(
            F.col("b.source").alias("source"),
            F.col("b.lang").alias("lang"),
            F.col("b.rn_best").cast("bigint").alias("pair_rank"),
            F.col("b.doc_id").alias("chosen_doc_id"),
            F.col("w.doc_id").alias("rejected_doc_id"),
            (F.col("b.q_milli") - F.col("w.q_milli"))
            .cast("bigint")
            .alias("margin_milli"),
        )
    )


_PREFIX_DEPTHS = [1, 2, 4, 8, 16]  # prefix-cache probe depths (tokens)


@register(
    name="prefix_cache_hit_ratio",
    survey="A7 A8 F17 F28",
    doc="Inference prefix-cache hit analysis: for probe depths "
    "d in {1,2,4,8,16} tokens, how many documents share their first d "
    "tokens with another document — the number that predicts KV-cache "
    "prefix-reuse savings when this corpus is served or replayed "
    "(vLLM-style automatic prefix caching). Per depth: eligible docs "
    "(len >= d), distinct md5 prefix keys, and the hit rate in "
    "permille (1 - distinct/eligible). The prefix key is hashed BEFORE "
    "the distinct so only 16-byte keys shuffle, not prefix strings — "
    "at 100 TB the count-distinct per depth is 5 linear hash-aggs over "
    "md5 keys, no string movement, no window.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {_DTOKENS} AS toks FROM documents),
        d AS (SELECT unnest({_PREFIX_DEPTHS}) AS depth),
        p AS (
            SELECT d.depth, t.doc_id,
                   md5(array_to_string(toks[1:d.depth], ' ')) AS prefix_key
            FROM t, d WHERE len(toks) >= d.depth)
        SELECT CAST(depth AS BIGINT) AS depth,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT prefix_key) AS BIGINT)
                   AS n_distinct_prefixes,
               CAST(1000 * (count(*) - count(DISTINCT prefix_key))
                    // count(*) AS BIGINT) AS cache_hit_permille
        FROM p GROUP BY depth
    """,
)
def prefix_cache_hit_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    depths = local_table(spark, [(d,) for d in _PREFIX_DEPTHS], "depth int")
    return (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", f"{_TOKENS} AS toks")
        .crossJoin(F.broadcast(depths))
        .where(F.expr("size(toks) >= depth"))
        .selectExpr(
            "depth",
            "md5(array_join(slice(toks, 1, depth), ' ')) AS prefix_key",
        )
        .groupBy(F.col("depth").cast("bigint").alias("depth"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("prefix_key")
            .cast("bigint")
            .alias("n_distinct_prefixes"),
            F.floor(
                1000
                * (F.count(F.lit(1)) - F.countDistinct("prefix_key"))
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("cache_hit_permille"),
        )
    )
