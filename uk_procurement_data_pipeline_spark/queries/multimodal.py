"""Multimodal column plumbing (SURVEY.md §2.11 UD4, [NORTH-STAR]).

Media assets are opaque ``binary`` columns plus a typed metadata struct —
the pattern a 100 TB training-data pipeline needs: the bytes stay
unparsed through shuffles and pruning; only explicitly-invoked Arrow
stages touch them. The container has no image/audio codec *libraries*,
but PNG decode is REAL: ``functions/png.py`` is a pure-stdlib RFC-2083
codec (zlib + the five filter types), exercised end-to-end by
``png_decode_roundtrip_profile``. For every other format `decode_media`
raises NotImplementedError (a deterministic fake is injectable for
tests) while everything Spark-side — schema, batch shape, partitioning,
UDF signatures — is real and tested (tests/test_multimodal.py,
tests/test_r9_additions.py::test_png_*).

``documents.text`` stands in for the raw asset: payload = utf-8 bytes,
so every derived value is reproducible in the oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401

from uk_procurement_data_pipeline_spark.catalog import load, spread
from uk_procurement_data_pipeline_spark.queries.base import register

FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, byte_hist array<bigint>"
_HIST_BUCKETS = 8

DECODE_SCHEMA = "doc_id bigint, width int, height int, n_frames int"

# (doc_id, payload bytes) -> (width, height, n_frames)
Decoder = Callable[[int, bytes], tuple[int, int, int]]


def assets_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest shape: opaque payload column + metadata struct columns."""
    return load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "encode(text, 'utf-8') AS payload",
        "'text' AS media_type",
        "'utf-8' AS fmt",
        "CAST(octet_length(encode(text, 'utf-8')) AS BIGINT) AS n_bytes",
    )


def byte_histogram_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the payload bytes.

    A stand-in for embed/resize/frame-sample: per-asset bucketed byte
    histogram (integer counts — deterministic). The batch shape (one
    row in → one row out, vector column out) matches what a real codec
    stage produces.
    """

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized inner loop: at real payload sizes (MBs per asset) a
        # per-byte Python loop is ~100x slower than frombuffer + bincount.
        shift = 8 - (_HIST_BUCKETS.bit_length() - 1)  # byte >> shift = bucket
        for pdf in batches:
            out = {"doc_id": [], "n_bytes": [], "byte_hist": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist = np.bincount(arr >> shift, minlength=_HIST_BUCKETS)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(arr))
                out["byte_hist"].append(hist.astype("int64"))
            yield pd.DataFrame(out)

    return assets.select("doc_id", "payload").mapInPandas(
        featurize, schema=FEATURE_SCHEMA
    )


def fake_decoder(doc_id: int, payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in decoder: dimensions derived from the bytes."""
    return (len(payload) % 640 + 1, len(payload) % 480 + 1, doc_id % 30 + 1)


def real_decoder(doc_id: int, payload: bytes) -> tuple[int, int, int]:
    """Actual media decode. PNG payloads (signature-sniffed) go through
    the pure-stdlib codec in functions/png.py — a REAL decode (zlib
    inflate + scanline unfiltering, CRC-checked), no codec libraries
    needed. Other formats (JPEG/audio/video) still require external
    codecs absent from this container and raise; wire Pillow/ffmpeg here
    behind the same seam when available."""
    from uk_procurement_data_pipeline_spark.functions import png

    if payload[:8] == png.SIGNATURE:
        w, h, _ch, _rows = png.decode_png(payload)
        return (w, h, 1)
    raise NotImplementedError(
        "non-PNG media decoding requires codec libraries not installed "
        "here; inject fake_decoder (tests) or a codec-backed Decoder"
    )


def decode_media(assets: DataFrame, decoder: Decoder = real_decoder) -> DataFrame:
    """Decode stage with injectable codec; plumbing (schema, batching,
    error-free row mapping) is identical for the real and fake decoder."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [], "n_frames": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, n = decoder(int(doc_id), bytes(payload))
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(n)
            yield pd.DataFrame(out)

    return assets.select("doc_id", "payload").mapInPandas(run, schema=DECODE_SCHEMA)


_FRAME_BYTES = 16


def frame_sample(assets: DataFrame, every_n: int = 3) -> DataFrame:
    """Frame-sampling stage: treat the payload as a sequence of fixed
    16-byte frames and keep every Nth — the batch shape of a video
    keyframe sampler (decode is the injectable part; the sampling
    cadence, fan-out, and one-row-per-frame output here are the real
    Spark plumbing). Linear in payload size, map-side only."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_hex": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                n_frames = (len(buf) + _FRAME_BYTES - 1) // _FRAME_BYTES
                for i in range(0, n_frames, every_n):
                    frame = buf[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_hex"].append(frame.hex().upper())
            yield pd.DataFrame(out)

    return assets.select("doc_id", "payload").mapInPandas(
        run, schema="doc_id bigint, frame_idx bigint, frame_hex string"
    )


def resize_media(
    assets: DataFrame,
    dst_w: int,
    dst_h: int,
    decoder: Decoder = real_decoder,
) -> DataFrame:
    """Resize stage: decode source dimensions (injectable codec, same
    contract as decode_media), emit target dimensions plus a payload
    downsampled to the dst byte budget by deterministic striding — the
    stand-in for a real interpolating resampler. One row in -> one row
    out; the payload column stays binary end-to-end."""

    budget = dst_w * dst_h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "src_w": [], "src_h": [],
                "dst_w": [], "dst_h": [], "resized": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                w, h, _ = decoder(int(doc_id), buf)
                stride = max(1, len(buf) // budget) if budget else 1
                out["doc_id"].append(doc_id)
                out["src_w"].append(w)
                out["src_h"].append(h)
                out["dst_w"].append(dst_w)
                out["dst_h"].append(dst_h)
                out["resized"].append(buf[::stride][:budget])
            yield pd.DataFrame(out)

    return assets.select("doc_id", "payload").mapInPandas(
        run,
        schema="doc_id bigint, src_w int, src_h int, "
        "dst_w int, dst_h int, resized binary",
    )


@register(
    name="frame_sample_profile",
    survey="UD4 F17",
    doc="Video-style frame sampling over binary payloads (every 3rd "
    "16-byte frame, one output row per kept frame) through an Arrow "
    "mapInPandas stage; the oracle recomputes each kept frame's hex "
    "straight from the utf-8 bytes in SQL, pinning cadence, indexing, "
    "and the short tail frame.",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, encode(text) AS raw,
                   (octet_length(encode(text)) + {_FRAME_BYTES - 1})
                       // {_FRAME_BYTES} AS n_frames
            FROM documents)
        SELECT doc_id,
               i AS frame_idx,
               substr(hex(raw), i * {_FRAME_BYTES * 2} + 1,
                      {_FRAME_BYTES * 2}) AS frame_hex
        FROM b, LATERAL (SELECT unnest(range(0, n_frames, 3)) AS i) s
    """,
)
def frame_sample_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample(spread(assets_from_documents(spark, sf_dir)), every_n=3)


@register(
    name="binary_meta_profile",
    survey="UD4 F7 A7 P6",
    doc="Opaque-binary metadata profile: byte length, content digest, "
    "magic-byte prefix (the hex head a format sniffer would dispatch on), "
    "all computed JVM-side on the binary payload — no Python in this path.",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               sha256(text) AS content_sha,
               substr(hex(encode(text)), 1, 8) AS magic_hex,
               'text' AS media_type
        FROM documents
    """,
)
def binary_meta_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assets_from_documents(spark, sf_dir).selectExpr(
        "doc_id",
        "octet_length(payload) AS n_bytes",
        "sha2(payload, 256) AS content_sha",
        "substr(hex(payload), 1, 8) AS magic_hex",
        "media_type",
    )


@register(
    name="byte_histogram_profile",
    survey="UD4 A7",
    doc="Arrow feature-extraction stage over binary payloads (mapInPandas, "
    "one row -> one histogram vector). Integer outputs; oracle recomputes "
    "the bucketed byte histogram from the utf-8 text bytes in SQL.",
    oracle=f"""
        WITH b AS (
            SELECT doc_id,
                   unnest(generate_series(1, octet_length(encode(text)))) AS i,
                   encode(text) AS raw
            FROM documents),
        codes AS (
            SELECT doc_id,
                   CAST(('0x' || substr(hex(raw), i * 2 - 1, 2)) AS INT) AS code
            FROM b)
        SELECT doc_id,
               code * {_HIST_BUCKETS} // 256 AS bucket,
               COUNT(*) AS n
        FROM codes
        GROUP BY 1, 2
    """,
)
def byte_histogram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = byte_histogram_features(
        spread(assets_from_documents(spark, sf_dir))
    )
    return (
        feats.select(
            "doc_id",
            F.posexplode("byte_hist").alias("bucket", "n"),
        )
        .where(F.col("n") > 0)
        .select("doc_id", F.col("bucket").cast("long"), F.col("n").cast("long"))
    )


_DST_W, _DST_H = 64, 64  # resize target (budget = W*H payload bytes)


@register(
    name="media_decode_resize_profile",
    survey="UD4 F17 A7",
    doc="The full multimodal stage chain decode -> resize -> profile as "
    "one registered query (VERDICT r03 item 7): decode_media and "
    "resize_media run with the injectable deterministic decoder (the "
    "real codec is env-gated — multimodal.py real_decoder), joined on "
    "doc_id, profiled per asset. Because the fake decoder and the "
    "striding resampler are pure functions of (payload bytes, doc_id), "
    "the whole chain gets a full DuckDB oracle — resized size is "
    "min(ceil(n/stride), budget) with stride max(1, n div budget) — "
    "rather than a rows-only check. Two Arrow mapInPandas stages over "
    "a spread() input; the join is a same-key zip of two map-side "
    "stages, shuffled once on doc_id. NOTE this deliberately runs BOTH "
    "stage signatures (decode_media and resize_media each invoke the "
    "decoder) to pin both plumbing contracts; a production pipeline "
    "with a costly codec would fuse them — resize_media already decodes "
    "once and could emit n_frames too, halving decode cost and "
    "dropping the join.",
    oracle=f"""
        WITH b AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n
            FROM documents),
        s AS (
            SELECT doc_id, n,
                   greatest(1, n // {_DST_W * _DST_H}) AS stride
            FROM b)
        SELECT doc_id,
               CAST(n % 640 + 1 AS BIGINT) AS width,
               CAST(n % 480 + 1 AS BIGINT) AS height,
               CAST(doc_id % 30 + 1 AS BIGINT) AS n_frames,
               CAST({_DST_W} AS BIGINT) AS dst_w,
               CAST({_DST_H} AS BIGINT) AS dst_h,
               CAST(least((n + stride - 1) // stride,
                          {_DST_W * _DST_H}) AS BIGINT) AS resized_bytes
        FROM s
    """,
)
def media_decode_resize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = spread(assets_from_documents(spark, sf_dir))
    decoded = decode_media(assets, decoder=fake_decoder)
    resized = resize_media(assets, _DST_W, _DST_H, decoder=fake_decoder)
    return decoded.join(resized, "doc_id").select(
        "doc_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.col("dst_w").cast("bigint").alias("dst_w"),
        F.col("dst_h").cast("bigint").alias("dst_h"),
        F.octet_length("resized").cast("bigint").alias("resized_bytes"),
    )


@register(
    name="png_decode_roundtrip_profile",
    survey="UD4 A7",
    doc="REAL image decode through the default Decoder seam (VERDICT r08 "
    "item 4 — the last honest stub, closed): per document, a grayscale "
    "PNG is built with the pure-stdlib encoder (functions/png.py, filter "
    "type cycling row%5 so all five scanline filters — None/Sub/Up/"
    "Average/Paeth — are on the wire), then decoded back with the "
    "pure-stdlib decoder real_decoder dispatches to (zlib inflate, CRC "
    "checks, per-filter unfiltering). The emitted width/height/pixel-sum "
    "are read from the DECODED image; the oracle recomputes them from "
    "the generation rule (width = n_bytes%24+2, height = doc_id%12+2, "
    "pixel(i) = (doc_id*31+i)%256), so any unfiltering or inflate bug "
    "hash-mismatches. One Arrow mapInPandas stage, map-side only, no "
    "shuffle; images are a few hundred pixels so the stage is "
    "CPU-linear in document count exactly like a production thumbnail "
    "audit over a sampled corpus.",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   octet_length(encode(text)) % 24 + 2 AS width,
                   doc_id % 12 + 2 AS height
            FROM documents)
        SELECT d.doc_id,
               CAST(d.width AS BIGINT) AS width,
               CAST(d.height AS BIGINT) AS height,
               CAST(sum((d.doc_id * 31 + s.i) % 256) AS BIGINT) AS pix_sum
        FROM d, LATERAL (
            SELECT unnest(range(d.width * d.height)) AS i) s
        GROUP BY 1, 2, 3
    """,
)
def png_decode_roundtrip_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions import png

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [], "pix_sum": []}
            for doc_id, n in zip(pdf["doc_id"], pdf["n_bytes"]):
                doc_id, n = int(doc_id), int(n)
                w, h = n % 24 + 2, doc_id % 12 + 2
                rows = [
                    bytes(
                        (doc_id * 31 + y * w + x) % 256 for x in range(w)
                    )
                    for y in range(h)
                ]
                payload = png.encode_png(rows, w)
                # decode through the SAME path real_decoder dispatches to
                dw, dh, _ch, drows = png.decode_png(payload)
                out["doc_id"].append(doc_id)
                out["width"].append(dw)
                out["height"].append(dh)
                out["pix_sum"].append(sum(b for r in drows for b in r))
            yield pd.DataFrame(out)

    src = spread(
        load(spark, sf_dir, "documents").selectExpr(
            "doc_id",
            "CAST(octet_length(encode(text, 'utf-8')) AS BIGINT) AS n_bytes",
        )
    )
    return src.mapInPandas(
        run,
        schema="doc_id bigint, width bigint, height bigint, pix_sum bigint",
    )


# --- image perceptual-hash near-dup (r11, VERDICT r10 item 4) -------------
# Deterministic image corpus: ~1/7 of documents each render a grayscale
# image whose ARCHETYPE (doc_id % 25) fixes dimensions and base pattern,
# with a single per-doc perturbed pixel — so same-archetype images are
# true near-duplicates (dHash Hamming <= 4) and cross-archetype images are
# not. Both engines derive pixels from the same closed-form rule; the
# ENGINE additionally round-trips every image through the real PNG codec
# (functions/png.py), so the oracle also pins encode/decode correctness.
_IDH_MOD = 7  # corpus sample: doc_id % 7 == 1
_IDH_ARCHS = 25  # archetype count
_IDH_HAM = 4  # near-dup refine threshold (bits of 64)


def _idh_pixels(doc_id: int) -> tuple[int, int, list[int]]:
    """(w, h, flat pixels) for a doc — the shared generation rule."""
    arch = doc_id % _IDH_ARCHS
    w, h = arch % 13 + 12, arch % 9 + 10
    pp, delta = doc_id % (w * h), doc_id % 48
    px = [
        (arch * 37 + i * (11 + arch) + (delta if i == pp else 0)) % 256
        for i in range(w * h)
    ]
    return w, h, px


_IDH_ORACLE = f"""
        WITH s AS (
            SELECT doc_id, doc_id % {{ARCHS}} AS arch
            FROM documents WHERE doc_id % {{MOD}} = 1),
        p AS (
            SELECT doc_id, arch,
                   arch % 13 + 12 AS w, arch % 9 + 10 AS h
            FROM s),
        cells AS (
            SELECT doc_id, arch, w, h, gy.y AS gy, gx.x AS gx,
                   (gy.y * h // 8) * w + (gx.x * w // 9) AS i
            FROM p,
                 LATERAL (SELECT unnest(range(8)) AS y) gy,
                 LATERAL (SELECT unnest(range(9)) AS x) gx),
        px AS (
            SELECT doc_id, gy, gx,
                   (arch * 37 + i * (11 + arch)
                    + CASE WHEN i = doc_id % (w * h)
                           THEN doc_id % 48 ELSE 0 END) % 256 AS pv
            FROM cells),
        bits AS (
            SELECT a.doc_id, a.gy, a.gx,
                   CASE WHEN b.pv > a.pv THEN 1 ELSE 0 END AS bit
            FROM px a JOIN px b
              ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
            WHERE a.gx < 8),
        bands AS (
            SELECT doc_id, gy // 2 AS band_idx,
                   CAST(sum(bit << ((gy % 2) * 8 + gx)) AS BIGINT)
                       AS band_val
            FROM bits GROUP BY 1, 2),
        wide AS (
            SELECT doc_id,
                   max(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
                   max(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
                   max(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
                   max(CASE WHEN band_idx = 3 THEN band_val END) AS b3
            FROM bands GROUP BY 1),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM (
            SELECT c.doc_a, c.doc_b,
                   CAST(bit_count(xor(wa.b0, wb.b0))
                      + bit_count(xor(wa.b1, wb.b1))
                      + bit_count(xor(wa.b2, wb.b2))
                      + bit_count(xor(wa.b3, wb.b3)) AS BIGINT) AS hamming
            FROM cand c
            JOIN wide wa ON c.doc_a = wa.doc_id
            JOIN wide wb ON c.doc_b = wb.doc_id)
        WHERE hamming <= {{HAM}}
"""


@register(
    name="image_dhash_near_dup",
    survey="D3 J9 UD4 A7",
    eager=True,  # fn materializes the hash table (3 consumers)
    doc="Image perceptual-hash near-duplicate pairs — the multimodal face "
    "of the dedup story (text already dedups five ways; images none "
    "until r11). Per sampled doc (doc_id%7==1) a grayscale image is "
    "rendered from a deterministic archetype rule, ENCODED to a real "
    "PNG and DECODED back through the pure-stdlib codec "
    "(functions/png.py — the roundtrip is lossless, so the DuckDB "
    "oracle recomputes identical integers straight from the rule, and "
    "any codec bug hash-mismatches), then dHashed: 9x8 nearest-neighbor "
    "downsample, 64 adjacent-pixel greater-than bits, split into FOUR "
    "16-BIT LSH BANDS (functions/imagehash.py). Candidates are the "
    "(band_idx, band_val) equi-join — the MinHash banding idiom, never "
    "all-pairs — refined by exact popcount Hamming <= 4. Same-archetype "
    "images differ in one perturbed pixel (<= 2 dHash bits each from "
    "base, <= 4 pairwise) so they pair; cross-archetype patterns differ "
    "everywhere and don't. At 100 TB: the hash stage is an Arrow "
    "map-side pass (real decoders slot into the same seam), the join "
    "shuffles on band keys, output is candidate-bounded.",
    oracle=_IDH_ORACLE.format(ARCHS=_IDH_ARCHS, MOD=_IDH_MOD, HAM=_IDH_HAM),
)
def image_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions import png
    from uk_procurement_data_pipeline_spark.functions.imagehash import (
        dhash_bands,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h, px = _idh_pixels(doc_id)
                rows = [bytes(px[y * w : (y + 1) * w]) for y in range(h)]
                # REAL codec roundtrip: the hash is computed from the
                # DECODED pixels, so the PNG path is on the oracle's hook
                dw, dh, _ch, drows = png.decode_png(png.encode_png(rows, w))
                flat = [b for r in drows for b in r]
                bands = dhash_bands(flat, dw, dh)
                out["doc_id"].append(doc_id)
                for k, v in zip(("b0", "b1", "b2", "b3"), bands):
                    out[k].append(v)
            yield pd.DataFrame(out)

    src = spread(
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % _IDH_MOD == 1)
        .select("doc_id")
    )
    # three consumers (band explode + both refine sides): hash once
    hashes = src.mapInPandas(
        run, schema="doc_id bigint, b0 bigint, b1 bigint, b2 bigint, b3 bigint"
    ).localCheckpoint(eager=True)
    bands = hashes.select(
        "doc_id",
        F.explode(
            F.expr(
                "array(named_struct('band_idx', 0L, 'band_val', b0),"
                "      named_struct('band_idx', 1L, 'band_val', b1),"
                "      named_struct('band_idx', 2L, 'band_val', b2),"
                "      named_struct('band_idx', 3L, 'band_val', b3))"
            )
        ).alias("bd"),
    ).select("doc_id", "bd.band_idx", "bd.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    wa = hashes.selectExpr(
        "doc_id AS doc_a", "b0 AS a0", "b1 AS a1", "b2 AS a2", "b3 AS a3"
    )
    wb = hashes.selectExpr(
        "doc_id AS doc_b", "b0 AS c0", "b1 AS c1", "b2 AS c2", "b3 AS c3"
    )
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(bit_count(a0 ^ c0) + bit_count(a1 ^ c1)"
            " + bit_count(a2 ^ c2) + bit_count(a3 ^ c3) AS BIGINT)"
            " AS hamming",
        )
        .where(F.col("hamming") <= _IDH_HAM)
        .select("doc_a", "doc_b", "hamming")
    )


@register(
    name="image_dhash_components",
    survey="D3 D1 A7 U1",
    eager=True,  # runs the near-dup hash stage (localCheckpoint) inside fn
    doc="Canonical-keep dedup CLUSTERS over the image dHash pair graph — "
    "the multimodal analog of minhash_components: pairwise near-dup "
    "hits (image_dhash_near_dup's banded-Hamming pairs) rarely form "
    "clean cliques, so grouping needs connected components; min-label "
    "propagation (functions/graph.py pointer-jumping union-find, "
    "log-diameter rounds) assigns every image its component's smallest "
    "doc_id, the canonical representative a curation pass keeps. "
    "Output: every image in a >=2 cluster with its component, cluster "
    "size, and is_canonical flag. Oracle: recursive CTE computing min "
    "reachable id over the identical pair set.",
    oracle=f"""
        WITH RECURSIVE pairs AS (
            {_IDH_ORACLE.format(ARCHS=_IDH_ARCHS, MOD=_IDH_MOD, HAM=_IDH_HAM)}
        ),
        e AS (SELECT doc_a AS s, doc_b AS t FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
        reach(s, r) AS (
            SELECT s, s FROM (SELECT DISTINCT s FROM e)
            UNION
            SELECT e.s, reach.r FROM e JOIN reach ON e.t = reach.s),
        comp AS (
            SELECT s AS doc_id, MIN(r) AS component FROM reach GROUP BY s)
        SELECT doc_id, component,
               COUNT(*) OVER (PARTITION BY component) AS component_size,
               CAST(doc_id = component AS BOOLEAN) AS is_canonical
        FROM comp
    """,
)
def image_dhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from uk_procurement_data_pipeline_spark.functions.graph import (
        connected_components,
    )

    pairs = image_dhash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    return comp.select(
        "doc_id",
        "component",
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .alias("component_size"),
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


# --- audio as a real multimodal column (r12, VERDICT r11 item 6) ----------
# Deterministic audio corpus: ~1/9 of documents each carry a 16-bit PCM
# clip whose ARCHETYPE (doc_id % 17) fixes length and base waveform, with
# one per-doc perturbed sample — so same-archetype clips are true near
# duplicates (feature diff confined to one analysis window) and
# cross-archetype clips differ everywhere. Both engines derive samples
# from the same closed-form integer rule; the ENGINE additionally
# round-trips every clip through the real RIFF/PCM codec
# (functions/wav.py), so the oracle also pins encode/decode correctness —
# the exact contract the PNG/dHash family established for images.
_AUD_MOD, _AUD_REM = 9, 2  # corpus sample: doc_id % 9 == 2
_AUD_ARCHS = 17  # archetype count
_AUD_WIN = 64  # feature window (samples)
_AUD_NDIFF = 2  # near-dup refine: max differing windows per pair


def _aud_samples(doc_id: int) -> list[int]:
    """Int16 sample stream for a doc — the shared generation rule."""
    arch = doc_id % _AUD_ARCHS
    n = 256 + (arch % 4) * 64
    pp, delta = doc_id % n, doc_id % 97
    return [
        ((arch * 7 + 3) * i * i + (arch + 1) * i * 31 + arch * 17) % 4096
        - 2048
        + (delta if i == pp else 0)
        for i in range(n)
    ]


_AUD_ORACLE_FEAT = f"""
        s AS (
            SELECT doc_id, doc_id % {_AUD_ARCHS} AS arch
            FROM documents WHERE doc_id % {_AUD_MOD} = {_AUD_REM}),
        p AS (
            SELECT doc_id, arch, 256 + (arch % 4) * 64 AS n FROM s),
        samp AS (
            SELECT doc_id, n, t.i AS i,
                   ((arch * 7 + 3) * t.i * t.i + (arch + 1) * t.i * 31
                    + arch * 17) % 4096 - 2048
                   + CASE WHEN t.i = doc_id % n THEN doc_id % 97
                          ELSE 0 END AS sv
            FROM p, LATERAL (SELECT unnest(range(n)) AS i) t),
        feat AS (
            SELECT doc_id, i // {_AUD_WIN} AS window_idx,
                   CAST(SUM(sv * sv) AS BIGINT) AS energy,
                   CAST(SUM(CASE WHEN i % {_AUD_WIN} > 0 AND sv * prev < 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS zcross
            FROM (SELECT doc_id, i, sv,
                         lag(sv) OVER (PARTITION BY doc_id ORDER BY i)
                             AS prev
                  FROM samp)
            GROUP BY 1, 2)"""


def _audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, window_idx, energy, zcross) for every sampled doc,
    computed from samples that went THROUGH the real WAV codec — encode
    to RIFF bytes, decode back, featurize the decoded stream. A codec
    bug (dropped frame, sign flip, misread chunk) changes the integers
    and hash-mismatches the rule-recomputing oracle."""
    from uk_procurement_data_pipeline_spark.functions import wav

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [],
                "window_idx": [],
                "energy": [],
                "zcross": [],
            }
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                payload = wav.encode_wav(_aud_samples(doc_id))
                _rate, _ch, back = wav.decode_wav(payload)
                for widx, energy, zc in wav.window_features(back, _AUD_WIN):
                    out["doc_id"].append(doc_id)
                    out["window_idx"].append(widx)
                    out["energy"].append(energy)
                    out["zcross"].append(zc)
            yield pd.DataFrame(out)

    src = spread(
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % _AUD_MOD == _AUD_REM)
        .select("doc_id")
    )
    return src.mapInPandas(
        run,
        schema="doc_id bigint, window_idx bigint, energy bigint,"
        " zcross bigint",
    )


@register(
    name="audio_window_features",
    survey="UD4 A7 F17",
    doc="Per-window audio feature extraction over the binary-column seam "
    "— the audio analog of png_decode_roundtrip_profile: each sampled "
    "doc's deterministic PCM clip is ENCODED to a real RIFF/WAVE file "
    "and DECODED back through the pure-stdlib codec (functions/wav.py: "
    "chunk-walking parser, strict PCM error contract), then featurized "
    f"in {_AUD_WIN}-sample windows as exact-integer energy (sum of "
    "squares) and zero-crossing counts — the standard cheap acoustic "
    "profile a curation pass runs before any model-based scoring. At "
    "100 TB: a map-side Arrow stage over the payload column, no "
    "shuffle; the oracle recomputes the identical integers from the "
    "generation rule, so the codec roundtrip is value-pinned.",
    oracle=f"""
        WITH {_AUD_ORACLE_FEAT}
        SELECT doc_id, window_idx, energy, zcross FROM feat
    """,
)
def audio_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _audio_features(spark, sf_dir)


@register(
    name="audio_feature_near_dup",
    survey="D3 J9 UD4 A7",
    eager=True,  # fn materializes the feature table (3 consumers)
    doc="Audio near-duplicate pairs via banded feature signatures — the "
    "audio face of the dedup story (text dedups six ways, images two; "
    "audio none until r12). Windowed integer features "
    "(audio_window_features' energy/zcross through the REAL WAV codec) "
    "are grouped into 4 contiguous bands per clip; the band signature "
    "is the md5 of the band's ordered feature string, candidates are "
    "the (band_idx, band_key) equi-join — the MinHash banding idiom, "
    "never all-pairs: a one-sample perturbation changes at most ONE "
    "window, hence at most one band, so same-archetype clips collide "
    "on >= 3 of 4 bands while cross-archetype clips share none. Refine "
    "= exact per-window comparison over candidates only: pairs with "
    f"equal window counts and <= {_AUD_NDIFF} differing windows. At "
    "100 TB the feature pass is map-side Arrow, the join shuffles on "
    "band keys, and the refine is candidate-bounded.",
    oracle=f"""
        WITH {_AUD_ORACLE_FEAT},
        nwt AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS nw
            FROM feat GROUP BY 1),
        bf AS (
            SELECT f.doc_id, f.window_idx, f.energy, f.zcross,
                   f.window_idx * 4 // w.nw AS band_idx
            FROM feat f JOIN nwt w USING (doc_id)),
        bands AS (
            SELECT doc_id, band_idx,
                   md5(string_agg(
                       CAST(energy AS VARCHAR) || ':'
                           || CAST(zcross AS VARCHAR),
                       '|' ORDER BY window_idx)) AS band_key
            FROM bf GROUP BY 1, 2),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, n_diff FROM (
            SELECT c.doc_a, c.doc_b,
                   CAST(SUM(CASE WHEN fa.energy <> fb.energy
                                   OR fa.zcross <> fb.zcross
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_diff
            FROM cand c
            JOIN nwt na ON na.doc_id = c.doc_a
            JOIN nwt nb ON nb.doc_id = c.doc_b AND nb.nw = na.nw
            JOIN feat fa ON fa.doc_id = c.doc_a
            JOIN feat fb ON fb.doc_id = c.doc_b
                        AND fb.window_idx = fa.window_idx
            GROUP BY 1, 2)
        WHERE n_diff <= {_AUD_NDIFF}
    """,
)
def audio_feature_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # three consumers (band build + both refine sides): featurize once
    feat = _audio_features(spark, sf_dir).localCheckpoint(eager=True)
    nwt = feat.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nw")
    )
    bf = feat.join(nwt, "doc_id").selectExpr(
        "doc_id",
        "window_idx",
        "energy",
        "zcross",
        "(window_idx * 4) div nw AS band_idx",
    )
    bands = bf.groupBy("doc_id", "band_idx").agg(
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("window_idx", "energy", "zcross")
                        )
                    ),
                    lambda x: F.concat(
                        x["energy"].cast("string"),
                        F.lit(":"),
                        x["zcross"].cast("string"),
                    ),
                ),
            )
        ).alias("band_key")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    na = nwt.selectExpr("doc_id AS doc_a", "nw AS nw_a")
    nb = nwt.selectExpr("doc_id AS doc_b", "nw AS nw_b")
    fa = feat.selectExpr(
        "doc_id AS doc_a", "window_idx", "energy AS ea", "zcross AS za"
    )
    fb = feat.selectExpr(
        "doc_id AS doc_b", "window_idx", "energy AS eb", "zcross AS zb"
    )
    return (
        cand.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(F.col("nw_a") == F.col("nw_b"))
        .join(fa, "doc_a")
        .join(fb, ["doc_b", "window_idx"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.when(
                    (F.col("ea") != F.col("eb"))
                    | (F.col("za") != F.col("zb")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_diff")
        )
        .where(F.col("n_diff") <= _AUD_NDIFF)
    )


# --- video as a frame-sampled multimodal column (r12) ----------------------
# Deterministic video corpus: ~1/13 of documents each carry a short clip
# whose ARCHETYPE (doc_id % 21) fixes frame count, dimensions and the
# per-frame base pattern, with ONE per-doc perturbed pixel in ONE frame —
# so same-archetype clips are true near-duplicates (they agree on all but
# at most two sampled frames pairwise) and cross-archetype clips share no
# frame. The engine renders every sampled frame, round-trips it through
# the REAL PNG codec, and dHashes the decoded pixels; the oracle
# recomputes the dHash band integers straight from the generation rule at
# the 9x8 grid points only — content-based copy detection (CBCD) the way
# production systems do it: per-frame perceptual hash, frame-level
# equi-join, clip-level agreement count. Never all-pairs.
_VID_MOD, _VID_REM = 13, 4  # corpus sample: doc_id % 13 == 4
_VID_ARCHS = 21  # archetype count


def _vid_frame_pixels(doc_id: int, f: int) -> tuple[int, int, list[int]]:
    """(w, h, flat pixels) of frame f — the shared generation rule."""
    arch = doc_id % _VID_ARCHS
    w, h = arch % 11 + 12, arch % 7 + 10
    nframes = 4 + arch % 3
    pf, pp, delta = doc_id % nframes, doc_id % (w * h), doc_id % 29
    px = [
        (arch * 31 + f * 53 + i * (7 + arch)
         + (delta if (f == pf and i == pp) else 0)) % 256
        for i in range(w * h)
    ]
    return w, h, px


@register(
    name="video_frame_hash_near_dup",
    survey="D3 J9 UD4 A7",
    doc="Video near-duplicate pairs via frame-sampled perceptual hashes — "
    "the video face of the dedup story, completing the image/audio/"
    "video multimodal triple. Each sampled doc's clip (4-6 deterministic "
    "frames) has every frame ENCODED+DECODED through the real stdlib "
    "PNG codec and dHashed (functions/imagehash.py, four 16-bit bands "
    "= the exact 64-bit hash); candidates are the (frame_slot, b0..b3) "
    "equi-join — exact frame-hash matching at aligned slots, the CBCD "
    "shape — and a pair is a near-dup when the clips have equal frame "
    "counts and agree on all but at most 2 frames (each doc perturbs "
    "one pixel of one frame, which can flip at most that frame's "
    "hash). At 100 TB: hashing is one map-side Arrow pass over the "
    "payload column, the join shuffles on 64-bit frame keys, output "
    "is candidate-bounded; cross-archetype clips share zero frames so "
    "the join never approaches pair cardinality.",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, doc_id % {_VID_ARCHS} AS arch
            FROM documents WHERE doc_id % {_VID_MOD} = {_VID_REM}),
        p AS (
            SELECT doc_id, arch, arch % 11 + 12 AS w, arch % 7 + 10 AS h,
                   4 + arch % 3 AS nframes
            FROM s),
        frames AS (
            SELECT doc_id, arch, w, h, nframes, fr.f AS f
            FROM p, LATERAL (SELECT unnest(range(nframes)) AS f) fr),
        cells AS (
            SELECT doc_id, arch, w, h, nframes, f,
                   gy.y AS gy, gx.x AS gx,
                   (gy.y * h // 8) * w + (gx.x * w // 9) AS i
            FROM frames,
                 LATERAL (SELECT unnest(range(8)) AS y) gy,
                 LATERAL (SELECT unnest(range(9)) AS x) gx),
        px AS (
            SELECT doc_id, nframes, f, gy, gx,
                   (arch * 31 + f * 53 + i * (7 + arch)
                    + CASE WHEN f = doc_id % nframes
                            AND i = doc_id % (w * h)
                           THEN doc_id % 29 ELSE 0 END) % 256 AS pv
            FROM cells),
        bits AS (
            SELECT a.doc_id, a.nframes, a.f, a.gy, a.gx,
                   CASE WHEN b.pv > a.pv THEN 1 ELSE 0 END AS bit
            FROM px a JOIN px b
              ON b.doc_id = a.doc_id AND b.f = a.f
             AND b.gy = a.gy AND b.gx = a.gx + 1
            WHERE a.gx < 8),
        bands AS (
            SELECT doc_id, nframes, f, gy // 2 AS band_idx,
                   CAST(sum(bit << ((gy % 2) * 8 + gx)) AS BIGINT)
                       AS band_val
            FROM bits GROUP BY 1, 2, 3, 4),
        fh AS (
            SELECT doc_id, nframes, f,
                   max(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
                   max(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
                   max(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
                   max(CASE WHEN band_idx = 3 THEN band_val END) AS b3
            FROM bands GROUP BY 1, 2, 3)
        SELECT doc_a, doc_b, n_frames, n_shared FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(a.nframes AS BIGINT) AS n_frames,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM fh a JOIN fh b
              ON a.f = b.f AND a.nframes = b.nframes
             AND a.b0 = b.b0 AND a.b1 = b.b1
             AND a.b2 = b.b2 AND a.b3 = b.b3
             AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3)
        WHERE n_shared >= n_frames - 2
    """,
)
def video_frame_hash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uk_procurement_data_pipeline_spark.functions import png
    from uk_procurement_data_pipeline_spark.functions.imagehash import (
        dhash_bands,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "nframes": [], "f": [],
                "b0": [], "b1": [], "b2": [], "b3": [],
            }
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                nframes = 4 + (doc_id % _VID_ARCHS) % 3
                for f in range(nframes):
                    w, h, px = _vid_frame_pixels(doc_id, f)
                    rows = [
                        bytes(px[y * w : (y + 1) * w]) for y in range(h)
                    ]
                    # REAL codec roundtrip per frame: the hash is computed
                    # from DECODED pixels, so PNG is on the oracle's hook
                    dw, dh, _ch, drows = png.decode_png(
                        png.encode_png(rows, w)
                    )
                    flat = [b for r in drows for b in r]
                    bands = dhash_bands(flat, dw, dh)
                    out["doc_id"].append(doc_id)
                    out["nframes"].append(nframes)
                    out["f"].append(f)
                    for k, v in zip(("b0", "b1", "b2", "b3"), bands):
                        out[k].append(v)
            yield pd.DataFrame(out)

    src = spread(
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % _VID_MOD == _VID_REM)
        .select("doc_id")
    )
    fh = src.mapInPandas(
        run,
        schema="doc_id bigint, nframes bigint, f bigint,"
        " b0 bigint, b1 bigint, b2 bigint, b3 bigint",
    )
    a, b = fh.alias("a"), fh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.nframes") == F.col("b.nframes"))
            & (F.col("a.b0") == F.col("b.b0"))
            & (F.col("a.b1") == F.col("b.b1"))
            & (F.col("a.b2") == F.col("b.b2"))
            & (F.col("a.b3") == F.col("b.b3"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.nframes").cast("bigint").alias("n_frames"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= F.col("n_frames") - 2)
        .select("doc_a", "doc_b", "n_frames", "n_shared")
    )


@register(
    name="audio_silence_islands",
    survey="UD4 A7 W1 W2 F17",
    eager=True,  # fn materializes via localCheckpoint; time fn+action together (r12 honest-timing fix)
    doc="Silence segmentation over the decoded audio feature stream — "
    "the VAD-shaped trim/segment pass a speech-data curation pipeline "
    "runs before transcription or training-clip extraction: a window "
    "is 'low' iff energy * n_windows < total_energy (the strictly-"
    "integer spelling of below-doc-mean, no float threshold), runs of "
    "consecutive low windows become islands via the gaps-and-islands "
    "idiom (window_idx minus per-doc row_number over low windows), "
    "and the emitted per-clip profile is the curation contract: "
    "island count, longest low run, and the first/last ACTIVE window "
    "(-1 sentinel when none) — exactly the leading/trailing trim "
    "boundaries. Features come through the real RIFF/PCM codec "
    "(functions/wav.py) like every audio entry, so the oracle's "
    "rule-recomputed integers keep pinning the decode path. At "
    "100 TB: map-side Arrow featurization, one per-doc window pass, "
    "output one row per clip.",
    oracle=f"""
        WITH {_AUD_ORACLE_FEAT},
        tot AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
                   CAST(SUM(energy) AS BIGINT) AS se
            FROM feat GROUP BY 1),
        fl AS (
            SELECT f.doc_id, f.window_idx,
                   CASE WHEN f.energy * t.nw < t.se THEN 1 ELSE 0 END AS low
            FROM feat f JOIN tot t USING (doc_id)),
        isl AS (
            SELECT doc_id, window_idx,
                   window_idx - row_number() OVER (
                       PARTITION BY doc_id ORDER BY window_idx) AS grp
            FROM fl WHERE low = 1),
        seg AS (
            SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run_len
            FROM isl GROUP BY 1, 2),
        segagg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
                   MAX(run_len) AS longest_low_run
            FROM seg GROUP BY 1),
        act AS (
            SELECT doc_id,
                   MIN(CASE WHEN low = 0 THEN window_idx END) AS first_active,
                   MAX(CASE WHEN low = 0 THEN window_idx END) AS last_active,
                   CAST(SUM(low) AS BIGINT) AS n_low
            FROM fl GROUP BY 1)
        SELECT t.doc_id, t.nw AS n_windows, a.n_low,
               CAST(COALESCE(s.n_islands, 0) AS BIGINT) AS n_islands,
               CAST(COALESCE(s.longest_low_run, 0) AS BIGINT)
                   AS longest_low_run,
               CAST(COALESCE(a.first_active, -1) AS BIGINT) AS first_active,
               CAST(COALESCE(a.last_active, -1) AS BIGINT) AS last_active
        FROM tot t
        JOIN act a USING (doc_id)
        LEFT JOIN segagg s USING (doc_id)
    """,
)
def audio_silence_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    feat = _audio_features(spark, sf_dir).localCheckpoint(eager=True)
    tot = feat.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nw"),
        F.sum("energy").cast("bigint").alias("se"),
    )
    fl = feat.join(tot, "doc_id").selectExpr(
        "doc_id",
        "window_idx",
        "nw",
        "CASE WHEN energy * nw < se THEN 1 ELSE 0 END AS low",
    )
    wi = Window.partitionBy("doc_id").orderBy("window_idx")
    seg = (
        fl.where("low = 1")
        .withColumn("grp", F.col("window_idx") - F.row_number().over(wi))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
    )
    segagg = seg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.max("run_len").alias("longest_low_run"),
    )
    act = fl.groupBy("doc_id").agg(
        F.expr("MIN(CASE WHEN low = 0 THEN window_idx END)").alias(
            "first_active"
        ),
        F.expr("MAX(CASE WHEN low = 0 THEN window_idx END)").alias(
            "last_active"
        ),
        F.sum("low").cast("bigint").alias("n_low"),
    )
    return (
        tot.join(act, "doc_id")
        .join(segagg, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "nw AS n_windows",
            "n_low",
            "CAST(COALESCE(n_islands, 0) AS BIGINT) AS n_islands",
            "CAST(COALESCE(longest_low_run, 0) AS BIGINT)"
            " AS longest_low_run",
            "CAST(COALESCE(first_active, -1) AS BIGINT) AS first_active",
            "CAST(COALESCE(last_active, -1) AS BIGINT) AS last_active",
        )
    )
