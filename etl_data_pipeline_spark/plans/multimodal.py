"""Multimodal pipeline queries (north star: binary payload columns with
typed metadata, Arrow-batched decode/feature-extract plumbing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    audio_energy_features,
    decode_audio_stats,
    decode_image_stats,
    decode_video_stats,
    extract_features,
    image_histogram_features,
    resize_payloads,
    sample_frames,
)
from etl_data_pipeline_spark.plans.registry import query


@query(
    "mm_features",
    oracle="""
    SELECT doc_id,
           'text' AS modality,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS payload_bytes,
           CAST(CASE WHEN OCTET_LENGTH(ENCODE(text)) = 0 THEN -1
                     ELSE ('0x' || SUBSTR(HEX(ENCODE(text)), 1, 2))::BIGINT
                END AS BIGINT) AS first_byte,
           (OCTET_LENGTH(ENCODE(text)) % 251) / 251.0 AS feature
    FROM documents
    """,
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: binary payload + metadata struct -> mapInPandas feature
    extraction. The per-payload stats here are a deterministic format-
    agnostic stand-in body (byte stats + rolling checksum); the REAL
    format decoders live beside it in operators/multimodal.py and are
    exercised by the mm_decode_image/audio/video queries. The checksum
    column is excluded from the oracle (iterative hash isn't
    SQL-expressible) and verified by the in-repo unit test instead."""
    d = load_table(spark, sf_dir, "documents")
    mm = attach_binary_payload(d)
    return extract_features(mm).select(
        "doc_id", "modality", "payload_bytes", "first_byte", "feature"
    )


@query(
    "mm_resize",
    oracle="""
    SELECT doc_id,
           CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(64 AS BIGINT) AS resized_bytes,
           CAST(LEAST(OCTET_LENGTH(ENCODE(text)), 64) AS BIGINT)
             AS content_bytes
    FROM documents
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage: binary->binary mapInPandas with declared
    schema (deterministic truncate/zero-pad stand-in body; see
    operators/multimodal.py — a real PIL resample slots into the same
    batch loop).

    The binary payload itself can't be hashed cross-engine, so the
    driver-checked projection is the resize CONTRACT: every output is
    exactly width*height bytes (``resized_bytes``), of which the first
    min(|payload|, 64) are source content and the rest zero padding
    (``content_bytes`` counts the bytes before the trailing zero run,
    computed from the resized binary itself — Spark-side only, then
    cross-checked against the source length in the oracle). Byte-for-byte
    payload equality is asserted by
    tests/test_operators.py::test_mm_resize_matches_python.
    """
    d = load_table(spark, sf_dir, "documents")
    resized = resize_payloads(attach_binary_payload(d))
    # content_bytes: strip the zero-pad from the resized binary and
    # measure what's left (document text contains no NUL bytes, so the
    # trailing zero run is exactly the padding).
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.octet_length("resized").cast("long").alias("resized_bytes"),
        # ISO-8859-1 decode is byte<->char 1:1, so CHAR length of the
        # zero-stripped string == BYTE count of the content prefix
        # (octet_length would re-encode to UTF-8 and inflate bytes >127).
        F.length(
            F.regexp_replace(
                F.decode(F.col("resized"), "ISO-8859-1"), "\x00+$", ""
            )
        )
        .cast("long")
        .alias("content_bytes"),
    )


@query(
    "mm_decode_image",
    oracle="""
    SELECT doc_id,
           CAST(16 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           CAST(64 AS BIGINT) AS n_pixels,
           CAST(CASE WHEN OCTET_LENGTH(ENCODE(text)) = 0 THEN 0
                     ELSE ('0x' || SUBSTR(HEX(ENCODE(text)), 1, 2))::BIGINT
                END AS BIGINT) AS first_r
    FROM documents
    """,
)
def mm_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal REAL image decode: each document's bytes are packed
    into a PPM P6 payload (public Netpbm format) and pushed through
    ``decode_image`` — an actual header parse + numpy reshape, not a
    stub — inside one Arrow-batched mapInPandas hop. The oracle
    cross-checks decoded dimensions and the first red-channel pixel
    (== the document's first byte) from the source table; full-array
    equality is asserted in tests/test_operators.py. JPEG/PNG still
    raise NotImplementedError (PIL absent in this container) — the
    dispatch is by magic bytes, so those fail loudly."""
    d = load_table(spark, sf_dir, "documents")
    return decode_image_stats(d)


@query(
    "mm_decode_audio",
    oracle="""
    WITH n AS (
      SELECT doc_id, GREATEST(LEAST(n_chars, 128), 1) AS n_samples
      FROM documents
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST((doc_id * 7919) % 20001 - 10000 AS BIGINT) AS first_sample,
           CAST((doc_id * 7919 + (n_samples - 1) * 31) % 20001 - 10000
                AS BIGINT) AS last_sample
    FROM n
    """,
)
def mm_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal REAL audio decode: a deterministic int16 signal per
    document is written as a PCM16 WAV (RIFF chunk layout, the public
    on-disk format) and pushed through ``decode_audio`` — an actual
    struct parse of fmt/data chunks — in one mapInPandas hop. The
    oracle recomputes rate/channels/sample count and the first/last
    sample values in SQL from (doc_id, n_chars), so the decode is
    content-verified cross-engine. MP3/OGG raise NotImplementedError."""
    d = load_table(spark, sf_dir, "documents")
    return decode_audio_stats(d)


@query(
    "mm_decode_video",
    oracle="""
    WITH f AS (
      SELECT doc_id, text,
             GREATEST(LEAST(CAST(FLOOR(OCTET_LENGTH(ENCODE(text)) / 64.0)
                                 AS BIGINT), 5), 1) AS n_frames
      FROM documents
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           n_frames,
           CAST(CEIL(n_frames / 2.0) AS BIGINT) AS n_sampled,
           CAST(CASE WHEN OCTET_LENGTH(ENCODE(text)) = 0 THEN 0
                     ELSE ('0x' || SUBSTR(HEX(ENCODE(text)), 1, 2))::BIGINT
                END AS BIGINT) AS first_y
    FROM f
    """,
)
def mm_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal REAL video frame sampling: document bytes become 8x8 Y
    planes in a Y4M (YUV4MPEG2) stream — the public plain-header raw
    format — and ``sample_video_frames`` genuinely parses the stream
    header + FRAME markers, returning every 2nd plane. Oracle checks
    decoded dims, frame arity, sampled arity, and the first luma byte.
    MP4/MKV raise NotImplementedError (pyav/opencv absent)."""
    d = load_table(spark, sf_dir, "documents")
    return decode_video_stats(d)


@query(
    "mm_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             GREATEST(CAST(FLOOR(OCTET_LENGTH(ENCODE(text)) / 32.0)
                           AS BIGINT), 1) AS n_frames
      FROM documents
    )
    SELECT doc_id, CAST(CEIL(n_frames / 4.0) AS BIGINT) AS n_sampled
    FROM f
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: one-to-many mapInPandas fan-out; the
    oracle checks the fan-out arity per document (frame count from the
    payload size), proving the batch-shape contract."""
    d = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_binary_payload(d))
    return frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sampled"))


@query(
    "mm_audio_energy",
    oracle="""
    WITH n AS (
      SELECT doc_id, GREATEST(LEAST(n_chars, 128), 1) AS ns
      FROM documents
    ), v AS (
      SELECT doc_id, ns, i.i,
             (doc_id * 7919 + i.i * 31) % 20001 - 10000 AS s
      FROM n CROSS JOIN LATERAL (SELECT UNNEST(RANGE(ns)) AS i) i
    ), z AS (
      SELECT doc_id, ns, s,
             LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM v
    )
    SELECT doc_id,
           CAST(MAX(ns) AS BIGINT) AS n_samples,
           CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND ((s < 0) != (prev < 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
    FROM z GROUP BY doc_id
    """,
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio FEATURE EXTRACTION (the step after decode): RMS
    energy components, peak amplitude, and zero-crossing rate computed
    from genuinely-decoded PCM16 samples (operators/multimodal.py
    ``audio_energy_features``). The oracle regenerates the deterministic
    signal from its closed form and recomputes every feature in exact
    BIGINT SQL — so the parity check certifies the decode AND the signal
    math, not just row shapes."""
    d = load_table(spark, sf_dir, "documents")
    return audio_energy_features(d)


@query(
    "mm_image_histogram",
    oracle="""
    WITH b AS (
      SELECT doc_id, ENCODE(text) AS raw,
             OCTET_LENGTH(ENCODE(text)) AS len
      FROM documents
    ), px AS (
      SELECT doc_id,
             CASE WHEN len = 0 THEN 0
                  ELSE ('0x' || SUBSTR(HEX(raw),
                                       2 * (i.range % len) + 1, 2))::BIGINT
             END AS byte
      FROM b CROSS JOIN RANGE(192) i
    )
    SELECT doc_id, byte // 16 AS bin, CAST(COUNT(*) AS BIGINT) AS n
    FROM px GROUP BY doc_id, byte // 16
    """,
)
def mm_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image FEATURE EXTRACTION (the step after decode): a
    16-bucket intensity histogram over every RGB byte of the genuinely-
    decoded 16x4 PPM pixel array (operators/multimodal.py
    ``image_histogram_features``) — the mm_audio_energy sibling for the
    image leg. The oracle regenerates the cycled pixel bytes from the
    document's utf-8 encoding in SQL (byte i = raw[i mod len]), so the
    decode AND the binning arithmetic are hash-certified."""
    d = load_table(spark, sf_dir, "documents")
    return image_histogram_features(d)
