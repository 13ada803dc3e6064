"""Multimodal column handling (SURVEY §2.13): opaque binary payloads +
typed metadata, processed with Arrow-batched `mapInPandas`.

The decode step (image/audio libraries) is STUBBED — the container has
no codecs — but the Spark-side plumbing is real: binary column
construction, schema, partition-sized Arrow batches, and the pandas
UDF signature are exactly what a real decoder plugs into.

Scale notes: mapInPandas streams Arrow batches (no per-row Python
overhead); payload columns should be read lazily (binary column kept
out of any shuffle — features are extracted before joins/aggregates,
then the payload is dropped).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

_FEATURE_SCHEMA = "doc_id bigint, n_bytes int, first_byte int, byte_checksum bigint, decode_status string"


def make_feature_extractor():
    """Arrow-batched feature extractor over binary payloads.

    Deterministic stub features (length, first byte, additive
    checksum) stand in for real embeddings/thumbnails; the batch shape
    and schema are the real contract.

    Returned as a closure (not a module-level function) so cloudpickle
    ships it by value — Spark's Python workers do not have this repo
    on their import path when the driver runs from elsewhere."""

    def extract(batches: Iterator["object"]) -> Iterator["object"]:
        for pdf in batches:
            payloads = pdf["content"]
            pdf_out = pdf[["doc_id"]].copy()
            pdf_out["n_bytes"] = [len(b) for b in payloads]
            pdf_out["first_byte"] = [(b[0] if len(b) else -1) for b in payloads]
            pdf_out["byte_checksum"] = [int(sum(b) % 2_147_483_647) for b in payloads]
            pdf_out["decode_status"] = "stub"
            yield pdf_out

    return extract


def m1_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: documents.text encoded as utf-8 binary
    payload (standing in for image bytes) + metadata struct →
    mapInPandas feature extraction → metadata join → aggregate.
    Oracle replicates the stub features with SQL byte functions."""
    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.struct(F.col("source"), F.col("lang"), F.col("n_chars")).alias("meta"),
    )
    feats = media.select("doc_id", "content").mapInPandas(make_feature_extractor(), _FEATURE_SCHEMA)
    joined = feats.join(media.select("doc_id", "meta.source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("byte_checksum").alias("checksum"),
            F.min("first_byte").alias("min_first_byte"),
            F.max("first_byte").alias("max_first_byte"),
            F.count(F.when(F.col("decode_status") == "stub", 1)).alias("n_stub"),
        )
        .orderBy("source")
    )


def m2_grouped_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the third pandas-exchange shape next
    to mapInPandas/m1 and applyInPandasWithState/r3): per-event-type
    z-score normalization of values. The UDF sorts its group before
    reducing so pandas' sequential sums are deterministic; compare at
    %.4f (cross-engine mean/std accumulation differs in the last ulp).
    """
    d = load_table(spark, sf_dir, "events")

    def make_normalizer():
        def normalize(pdf):
            pdf = pdf.sort_values("event_id")
            v = pdf["value"]
            mean, std = v.mean(), v.std(ddof=1)
            out = pdf[["event_id", "event_type"]].copy()
            out["z"] = (v - mean) / std
            return out

        return normalize

    res = (
        d.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(make_normalizer(), "event_id bigint, event_type string, z double")
    )
    return (
        res.filter(F.col("event_id") < 100)
        .select("event_id", "event_type", F.format_string("%.4f", F.col("z")).alias("z"))
        .orderBy("event_id")
    )


M2_ORACLE = """
WITH stats AS (
  SELECT event_id, event_type, value,
         AVG(value) OVER (PARTITION BY event_type) AS mu,
         STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS sigma
  FROM events
)
SELECT event_id, event_type, printf('%.4f', (value - mu) / sigma) AS z
FROM stats WHERE event_id < 100 ORDER BY event_id
"""


_FRAME_BYTES = 32
_FRAME_STRIDE = 3  # sample frames 0, 3, 6, ...
_THUMB_STEP = 4    # "resize": every 4th byte of a sampled frame

_FRAME_SCHEMA = (
    "doc_id bigint, n_frames int, n_sampled int, frame_checksum bigint, thumb_checksum bigint"
)


def make_frame_sampler():
    """Video-shaped mapInPandas stage: fixed-size frames cut from the
    binary payload, every `_FRAME_STRIDE`-th frame sampled, each
    sampled frame 'resized' by taking every `_THUMB_STEP`-th byte (the
    thumbnail stand-in). A real frame decoder (pyav/ffmpeg — not in
    this container) plugs into the same batch shape. Closure so
    cloudpickle ships it by value."""

    def sample(batches: Iterator["object"]) -> Iterator["object"]:
        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            n_frames, n_sampled, f_sum, t_sum = [], [], [], []
            for b in pdf["content"]:
                frames = [
                    b[i : i + _FRAME_BYTES] for i in range(0, len(b), _FRAME_BYTES)
                ]
                sampled = frames[:: _FRAME_STRIDE]
                n_frames.append(len(frames))
                n_sampled.append(len(sampled))
                f_sum.append(sum(sum(f) for f in sampled))
                t_sum.append(sum(sum(f[:: _THUMB_STEP]) for f in sampled))
            out["n_frames"] = n_frames
            out["n_sampled"] = n_sampled
            out["frame_checksum"] = f_sum
            out["thumb_checksum"] = t_sum
            yield out

    return sample


def m3_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling + resize over a synthetic 256-byte 'video'
    payload (md5 hex of the text repeated 8× — deterministic and
    ASCII-pure so the oracle's codepoint arithmetic IS byte
    arithmetic; real corpora would carry actual media bytes through
    the identical plumbing). Aggregated per source."""
    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        "doc_id",
        "source",
        F.encode(F.repeat(F.md5(F.col("text")), 8), "utf-8").alias("content"),
    )
    frames = media.select("doc_id", "content").mapInPandas(
        make_frame_sampler(), _FRAME_SCHEMA
    )
    return (
        frames.join(media.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_frames").alias("total_frames"),
            F.sum("n_sampled").alias("total_sampled"),
            F.sum("frame_checksum").alias("frame_checksum"),
            F.sum("thumb_checksum").alias("thumb_checksum"),
        )
        .orderBy("source")
    )


M3_ORACLE = f"""
WITH rep AS MATERIALIZED (
  SELECT doc_id, source, repeat(md5(text), 8) AS payload FROM documents
), per_doc AS (
  SELECT doc_id, source,
         CAST(ceil(length(payload) / {_FRAME_BYTES}.0) AS INT) AS n_frames,
         -- frames 0, {_FRAME_STRIDE}, ... of {_FRAME_BYTES} bytes each
         list_sum(list_transform(
           list_filter(generate_series(0, CAST(ceil(length(payload) / {_FRAME_BYTES}.0) AS INT) - 1),
                       f -> f % {_FRAME_STRIDE} = 0),
           f -> list_sum(list_transform(generate_series(1, {_FRAME_BYTES}),
                         j -> CAST(ascii(substr(payload, f * {_FRAME_BYTES} + j, 1)) AS BIGINT))))) AS frame_checksum,
         list_sum(list_transform(
           list_filter(generate_series(0, CAST(ceil(length(payload) / {_FRAME_BYTES}.0) AS INT) - 1),
                       f -> f % {_FRAME_STRIDE} = 0),
           f -> list_sum(list_transform(generate_series(1, {_FRAME_BYTES}, {_THUMB_STEP}),
                         j -> CAST(ascii(substr(payload, f * {_FRAME_BYTES} + j, 1)) AS BIGINT))))) AS thumb_checksum,
         len(list_filter(generate_series(0, CAST(ceil(length(payload) / {_FRAME_BYTES}.0) AS INT) - 1),
             f -> f % {_FRAME_STRIDE} = 0)) AS n_sampled
  FROM rep
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_frames) AS BIGINT) AS total_frames,
       CAST(SUM(n_sampled) AS BIGINT) AS total_sampled,
       CAST(SUM(frame_checksum) AS BIGINT) AS frame_checksum,
       CAST(SUM(thumb_checksum) AS BIGINT) AS thumb_checksum
FROM per_doc GROUP BY source ORDER BY source
"""


# Byte-true oracle: the Python side checksums UTF-8 *bytes*; DuckDB's
# ascii() yields *codepoints*, so each codepoint is converted to its
# UTF-8 byte sum arithmetically (1-4 byte forms) — exact for all of
# Unicode, keeping the oracle correct on non-ASCII corpora.
_UTF8_BYTE_SUM = """CASE
  WHEN ascii(c) < 128 THEN ascii(c)
  WHEN ascii(c) < 2048 THEN 192 + (ascii(c) // 64) + 128 + (ascii(c) % 64)
  WHEN ascii(c) < 65536 THEN 224 + (ascii(c) // 4096)
       + 128 + ((ascii(c) // 64) % 64) + 128 + (ascii(c) % 64)
  ELSE 240 + (ascii(c) // 262144) + 128 + ((ascii(c) // 4096) % 64)
       + 128 + ((ascii(c) // 64) % 64) + 128 + (ascii(c) % 64) END"""

M1_ORACLE = f"""
WITH feats AS (
  SELECT doc_id, source,
         octet_length(encode(text)) AS n_bytes,
         CASE WHEN length(text) = 0 THEN -1
              WHEN ascii(text) < 128 THEN ascii(text)
              WHEN ascii(text) < 2048 THEN 192 + (ascii(text) // 64)
              WHEN ascii(text) < 65536 THEN 224 + (ascii(text) // 4096)
              ELSE 240 + (ascii(text) // 262144) END AS first_byte,
         CAST(COALESCE(list_sum(list_transform(string_split(text, ''),
              c -> {_UTF8_BYTE_SUM})), 0) % 2147483647 AS BIGINT) AS byte_checksum
  FROM documents
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(byte_checksum) AS BIGINT) AS checksum,
       MIN(first_byte) AS min_first_byte, MAX(first_byte) AS max_first_byte,
       COUNT(*) AS n_stub
FROM feats GROUP BY source ORDER BY source
"""


def m4_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup over the BINARY payload column — the
    step a multimodal lake runs before any decode: hash the raw bytes
    (md5 of the payload, the content address), count identical blobs,
    and report per source how many bytes deduplicate away if only one
    canonical copy per digest is stored. Identical to d1's shape but
    on bytes, not normalized text — no text semantics, so byte-equal
    payloads of ANY modality dedupe.

    Scale: one shuffle on the digest; the payload itself never rides
    an exchange (only its 128-bit hash and byte length do) — the
    payload-stays-out-of-shuffles rule this module's header states.
    """
    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        "doc_id",
        "source",
        F.encode(F.col("text"), "utf-8").alias("content"),
    ).select(
        "doc_id",
        "source",
        F.md5("content").alias("digest"),
        F.length("content").alias("n_bytes"),
    )
    per_digest = media.groupBy("source", "digest").agg(
        F.count(F.lit(1)).alias("copies"),
        F.first("n_bytes").alias("blob_bytes"),
    )
    return (
        per_digest.groupBy("source")
        .agg(
            F.sum("copies").alias("n_payloads"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("blob_bytes") * F.col("copies")).alias("bytes_raw"),
            F.sum("blob_bytes").alias("bytes_canonical"),
            F.sum(F.col("blob_bytes") * (F.col("copies") - 1)).alias("bytes_saved"),
        )
        .orderBy("source")
    )


M4_ORACLE = """
WITH media AS (
  SELECT doc_id, source, md5(text) AS digest, strlen(text) AS n_bytes
  FROM documents
), per_digest AS (
  SELECT source, digest, COUNT(*) AS copies, ANY_VALUE(n_bytes) AS blob_bytes
  FROM media GROUP BY source, digest
)
SELECT source,
       CAST(SUM(copies) AS BIGINT) AS n_payloads,
       COUNT(*) AS n_distinct,
       CAST(SUM(blob_bytes * copies) AS BIGINT) AS bytes_raw,
       CAST(SUM(blob_bytes) AS BIGINT) AS bytes_canonical,
       CAST(SUM(blob_bytes * (copies - 1)) AS BIGINT) AS bytes_saved
FROM per_digest GROUP BY source ORDER BY source
"""
