"""Multimodal binary columns: decode, feature extraction and frame
sampling through Arrow-batched map-only stages
(raptor_spark/functions/multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raptor_spark.functions.multimodal import (
    decode_media,
    extract_features,
    sample_frames,
    synth_media,
    synth_media_real,
)
from raptor_spark.operators.parse import rebalance_for_parse as _rebalance
from raptor_spark.queries.registry import query


_MEDIA_DECODE_ORACLE = """
WITH m AS (
  SELECT doc_id, md5(text) AS h,
         CAST(doc_id % 3 AS INT) AS kind,
         CAST(doc_id % 13 + 2 AS INT) AS w,
         CAST(doc_id % 7 + 2 AS INT) AS hh,
         CAST(doc_id % 2 + 1 AS INT) AS ch,
         CAST(doc_id % 16 + 4 AS INT) AS frames
  FROM documents
),
b AS (
  SELECT *,
         CASE kind WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS b0,
         (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS b1
  FROM m
)
SELECT doc_id, media_type,
       CAST(CASE kind
            WHEN 0 THEN length('P6' || chr(10) || w || ' ' || hh
                              || chr(10) || '255' || chr(10)) + w*hh*3
            WHEN 1 THEN 44 + frames*ch*2
            ELSE 64 END AS INT) AS byte_len,
       CAST(CASE kind WHEN 0 THEN w WHEN 1 THEN frames
            ELSE b0 % 64 + 1 END AS INT) AS width,
       CAST(CASE kind WHEN 0 THEN hh WHEN 1 THEN 8
            ELSE b1 % 64 + 1 END AS INT) AS height,
       CAST(CASE kind WHEN 0 THEN 3 WHEN 1 THEN ch
            ELSE 3 END AS INT) AS channels,
       TRUE AS ok
FROM b
"""


@query("media_decode", oracle=_MEDIA_DECODE_ORACLE)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> typed metadata via an Arrow-batched
    map-only stage. Image rows carry REAL P6 PPM bytes and audio rows
    REAL RIFF/WAVE bytes (functions.multimodal.synth_media_real), and
    the codec='auto' decode genuinely parses those containers with the
    pure-Python PPM/WAV decoders (_parse_ppm / _parse_wav); video rows
    have no synthesizable container and take the documented stub path.
    The oracle reconstructs every field from the same deterministic
    derivations (PPM dims / WAV frame layout from doc_id arithmetic,
    video metadata from the payload's md5 bytes)."""
    docs = _rebalance(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    return decode_media(synth_media_real(docs), codec="auto").select(
        "doc_id", "media_type", "byte_len", "width", "height", "channels", "ok"
    )


_MEDIA_FEATURES_ORACLE = """
WITH m AS (
  SELECT doc_id,
         sha256(repeat(md5(text), 4)) AS s
  FROM documents
),
d AS (
  SELECT doc_id, s,
         ((strpos('0123456789abcdef', substr(s, 1, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(s, 2, 1)) - 1) / 256.0 AS f0,
         ((strpos('0123456789abcdef', substr(s, 3, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(s, 4, 1)) - 1) / 256.0 AS f1,
         ((strpos('0123456789abcdef', substr(s, 5, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(s, 6, 1)) - 1) / 256.0 AS f2,
         ((strpos('0123456789abcdef', substr(s, 7, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(s, 8, 1)) - 1) / 256.0 AS f3
  FROM m
)
SELECT doc_id, f0, f1, f2, f3 FROM d
"""


@query("media_features", oracle=_MEDIA_FEATURES_ORACLE)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic feature extraction over the binary payload
    (sha256-derived stand-in for an embedding model), projected to
    scalar columns for exact oracle comparison."""
    docs = _rebalance(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    feats = extract_features(synth_media(docs))
    return feats.select(
        "doc_id",
        *[
            F.element_at(F.col("feature"), i + 1).cast("double").alias("f%d" % i)
            for i in range(4)
        ],
    )


_MEDIA_FRAMES_ORACLE = """
SELECT doc_id, CAST(off AS INT) AS frame_offset
FROM documents, UNNEST([0, 16, 32, 48]) AS f(off)
WHERE CAST(doc_id % 3 AS INT) = 2
"""


@query("media_frames", oracle=_MEDIA_FRAMES_ORACLE)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: video payloads exploded to per-frame rows inside
    the Python stage (one row per 16-byte 'frame')."""
    docs = _rebalance(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    return sample_frames(synth_media(docs)).select("doc_id", "frame_offset")
