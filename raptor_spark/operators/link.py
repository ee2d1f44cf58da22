"""Entity linking over transcript turns (north-star stage).

Mention detection is a vectorized regex over turn text (whole-stage
codegen, no Python); candidate generation is a broadcast join against
the entity dictionary (small dimension side — never a shuffle of the
corpus); scoring ranks candidates per conversation by mention count
with a deterministic tie-break. The reference has no counterpart (it
is a syntax library); the stage comes from BASELINE.json's north_star.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_spark.sources.transcripts import CUST_NS

#: mention pattern -> capture group 1 is the entity key. Derived from
#: the generator's namespace constant so the detector and the corpus
#: can never silently drift apart.
MENTION_PATTERN = re.escape(CUST_NS) + r"(\d+)"


def detect_mentions(transcripts: DataFrame) -> DataFrame:
    """(conv_id, key) — one row per mention occurrence in turn text."""
    return transcripts.select(
        "conv_id",
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(MENTION_PATTERN), F.lit(1)
            )
        ).alias("key"),
    )


def link_entities(transcripts: DataFrame, entities: DataFrame) -> DataFrame:
    """Best entity per conversation: (conv_id, entity_uri, mentions).

    ``entities`` must have columns (key, entity_uri) and be small enough
    to broadcast (an entity dictionary); the corpus side never shuffles
    until the per-conversation aggregation. The best-candidate pick is
    a min-of-struct AGGREGATE, not a window: min((-mentions,
    entity_uri)) reproduces the desc-mentions/asc-uri tie-break with
    map-side partial aggregation and ONE exchange — a
    Window.partitionBy(conv_id) after the (conv_id, entity_uri) groupBy
    would force a second full shuffle plus a sort.
    """
    cand = (
        detect_mentions(transcripts)
        .join(F.broadcast(entities), "key")
        .groupBy("conv_id", "entity_uri")
        .agg(F.count(F.lit(1)).cast("long").alias("mentions"))
    )
    best = cand.groupBy("conv_id").agg(
        F.min(
            F.struct(
                (-F.col("mentions")).alias("neg_mentions"),
                F.col("entity_uri").alias("entity_uri"),
            )
        ).alias("best")
    )
    return best.select(
        "conv_id",
        F.col("best.entity_uri").alias("entity_uri"),
        (-F.col("best.neg_mentions")).cast("long").alias("mentions"),
    )


def customer_entities(spark, sf_dir: str) -> DataFrame:
    """The TPC-H customer dictionary with minted URIs (the same
    deterministic minting scheme as q_uri_mint / q_kg_entity_link)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.select(
        F.col("c_custkey").cast("string").alias("key"),
        F.concat(
            F.lit("http://ex.org/entity/"),
            F.md5(F.concat(F.lit("cust|"), F.col("c_name"))),
        ).alias("entity_uri"),
    )
