"""Structured Streaming wrapper around the batch KG pipeline.

The reference is a push-chunk architecture (raptor_parser_parse_chunk,
src/raptor_parse.c:479-487) with per-parser incremental buffering; there
are no watermark/late-data semantics — documents are finite. The Spark
analogue is a micro-batched stream of transcript files: each trigger's
batch runs the SAME deterministic batch pipeline via ``foreachBatch``
(conversations are assumed batch-complete, i.e. a conversation's turns
land in one file set — the conv_id-clustered layout the materializer
writes). ``Trigger.AvailableNow`` drains a static table and stops, which
is the streaming-shaped way to run the batch job resumably: Spark's
checkpoint directory gives exactly-once file progress on top of the
bucket manifests of raptor_spark.plans.checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from raptor_spark.pipeline import parse_transcripts, split_parsed
from raptor_spark.plans.checkpoint import overwrite_partitions
from raptor_spark.streaming.incremental import TRANSCRIPT_SCHEMA


def stream_build_graph(spark: SparkSession, transcripts_path: str, out_dir: str):
    """Stream transcript parquet -> triples/errors parquet, one batch
    pipeline run per micro-batch, draining with Trigger.AvailableNow.

    Returns the StreamingQuery, already terminated."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(transcripts_path)
    )

    def process(batch_df, batch_id: int):
        # the triples and errors writes are two independent ACTIONS
        # whose shared lineage is dominated by the Arrow parse stage —
        # persist the PARSED frame (their common ancestor, exactly like
        # run_resumable) so each micro-batch pays the parse once, not
        # once per write. Same composition as build_graph's default.
        parsed = parse_transcripts(batch_df).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            triples, errors = split_parsed(parsed)
            # idempotent replay: each micro-batch owns its batch_id
            # partition and dynamic-partition overwrite replaces exactly
            # that partition, so a crash between the two writes +
            # restart re-lands the same batch instead of
            # double-appending (exactly-once, not at-least-once)
            for df, sub in ((triples, "triples"), (errors, "errors")):
                overwrite_partitions(
                    df.withColumn("batch_id", F.lit(batch_id)),
                    os.path.join(out_dir, sub),
                    "batch_id",
                )
        finally:
            parsed.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
