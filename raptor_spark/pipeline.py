"""End-to-end KG construction pipeline — the only module that builds the graph.

transcripts --reassemble--> documents --parse UDF--> parsed rows
          --split/relabel--> triples + errors --> graph tables.

Raptor's statement stream (parser -> statement handler -> sink) becomes
compositions every construction path shares: :func:`transcript_docs`
(the conv_id reassembly), :func:`parse_transcripts` (reassembly, then the
Arrow parse stage with per-document statement dedup) and
:func:`split_parsed` (relabelled triples + parse errors).
:func:`build_graph` and the micro-batch body of
``streaming.pipeline.stream_build_graph`` differ only in what they
persist and where they write.

Exchanges: :func:`build_graph` and the streaming micro-batch have one,
the conv_id reassembly. :func:`run_resumable` composes reassembly and
parse itself and puts a range exchange on (bucket, conv_id) between
them, so every bucketed write task holds a contiguous range of buckets;
its writes and its manifest counters then read the persisted parse
output. Statement dedup is per-document inside the parse stage (the
reference's own semantic), so it costs no shuffle. Everything between
exchanges runs in whole-stage codegen or one Arrow-batched Python stage.
AQE is expected on (skew-join/coalesce).
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from raptor_spark.operators.canonical import relabel_bnodes
from raptor_spark.operators.parse import errors_of, parse_documents, triples_of
from raptor_spark.operators.reassemble import reassemble
from raptor_spark.plans import checkpoint as ckpt

# range partitions per core of run_resumable's parse stage (Spark's tuning
# guide: 2-3 tasks per core). Each task writes one file per bucket it
# holds, so fewer tasks mean fewer files; but one task per core measured
# +6.7% peak_mem_mb on the perfbench build (16k documents: each task's
# Arrow batch held 4000 of them, not 2000), and spark.sql.shuffle.partitions
# (default 200) made 214 triples files for 16 buckets on sf0.001
PARSE_TASKS_PER_CORE = 2


def transcript_docs(transcripts: DataFrame, *carry: str) -> DataFrame:
    """transcripts -> one document per conversation (conv_id, doc_text,
    tool, *carry): the conv_id reassembly exchange."""
    return reassemble(transcripts, extra_cols=("tool",) + carry)


def parse_transcripts(
    transcripts: DataFrame,
    base_uri_col: Optional[str] = None,
    dedup: bool = True,
) -> DataFrame:
    """transcripts -> parsed rows (one conv_id reassembly, one Arrow parse
    stage).

    Statement dedup runs PER DOCUMENT INSIDE the parse stage: the whole
    document is in hand there, and the Arrow parse stage reports
    UnknownPartitioning downstream, so any post-parse dropDuplicates
    would re-shuffle every triple even though the stream is
    conv_id-clustered (CLAUDE.md rule; gated by tests/test_plan_shape.py).
    This is also the reference's semantic (duplicate suppression is per
    parsed document, src/raptor_abbrev.c:354-397); after relabeling,
    bnode triples are globally unique by construction (labels embed
    conv_id). ``operators.canonical.dedup_statements`` is the explicit
    (salted, two-phase) aggregation for callers that need more."""
    docs = transcript_docs(
        transcripts, *((base_uri_col,) if base_uri_col else ())
    )
    return parse_documents(docs, base_uri_col=base_uri_col, dedup_per_doc=dedup)


def split_parsed(
    parsed: DataFrame, relabel: bool = True
) -> Tuple[DataFrame, DataFrame]:
    """parsed rows -> (triples, parse_errors); ``relabel`` makes
    document-scoped bnode labels globally unique (``_:C.x``)."""
    triples = triples_of(parsed)
    if relabel:
        triples = relabel_bnodes(triples)
    return triples, errors_of(parsed)


def build_graph(
    transcripts: DataFrame,
    base_uri_col: Optional[str] = None,
    relabel: bool = True,
    dedup: bool = True,
) -> Tuple[DataFrame, DataFrame]:
    """transcripts -> (triples, parse_errors).

    ``relabel=False, dedup=False`` keeps document-local bnode labels and
    the raw statement stream (the reference's streaming parsers emit
    duplicates as-is; only the buffered abbrev serializers dedup) — the
    mode used when comparing against rapper output."""
    return split_parsed(
        parse_transcripts(transcripts, base_uri_col, dedup), relabel
    )


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    entities: Optional[DataFrame] = None,
    bucket_fn=None,
) -> DataFrame:
    """Resumable materialization: skip buckets already in the manifest,
    build the graph for the rest, write bucket-partitioned parquet +
    the north-rule lineage counters (convs, turns parsed, triples
    emitted, parse errors, link decisions). When an ``entities``
    dictionary (key, entity_uri) is given, the linking stage runs over
    the same unfinished buckets and its decisions are materialized under
    ``links/bucket=``; buckets finished by a PRIOR run without linking
    get a linking-only catch-up pass (ckpt.link_catchup), so a resume
    that adds entities never leaves links/ silently incomplete. Returns
    the manifest rows appended by this run. ``out_dir`` must be on the
    local file system (ckpt.local_dir).

    The turns keep their ``bucket`` column, and the reassembled
    documents are range-partitioned on (bucket, conv_id) before the
    parse stage, so every parse task, and every task writing its output,
    holds one contiguous range of buckets: the triples and errors writes
    get about one file per bucket (ckpt.write_bucketed). The range
    exchange has PARSE_TASKS_PER_CORE x defaultParallelism partitions:
    an explicit count is exempt from AQE coalescing, so parse parallelism
    depends on neither the bucket count nor the input's size nor
    spark.sql.shuffle.partitions; a bucket spans two tasks when there are
    more tasks than buckets. The materialization is three bucketed
    writes (triples, errors, links) and one manifest aggregation; the
    turns and the parse stage's output are persisted for the duration so
    the mapInArrow parse stage runs once, not once per job."""
    from pyspark.storagelevel import StorageLevel

    turns = ckpt.filter_unfinished(
        spark, transcripts, out_dir, n_buckets, bucket_fn=bucket_fn
    ).persist(StorageLevel.MEMORY_AND_DISK)
    docs = transcript_docs(turns, "bucket").repartitionByRange(
        PARSE_TASKS_PER_CORE * spark.sparkContext.defaultParallelism,
        "bucket", "conv_id",
    )
    parsed = parse_documents(docs, dedup_per_doc=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        triples, errors = split_parsed(parsed)
        links = None
        if entities is not None:
            from raptor_spark.operators.link import link_entities

            links = link_entities(turns, entities)
        manifest = ckpt.write_bucketed(
            triples, errors, out_dir, n_buckets, turns=turns, links=links,
            bucket_fn=bucket_fn,
        )
        if entities is not None:
            extra_rows = ckpt.link_catchup(
                spark, transcripts, out_dir, n_buckets, entities,
                link_fn=link_entities, bucket_fn=bucket_fn,
            )
            if extra_rows is not None:
                manifest = manifest.unionByName(extra_rows)
        return manifest
    finally:
        # unpersist even when a write/link stage throws: a long-running
        # session must not accumulate MEMORY_AND_DISK blocks per failure
        parsed.unpersist()
        turns.unpersist()
