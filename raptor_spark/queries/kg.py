"""KG construction, resumable materialization and the streaming path.

The flagship pipeline (transcripts -> reassemble -> parse -> triples) in
its batch, materialized-table and stateful-streaming forms, its parse
error side channel, and the resumable bucketed job's lineage counters.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raptor_spark.operators.canonical import relabel_bnodes
from raptor_spark.operators.link import customer_entities
from raptor_spark.pipeline import build_graph, run_resumable
from raptor_spark.queries.registry import query
from raptor_spark.sources.transcripts import (
    GEN_VERSION,
    GRAPH_VERSION,
    _sf_cache_key,
    materialize_transcripts,
    tpch_transcripts,
)
from raptor_spark.streaming.incremental import (
    STREAM_VERSION,
    TRANSCRIPT_SCHEMA,
    stream_incremental_kg,
)


_KG_ORACLE = """
WITH fmt AS (
  SELECT o_orderkey AS k,
         o_orderstatus AS st,
         o_orderpriority AS pr,
         o_custkey AS c,
         CASE WHEN o_orderkey % 10 IN (8, 9)
              THEN 'http://ex.org/graph/' || o_orderkey END AS graph
  FROM orders
),
li AS (
  SELECT l_orderkey AS k,
         'ord-' || l_orderkey || '.li' || l_linenumber || 'p' || l_partkey
             || 'q' || CAST(l_quantity AS INT) AS bn,
         '_:ord-' || l_orderkey || '.li' || l_linenumber || 'p' || l_partkey
             || 'q' || CAST(l_quantity AS INT) AS bn_subj,
         l_partkey AS pk,
         CAST(l_quantity AS INT) AS qty
  FROM lineitem
)
SELECT 'http://ex.org/order/' || k AS subj,
       'http://ex.org/ns#status' AS pred,
       2 AS obj_kind, st AS obj_lex,
       CAST(NULL AS VARCHAR) AS obj_datatype,
       CAST(NULL AS VARCHAR) AS obj_lang, graph
FROM fmt
UNION ALL
SELECT 'http://ex.org/order/' || k, 'http://ex.org/ns#priority', 2, pr,
       NULL, NULL, graph
FROM fmt
UNION ALL
SELECT 'http://ex.org/order/' || k, 'http://ex.org/ns#customer', 1,
       'http://ex.org/customer/' || c, NULL, NULL, graph
FROM fmt
UNION ALL
SELECT 'http://ex.org/order/' || li.k, 'http://ex.org/ns#item', 4, li.bn,
       NULL, NULL, fmt.graph
FROM li JOIN fmt ON li.k = fmt.k
UNION ALL
SELECT li.bn_subj, 'http://ex.org/ns#part', 1, 'http://ex.org/part/' || li.pk,
       NULL, NULL, fmt.graph
FROM li JOIN fmt ON li.k = fmt.k
UNION ALL
SELECT li.bn_subj, 'http://ex.org/ns#qty', 2, CAST(li.qty AS VARCHAR),
       'http://www.w3.org/2001/XMLSchema#integer', NULL, fmt.graph
FROM li JOIN fmt ON li.k = fmt.k
"""


@query("kg_pipeline", oracle=_KG_ORACLE)
def q_kg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG-construction pipeline over RDF-ized TPC-H transcripts.

    The oracle reconstructs the expected triple set relationally — this
    checks reassembly, all four parse kernels, canonicalization, bnode
    relabeling and dedup end-to-end.
    """
    transcripts = tpch_transcripts(spark, sf_dir)
    triples, _errors = build_graph(transcripts)
    return triples.select(
        "subj", "pred", "obj_kind", "obj_lex", "obj_datatype", "obj_lang", "graph"
    )


@query("kg_pipeline_iceberg", oracle=_KG_ORACLE)
def q_kg_pipeline_iceberg(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """Same pipeline, but reading the transcripts from a materialized
    parquet table (the input_hint's Iceberg-table shape) instead of
    re-synthesizing inside the job — the deployment-shaped path: the scan
    parallelizes by file splits, prunes columns, and the only exchanges
    left are conv_id reassembly and dedup.

    ``replicate`` multiplies the input (distinct conv_ids) so scaling
    benches can amortize fixed costs; only bench.py passes it — the
    correctness driver calls (spark, sf_dir) and always gets replicate=1,
    matching the DuckDB oracle."""
    path = materialize_transcripts(spark, sf_dir, replicate=replicate)
    transcripts = spark.read.parquet(path)
    triples, _errors = build_graph(transcripts)
    return triples.select(
        "subj", "pred", "obj_kind", "obj_lex", "obj_datatype", "obj_lang", "graph"
    )


# the stateful streaming path is oracle-equal to the batch pipeline over
# the ENTIRE corpus — same oracle as kg_pipeline, no row cap
@query("kg_stream_incremental", oracle=_KG_ORACLE)
def q_kg_stream_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming KG construction is value-equivalent to the
    batch pipeline: materialize the FULL transcript corpus plus one
    far-future 'advancer' conversation, drain
    streaming.incremental.stream_incremental_kg once (the advancer
    pushes the event-time watermark past every real conversation's gap,
    so the final no-data micro-batch fires all their timers; the
    advancer itself stays buffered and is excluded), relabel bnodes
    like the batch path, and return the streamed triples. The oracle is
    the same full-corpus KG reconstruction the batch pipeline is
    checked against, so the stateful path is value-verified at the
    same scale as the batch path.

    The stream input/output live in a VERSION-KEYED /tmp dir (like
    materialize_graph) rather than a fresh mkdtemp per call: the output
    must outlive this function (the caller collects the returned
    DataFrame), and repeated correctness runs must not accumulate
    corpus-sized parquet trees. A ``_DRAINED`` marker makes re-runs
    reuse the drained result; a stale partial dir is wiped first."""
    base = "/tmp/raptor_spark_stream_v%s.%s.%s_%s" % (
        GEN_VERSION, GRAPH_VERSION, STREAM_VERSION, _sf_cache_key(sf_dir)
    )
    inp = f"{base}/in"
    out = f"{base}/out"
    marker = f"{base}/_DRAINED"
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        tpch_transcripts(spark, sf_dir).write.mode("overwrite").parquet(inp)
        adv = spark.createDataFrame(
            [(
                "zz-advancer", 0, "user",
                "<http://ex.org/zz> <http://ex.org/p> <http://ex.org/o> .\n",
                "ntriples",
                datetime(2100, 1, 1),
            )],
            TRANSCRIPT_SCHEMA,
        )
        adv.write.mode("append").parquet(inp)
        stream_incremental_kg(
            spark, inp, out, gap_seconds=3600, max_files_per_trigger=64
        )
        open(marker, "w").close()
    streamed = spark.read.parquet(f"{out}/triples")
    return relabel_bnodes(streamed).select(
        "subj", "pred", "obj_kind", "obj_lex", "obj_datatype", "obj_lang",
        "graph",
    )


_KG_ERRORS_ORACLE = (
    "SELECT CAST(NULL AS VARCHAR) AS conv_id, CAST(NULL AS VARCHAR) AS "
    "error_message WHERE 1 = 0"
)


@query("kg_parse_errors", oracle=_KG_ERRORS_ORACLE)
def q_kg_parse_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error side-channel: count of parse errors (must be zero rows)."""
    _t, errors = build_graph(tpch_transcripts(spark, sf_dir))
    return errors.select("conv_id", "error_message")


_RESUME_BUCKETS = 8


def _md5_bucket(col, n):
    """conv_id -> bucket via the first 4 md5 hex chars — the same
    arithmetic DuckDB reproduces as
    CAST(concat('0x', substr(md5(c),1,4)) AS BIGINT) % n."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long"), F.lit(n)
    ).cast("int")


_RESUMABLE_MANIFEST_ORACLE = """
WITH li AS (
  SELECT l_orderkey AS k, COUNT(*) AS n_li FROM lineitem GROUP BY l_orderkey
),
conv AS (
  SELECT 'ord-' || o_orderkey AS conv_id,
         o_orderkey % 10 AS b,
         o_orderkey % 5 + 1 AS chunk,
         COALESCE(li.n_li, 0) AS n_li,
         o_custkey
  FROM orders LEFT JOIN li ON li.k = o_orderkey
),
-- synthesis line counts per syntax (sources/transcripts.py): ntriples/
-- nquads = 3 header + 3 per lineitem; rdfxml = 8 fixed + 2/li;
-- json = 3 fixed; turtle = 5 + 2/li; trig = 7 + 2/li
per_conv AS (
  SELECT conv_id,
         CAST(CAST(concat('0x', substr(md5(conv_id), 1, 4)) AS BIGINT) % 8
              AS INTEGER) AS bucket,
         CAST(ceil(CAST(CASE
             WHEN b <= 3 OR b = 8 THEN 3 + 3 * n_li
             WHEN b = 4 THEN 8 + 2 * n_li
             WHEN b = 5 THEN 3
             WHEN b IN (6, 7) THEN 5 + 2 * n_li
             ELSE 7 + 2 * n_li
           END AS DOUBLE) / chunk) AS BIGINT) AS n_turns,
         3 + 3 * n_li AS n_triples,
         o_custkey
  FROM conv
),
links AS (
  SELECT p.bucket, COUNT(*) AS link_decisions
  FROM per_conv p JOIN customer c ON c.c_custkey = p.o_custkey
  GROUP BY p.bucket
)
SELECT p.bucket,
       CAST(COUNT(*) AS BIGINT) AS convs,
       CAST(SUM(n_turns) AS BIGINT) AS turns,
       CAST(SUM(n_triples) AS BIGINT) AS triples,
       CAST(0 AS BIGINT) AS errors,
       CAST(MAX(l.link_decisions) AS BIGINT) AS link_decisions
FROM per_conv p LEFT JOIN links l ON l.bucket = p.bucket
GROUP BY p.bucket
"""


@query("resumable_manifest", oracle=_RESUMABLE_MANIFEST_ORACLE)
def q_resumable_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule lineage counters through the ACTUAL resumable path
    (pipeline.run_resumable + plans/checkpoint): run 1 materializes a
    deterministic half of the buckets WITHOUT entity linking (an
    interrupted job), run 2 resumes over the full input WITH the
    customer-entity dictionary — the resume skips the finished buckets,
    completes the rest, and the linking catch-up pass back-fills link
    decisions for the half finished without them. Returns the per-bucket
    counters (convs, turns parsed, triples emitted, parse errors, link
    decisions) merged across manifest generations exactly as a
    monitoring job reads them.

    Bucketing uses the md5-derived key (rather than the default
    xxhash64, which DuckDB cannot evaluate) so the oracle reconstructs
    the same partitioning relationally; the resume machinery is
    identical either way. The out_dir is a fresh temp dir per invocation
    (resume state is the thing under test), deleted after the counters
    are checkpointed."""
    out = tempfile.mkdtemp(prefix="rsp_resume_q_")
    try:
        transcripts = tpch_transcripts(spark, sf_dir)
        nb = _RESUME_BUCKETS
        half = transcripts.filter(
            _md5_bucket(F.col("conv_id"), nb) < nb // 2
        )
        run_resumable(spark, half, out, n_buckets=nb, bucket_fn=_md5_bucket)
        run_resumable(
            spark, transcripts, out, n_buckets=nb,
            entities=customer_entities(spark, sf_dir),
            bucket_fn=_md5_bucket,
        )
        manifest = spark.read.option("mergeSchema", "true").parquet(
            f"{out}/manifest"
        )
        # per-bucket merge across generations: run-1 rows carry the parse
        # counters (link_decisions null), the catch-up rows carry
        # link_decisions (other counters null) — max() over the bucket's
        # rows recovers the complete record
        return (
            manifest.groupBy("bucket")
            .agg(
                F.max("convs").cast("long").alias("convs"),
                F.max("turns").cast("long").alias("turns"),
                F.max("triples").cast("long").alias("triples"),
                F.max("errors").cast("long").alias("errors"),
                F.max("link_decisions").cast("long").alias("link_decisions"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
