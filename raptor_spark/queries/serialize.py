"""Serializer queries: every writer of the reference's serializer
registry (src/raptor_serialize.c) exercised distributed over the stored
graph — the subject-grouped abbreviation shape, the streaming N-Quads
sink, a statement-count roundtrip per buffered writer, the RSS 1.0
feed roundtrip and the mKR subject-block count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raptor_spark.operators.parse import parse_documents, triples_of
from raptor_spark.operators.serialize import (
    nt_lines_df,
    rss10_roundtrip_stats,
    serialize_documents,
    serialize_roundtrip_counts,
)
from raptor_spark.queries.registry import query
from raptor_spark.queries.relational import _FEED_ORACLE, _synth_feed_docs
from raptor_spark.sources.transcripts import materialize_graph


_SERIALIZE_ORACLE = """
SELECT 'u' || user_id AS subj,
       string_agg(event_type || ' ' || event_id, ' ; '
                  ORDER BY event_type, event_id) AS body,
       COUNT(*) AS n
FROM events GROUP BY user_id
"""


@query("serialize_grouped", oracle=_SERIALIZE_ORACLE)
def q_serialize_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abbreviating-serializer shape: group statements by subject, sorted
    (reference: src/raptor_serialize_turtle.c:1388-1455 AVL model) as
    groupBy + ordered string_agg."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    stmts = ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.col("event_id").alias("obj"),
    )
    return stmts.groupBy("subj").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(pred, obj))),"
                " s -> concat(s.pred, ' ', s.obj))"
            ),
            " ; ",
        ).alias("body"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


_SERIALIZE_NT_ORACLE = """
WITH fmt AS (
  SELECT o_orderkey AS k,
         o_orderstatus AS st,
         o_orderpriority AS pr,
         o_custkey AS c,
         CASE WHEN o_orderkey % 10 IN (8, 9)
              THEN ' <http://ex.org/graph/' || o_orderkey || '>' ELSE '' END
             AS g
  FROM orders
),
li AS (
  SELECT DISTINCT l_orderkey AS k,
         '_:ord-' || l_orderkey || '.li' || l_linenumber || 'p' || l_partkey
             || 'q' || CAST(l_quantity AS INT) AS bn,
         l_partkey AS pk,
         CAST(l_quantity AS INT) AS qty
  FROM lineitem
)
SELECT 'ord-' || k AS conv_id,
       '<http://ex.org/order/' || k || '> <http://ex.org/ns#status> "'
           || st || '"' || g || ' .' AS nt_line
FROM fmt
UNION ALL
SELECT 'ord-' || k,
       '<http://ex.org/order/' || k || '> <http://ex.org/ns#priority> "'
           || pr || '"' || g || ' .'
FROM fmt
UNION ALL
SELECT 'ord-' || k,
       '<http://ex.org/order/' || k
           || '> <http://ex.org/ns#customer> <http://ex.org/customer/'
           || c || '>' || g || ' .'
FROM fmt
UNION ALL
SELECT 'ord-' || li.k,
       '<http://ex.org/order/' || li.k || '> <http://ex.org/ns#item> '
           || li.bn || fmt.g || ' .'
FROM li JOIN fmt ON li.k = fmt.k
UNION ALL
SELECT 'ord-' || li.k,
       li.bn || ' <http://ex.org/ns#part> <http://ex.org/part/' || li.pk
           || '>' || fmt.g || ' .'
FROM li JOIN fmt ON li.k = fmt.k
UNION ALL
SELECT 'ord-' || li.k,
       li.bn || ' <http://ex.org/ns#qty> "' || li.qty
           || '"^^<http://www.w3.org/2001/XMLSchema#integer>' || fmt.g || ' .'
FROM li JOIN fmt ON li.k = fmt.k
"""


@query("serialize_ntriples", oracle=_SERIALIZE_NT_ORACLE)
def q_serialize_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming N-Quads sink: canonical line per statement, pure column
    expression (reference: src/raptor_serialize_ntriples.c:194-332). The
    oracle rebuilds every line relationally — checks the whole
    parse -> canonicalize -> render path byte-for-byte. Reads the
    materialized graph table (a deployment serializes a stored graph,
    not a per-export re-parse); nt_lines_df is single-pass, so the
    export is one scan -> one projection, no shuffle."""
    triples = spark.read.parquet(materialize_graph(spark, sf_dir))
    return nt_lines_df(triples, with_graph=True, extra_cols=("conv_id",))


_SERIALIZE_RT_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS k, l_linenumber AS ln, l_partkey AS pk,
         CAST(l_quantity AS INT) AS qty
  FROM lineitem
),
cnt AS (SELECT k, COUNT(*) AS n FROM li GROUP BY k)
SELECT 'ord-' || o_orderkey AS conv_id,
       3 + 3 * COALESCE(cnt.n, 0) AS n_triples
FROM orders LEFT JOIN cnt ON cnt.k = o_orderkey
"""


def _rt_query(fmt: str):
    """queries() entry factory: serialize each conversation's graph with
    the buffered ``fmt`` writer (one group shuffle + batched Arrow
    writer stage), reparse it and count statements — the Spark form of
    the reference's check-turtle-serialize (rapper -o <fmt> | rdfdiff)
    — so every serializer (reference registry src/raptor_serialize.c)
    gets its own oracle row, not just pytest coverage. Reads the
    materialized graph table (sinks serialize a stored graph; the parse
    path has its own oracles)."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        triples = spark.read.parquet(materialize_graph(spark, sf_dir))
        return serialize_roundtrip_counts(triples, fmt=fmt)

    q.__name__ = "q_serialize_rt_" + fmt.replace("-", "_")
    q.__doc__ = (
        f"Serialize each conversation as {fmt}, reparse/count, compare "
        "against the relational statement-count oracle."
    )
    return q


# one roundtrip entry per buffered writer, all checked against the same
# expected distinct-statement count per conversation
for _name, _fmt in (
    ("serialize_roundtrip", "trig"),
    ("serialize_rt_turtle", "turtle"),
    ("serialize_rt_rdfxml", "rdfxml"),
    ("serialize_rt_rdfxml_abbrev", "rdfxml-abbrev"),
    ("serialize_rt_json", "json"),
    ("serialize_rt_dot", "dot"),
    ("serialize_rt_html", "html"),
):
    query(_name, oracle=_SERIALIZE_RT_ORACLE)(_rt_query(_fmt))


_RSS10_RT_ORACLE = """
SELECT conv_id,
       COUNT(*) AS n_in,
       COUNT(*) AS n_out,
       TRUE AS lossless
FROM (%s) model
GROUP BY conv_id
""" % _FEED_ORACLE


@query("serialize_rt_rss10", oracle=_RSS10_RT_ORACLE)
def q_serialize_rt_rss10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS 1.0 serializer roundtrip: parse the per-nation feeds into the
    RSS model, serialize each feed back to RSS 1.0 XML (kernel/atom.py
    Rss10Serializer — the is_atom==0 mode of the reference's
    src/raptor_serialize_rss.c), reparse with the rss-tag-soup kernel
    and verify the roundtrip is lossless. Models the rss parser itself
    produced stay inside the serializer's lossless subset, so the
    oracle pins n_out == n_in and lossless = true per feed."""
    docs = _synth_feed_docs(spark, sf_dir)
    parsed = parse_documents(docs, base_uri_col="base_uri")
    return rss10_roundtrip_stats(triples_of(parsed))


_MKR_RT_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS k, l_linenumber AS ln, l_partkey AS pk,
         CAST(l_quantity AS INT) AS qty
  FROM lineitem
),
cnt AS (SELECT k, COUNT(*) AS n FROM li GROUP BY k)
SELECT 'ord-' || o_orderkey AS conv_id,
       1 + COALESCE(cnt.n, 0) AS n_subjects
FROM orders LEFT JOIN cnt ON cnt.k = o_orderkey
"""


@query("serialize_rt_mkr", oracle=_MKR_RT_ORACLE)
def q_serialize_rt_mkr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mKR serializer exercised distributed: serialize each
    conversation's graph with the byte-exact mkr writer
    (kernel/serialize.to_mkr — the emit_mkr mode of the reference's
    src/raptor_serialize_turtle.c, verified against all 10 tests/mkr
    goldens in pytest), then count subject blocks with a pure column
    expression: every subject — top-level 'X has' or inlined
    '{ _:b has' — emits exactly one ' has\\n'. The conversation graphs
    are one order node plus one once-referenced lineitem bnode each, so
    the oracle pins n_subjects = 1 + lineitem count. Reads the
    materialized graph table like every other sink entry (sinks
    serialize a stored graph, not a per-export re-parse)."""
    triples = spark.read.parquet(materialize_graph(spark, sf_dir))
    docs = serialize_documents(triples, "mkr")
    return docs.select(
        "conv_id",
        (F.size(F.split(F.col("payload"), " has\n")) - 1).alias(
            "n_subjects"
        ),
    )
