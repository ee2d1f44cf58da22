"""Resumable bucketed materialization with per-partition lineage manifests.

The job is keyed by conv_id buckets (``bucket = pmod(xxhash64(conv_id), N)``
— deterministic across runs and retries). Each completed bucket writes its
output under ``out_dir/{triples,errors,links}/bucket=<b>/`` plus a manifest
row (bucket, convs, turns, triples, errors, link decisions) under
``out_dir/manifest/``; the counters of every bucket come from one
aggregation (manifest_counts). The rows reach the writes clustered by
bucket (pipeline.run_resumable range-partitions its documents on
(bucket, conv_id)), so each table gets about one file per bucket: at most
non-empty buckets + tasks - 1. A rerun reads the manifest and anti-joins
finished buckets out of the input, so only unfinished work re-executes:
Spark's task retry gives at-least-once inside a run; the manifest gives
cross-run resume (north-rule requirement; the reference has no
equivalent — it is a single-process stream).
"""

from __future__ import annotations

import os
import shutil
from functools import reduce
from typing import Optional
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # moved in PySpark 3.4
    from pyspark.errors import AnalysisException
except ImportError:  # pragma: no cover
    from pyspark.sql.utils import AnalysisException


def local_dir(out_dir: str) -> str:
    """The local file-system path of a checkpoint ``out_dir`` (a plain
    path or a ``file:`` URI). Resume reads the manifest's existence and
    the pre-clear deletes bucket directories through the local file
    system, so any other scheme (``s3a://``, ``hdfs://`` ...) would read
    as "nothing finished" and silently skip the pre-clear: refuse it
    before any Spark job runs."""
    u = urlparse(out_dir)
    if u.scheme == "":
        return out_dir
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return u.path
    raise ValueError(
        "checkpoint out_dir must be a local path or file: URI, got %r"
        % out_dir
    )


def with_bucket(df: DataFrame, n_buckets: int, bucket_fn=None) -> DataFrame:
    """Deterministic conv_id -> bucket assignment. Default is xxhash64
    (cheap, JVM-side, well-mixed at 10^12 keys); ``bucket_fn(col_expr,
    n_buckets) -> Column`` overrides it — e.g. an md5-derived bucket the
    DuckDB oracle can reconstruct relationally
    (queries.kg.q_resumable_manifest). The resume machinery only needs
    determinism across runs."""
    if bucket_fn is None:
        expr = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    else:
        expr = bucket_fn(F.col("conv_id"), n_buckets)
    return df.withColumn("bucket", expr)


def overwrite_partitions(df: DataFrame, path: str, col: str) -> None:
    """Write ``df`` as parquet partitioned by ``col``, replacing exactly the
    partitions it carries (dynamic partition overwrite): a replay of the
    same buckets / micro-batch re-lands them instead of appending a
    duplicate copy, and every other partition is left alone."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(col).parquet(path)


def replace_buckets(
    df: DataFrame, out_dir: str, sub: str, buckets: list
) -> None:
    """Write the bucket-partitioned ``df`` under ``out_dir/sub`` so that
    the partitions of ``buckets`` (the ones the run owns) hold exactly
    its rows. Dynamic partition overwrite alone cannot clear a partition
    the write carries ZERO rows into, so those directories are deleted
    first and a crashed predecessor's stale rows cannot survive (round-6
    ADVICE fix). Only a missing directory is ignored there."""
    local = local_dir(out_dir)
    for bkt in buckets:
        try:
            shutil.rmtree(os.path.join(local, sub, "bucket=%s" % bkt))
        except FileNotFoundError:
            pass
    overwrite_partitions(df, os.path.join(out_dir, sub), "bucket")


def finished_buckets(spark: SparkSession, out_dir: str) -> Optional[DataFrame]:
    """(bucket, linked) for every bucket with a manifest row.

    ``linked`` records whether the linking stage has run for the bucket
    (see write_bucketed) — distinct from "linked with zero decisions".
    Manifests may mix schema generations (rows written before the
    linked/turns columns existed), so the read always merges schemas;
    legacy rows, which na.fill(0)'d link_decisions, are conservatively
    treated as linked only when decisions were recorded (re-linking a
    zero-decision bucket is append-idempotent: it writes no link rows).
    """
    if not os.path.isdir(os.path.join(local_dir(out_dir), "manifest")):
        return None
    try:
        df = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(out_dir, "manifest")
        )
    except AnalysisException:
        # a manifest dir with no readable parquet yet (run died before
        # the first manifest append) IS "nothing finished"; any OTHER
        # failure must propagate — mapping an IO hiccup to None would
        # silently re-materialize every finished bucket
        return None
    if "linked" in df.columns:
        linked = F.coalesce(F.col("linked"), F.col("link_decisions") > 0)
    elif "link_decisions" in df.columns:
        linked = F.col("link_decisions") > 0
    else:
        linked = F.lit(False)
    return df.groupBy("bucket").agg(
        F.max(F.coalesce(linked, F.lit(False))).alias("linked")
    )


def filter_unfinished(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int,
    bucket_fn=None,
) -> DataFrame:
    """Drop conversations whose bucket already has a manifest row."""
    bucketed = with_bucket(transcripts, n_buckets, bucket_fn=bucket_fn)
    done = finished_buckets(spark, out_dir)
    if done is None:
        return bucketed
    # the finished-bucket list is tiny (<= n_buckets rows): broadcast anti-join
    return bucketed.join(
        F.broadcast(done.select("bucket")), "bucket", "left_anti"
    )


def write_bucketed(
    triples: DataFrame,
    errors: DataFrame,
    out_dir: str,
    n_buckets: int,
    turns: DataFrame,
    links: Optional[DataFrame] = None,
    bucket_fn=None,
) -> DataFrame:
    """Write triples/errors (and links, when given) partitioned by bucket
    + append manifest rows.

    Returns the manifest DataFrame — the north-rule lineage counters per
    bucket: conversations, turns parsed, triples emitted, parse errors,
    link decisions (see manifest_counts).  ``turns`` is the transcript
    turn table the run consumed; ``links`` is the (conv_id, entity_uri,
    mentions) linking output, materialized under ``links/bucket=``
    alongside the triples. The links are persisted for the call, so the
    linking stage feeds both their write and the manifest but runs once.

    File count: a ``partitionBy("bucket")`` write task creates one file
    per bucket it holds. Triples and errors clustered by bucket
    (run_resumable range-partitions its documents on (bucket, conv_id))
    give at most non-empty buckets + tasks - 1 files per table;
    unclustered input gives up to tasks x buckets. The links are
    hash-partitioned on bucket before they are persisted, so each bucket
    lands in one task and one file.

    Bucket data writes use DYNAMIC partition overwrite, not append: a
    run only carries unfinished buckets, so replacing exactly the
    partitions it writes makes a crash-replay idempotent — a run that
    died AFTER appending bucket data but BEFORE its manifest row would
    otherwise leave a duplicate copy under the bucket on resume; the
    buckets ``turns`` owns are pre-cleared first (replace_buckets), so a
    bucket whose conversations all parse to zero triples lands clean
    too. The manifest itself stays append-only — readers aggregate it
    per bucket.
    """
    from pyspark.storagelevel import StorageLevel

    local_dir(out_dir)  # refuse a non-local out_dir before any job
    # every input is bucketed here, by the one with_bucket rule: the
    # triples, errors and links carry no bucket column, and turns need
    # only conv_id. The bucket run_resumable's turns already carry is the
    # same expression; recomputing it costs one hash per turn
    u = with_bucket(turns.select("conv_id"), n_buckets, bucket_fn=bucket_fn)
    tables = {
        "triples": with_bucket(triples, n_buckets, bucket_fn=bucket_fn),
        "errors": with_bucket(errors, n_buckets, bucket_fn=bucket_fn),
    }
    if links is not None:
        tables["links"] = (
            with_bucket(links, n_buckets, bucket_fn=bucket_fn)
            .repartition("bucket")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    try:
        owned = [r["bucket"] for r in u.select("bucket").distinct().collect()]
        for sub, df in tables.items():
            replace_buckets(df, out_dir, sub, owned)
        manifest = (
            manifest_counts(u, tables)
            .withColumn("linked", F.lit(links is not None))
            .withColumn("ts", F.current_timestamp())
            # materialize once: the manifest is both written and handed
            # back for inspection, and its lineage reaches through the
            # parse stage — without this, every downstream collect()
            # re-runs the parse
            .localCheckpoint()
        )
    finally:
        if links is not None:
            tables["links"].unpersist()
    manifest.write.mode("append").parquet(os.path.join(out_dir, "manifest"))
    return manifest


def manifest_counts(turns: DataFrame, tables: dict) -> DataFrame:
    """Per-bucket counters (bucket, convs, triples, errors, turns,
    link_decisions) in ONE aggregation over a union of the bucketed
    inputs: ``turns`` (bucket, conv_id) and ``tables`` mapping "triples",
    "errors" and, when linking ran, "links" to frames with bucket and
    conv_id columns.

    convs is counted from the INPUT (conversations consumed), not from
    distinct conv_id in the triples output: a bucket whose conversations
    all parse to zero triples is still finished and must record how many
    it consumed. A counter with no rows in a bucket is 0; link_decisions
    is null, NOT 0, when no links are given: "linking didn't run" must
    stay distinguishable from "zero link decisions" (write_bucketed's
    ``linked`` column records which)."""
    rows = reduce(DataFrame.unionByName, [
        df.select("bucket", "conv_id", F.lit(kind).alias("kind"))
        for kind, df in [("turns", turns), *tables.items()]
    ])
    kind = F.col("kind")

    def count(k: str):
        return F.count(F.when(kind == k, 1))

    links = count("links") if "links" in tables else F.lit(None).cast("long")
    return rows.groupBy("bucket").agg(
        F.countDistinct(F.when(kind == "turns", F.col("conv_id"))).alias("convs"),
        count("triples").alias("triples"),
        count("errors").alias("errors"),
        count("turns").alias("turns"),
        links.alias("link_decisions"),
    )


def link_catchup(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int,
    entities: DataFrame,
    link_fn,
    bucket_fn=None,
) -> Optional[DataFrame]:
    """Linking-only pass for buckets finished by a prior run WITHOUT
    entity linking (resuming an out_dir first written without entities
    must not leave links/ silently incomplete). Restricts the input to
    the finished-but-unlinked buckets, runs only ``link_fn`` (no parse,
    no triple rewrite), replaces those buckets' links/bucket= partitions
    (pre-cleared like write_bucketed's, so rows a crashed catch-up left
    behind cannot outlive a relink that writes none) and appends
    linked=true manifest rows whose other counters stay null (that work
    did not run here). Returns the appended manifest rows, or None when
    every finished bucket is already linked."""
    fin = finished_buckets(spark, out_dir)
    if fin is None:
        return None
    unlinked = fin.filter(~F.col("linked")).select("bucket")
    owned = [r["bucket"] for r in unlinked.collect()]
    if not owned:
        return None
    todo = with_bucket(transcripts, n_buckets, bucket_fn=bucket_fn).join(
        F.broadcast(unlinked), "bucket", "left_semi"
    )
    from pyspark.storagelevel import StorageLevel

    # persisted: the linking stage (mention explode + broadcast join +
    # scoring window) feeds BOTH the links/bucket= write and the
    # manifest counters — without this it runs twice
    lk = with_bucket(
        link_fn(todo.drop("bucket"), entities), n_buckets, bucket_fn=bucket_fn
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        replace_buckets(lk, out_dir, "links", owned)
        null_long = F.lit(None).cast("long")
        man = (
            unlinked.join(
                lk.groupBy("bucket").agg(
                    F.count(F.lit(1)).alias("link_decisions")
                ),
                "bucket",
                "left",
            )
            .select(
                "bucket",
                null_long.alias("convs"),
                null_long.alias("triples"),
                null_long.alias("errors"),
                null_long.alias("turns"),
                F.coalesce(F.col("link_decisions"), F.lit(0)).alias(
                    "link_decisions"
                ),
                F.lit(True).alias("linked"),
                F.current_timestamp().alias("ts"),
            )
            .localCheckpoint()
        )
    finally:
        lk.unpersist()
    man.write.mode("append").parquet(os.path.join(out_dir, "manifest"))
    return man
