"""Resumable materialization + streaming wrapper semantics.

North-rule requirements: conv_id-bucketed output, per-partition lineage
manifests (counters), resume-from-checkpoint skipping finished buckets,
and a Structured Streaming drain mode whose output matches the batch
pipeline's.
"""

import pathlib

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def transcripts(spark):
    from raptor_spark.sources.transcripts import tpch_transcripts

    return tpch_transcripts(
        spark, "/root/testdata/sf0.001", max_orders=200
    ).cache()


def test_resume_skips_finished_buckets(spark, transcripts, tmp_path_factory):
    from raptor_spark.pipeline import run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path_factory.mktemp("kg_out"))
    n_buckets = 8

    m1 = run_resumable(spark, transcripts, out, n_buckets=n_buckets)
    rows1 = m1.collect()
    assert rows1, "first run must produce manifest rows"
    total_triples = sum(r.triples for r in rows1)
    assert total_triples > 0
    written = spark.read.parquet(f"{out}/triples")
    assert written.count() == total_triples
    # lineage counters match the data per bucket
    per_bucket = {
        r.bucket: r.cnt
        for r in written.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    assert {r.bucket: r.triples for r in rows1} == per_bucket

    # second run: every bucket finished -> no new work, no new triples
    m2 = run_resumable(spark, transcripts, out, n_buckets=n_buckets)
    assert m2.count() == 0
    assert spark.read.parquet(f"{out}/triples").count() == total_triples

    # deterministic bucketing: recomputing buckets matches the manifest set
    bucketed = ckpt.with_bucket(transcripts, n_buckets)
    expect_buckets = {r.bucket for r in bucketed.select("bucket").distinct().collect()}
    assert {r.bucket for r in rows1} == expect_buckets


def test_lineage_counters_turns_and_links(spark, transcripts, tmp_path_factory):
    from raptor_spark.operators.link import customer_entities
    from raptor_spark.pipeline import run_resumable

    out = str(tmp_path_factory.mktemp("kg_lineage"))
    ents = customer_entities(spark, "/root/testdata/sf0.001")
    m = run_resumable(spark, transcripts, out, n_buckets=8, entities=ents)
    rows = m.collect()
    assert rows
    # turns parsed = the input turn count, distributed over the buckets
    assert sum(r.turns for r in rows) == transcripts.count()
    assert all(r.turns > 0 for r in rows)
    # link decisions: one best entity per conversation with a mention —
    # every synthesized order doc mentions its customer URI, so every
    # conversation links, and the materialized links match the counter
    n_links = sum(r.link_decisions for r in rows)
    assert n_links == transcripts.select("conv_id").distinct().count()
    written = spark.read.parquet(f"{out}/links")
    assert written.count() == n_links
    per_bucket = {
        r.bucket: r.cnt
        for r in written.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    assert {r.bucket: r.link_decisions for r in rows} == per_bucket


def test_resume_adds_linking_to_finished_buckets(
    spark, transcripts, tmp_path_factory
):
    """Resuming an out_dir first written WITHOUT entities must not leave
    links/ silently incomplete: the second run links the already-finished
    buckets via a linking-only catch-up pass, and the manifest records
    whether linking ran (linked flag; link_decisions null when it
    didn't) rather than an ambiguous 0."""
    from raptor_spark.operators.link import customer_entities
    from raptor_spark.pipeline import run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path_factory.mktemp("kg_addlink"))
    m1 = run_resumable(spark, transcripts, out, n_buckets=8)
    rows1 = m1.collect()
    assert rows1 and all(r.linked is False for r in rows1)
    assert all(r.link_decisions is None for r in rows1)

    ents = customer_entities(spark, "/root/testdata/sf0.001")
    m2 = run_resumable(spark, transcripts, out, n_buckets=8, entities=ents)
    rows2 = m2.collect()
    # no bucket re-parsed (triples untouched), but every bucket linked
    assert all(r.triples is None for r in rows2)
    assert all(r.linked for r in rows2)
    assert {r.bucket for r in rows2} == {r.bucket for r in rows1}
    n_links = sum(r.link_decisions for r in rows2)
    assert n_links == transcripts.select("conv_id").distinct().count()
    assert spark.read.parquet(f"{out}/links").count() == n_links
    fin = ckpt.finished_buckets(spark, out)
    assert all(r.linked for r in fin.collect())

    # third run: everything finished AND linked -> nothing to do
    m3 = run_resumable(spark, transcripts, out, n_buckets=8, entities=ents)
    assert m3.count() == 0
    assert spark.read.parquet(f"{out}/links").count() == n_links


def test_resume_processes_only_missing_buckets(spark, transcripts, tmp_path_factory):
    from raptor_spark.pipeline import run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path_factory.mktemp("kg_partial"))
    n_buckets = 8
    bucketed = ckpt.with_bucket(transcripts, n_buckets)
    half = bucketed.filter(F.col("bucket") < 4).drop("bucket")

    m1 = run_resumable(spark, half, out, n_buckets=n_buckets)
    done1 = {r.bucket for r in m1.collect()}
    assert done1 and all(b < 4 for b in done1)

    # full input now: only the unfinished buckets run
    m2 = run_resumable(spark, transcripts, out, n_buckets=n_buckets)
    done2 = {r.bucket for r in m2.collect()}
    assert done2 and all(b >= 4 for b in done2)

    # union covers the whole graph exactly once
    from raptor_spark.pipeline import build_graph

    expected, _ = build_graph(transcripts)
    got = spark.read.parquet(f"{out}/triples")
    assert got.count() == expected.count()


def test_streaming_drain_matches_batch(spark, transcripts, tmp_path_factory):
    from raptor_spark.pipeline import build_graph
    from raptor_spark.streaming.pipeline import stream_build_graph

    base = tmp_path_factory.mktemp("kg_stream")
    src = str(base / "transcripts")
    out = str(base / "out")
    transcripts.repartition(4, "conv_id").write.parquet(src)

    stream_build_graph(spark, src, out)
    got = spark.read.parquet(f"{out}/triples")
    expected, _ = build_graph(transcripts)
    assert got.count() == expected.count()
    # logical triple sets identical (bnode labels are conv-scoped and
    # deterministic, so exact equality holds)
    cols = ["subj", "pred", "obj_kind", "obj_lex", "obj_datatype",
            "obj_lang", "graph"]
    assert got.select(cols).exceptAll(expected.select(cols)).count() == 0
    assert expected.select(cols).exceptAll(got.select(cols)).count() == 0

    # a second drain over the same checkpoint is a no-op (exactly-once)
    stream_build_graph(spark, src, out)
    assert spark.read.parquet(f"{out}/triples").count() == expected.count()


def test_bucket_replay_is_idempotent(spark, transcripts, tmp_path_factory):
    """A run that died AFTER writing bucket data but BEFORE its manifest
    row re-executes those buckets on resume; the bucket writes use
    dynamic partition overwrite, so the replay REPLACES the orphaned
    copy instead of appending a duplicate next to it."""
    from raptor_spark.pipeline import build_graph
    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path_factory.mktemp("replay"))
    triples, errors = build_graph(transcripts)
    ckpt.write_bucketed(triples, errors, out, n_buckets=4,
                        turns=transcripts)
    once = spark.read.parquet(out + "/triples").count()
    # crash-replay: the same buckets written again (manifest row lost)
    ckpt.write_bucketed(triples, errors, out, n_buckets=4,
                        turns=transcripts)
    again = spark.read.parquet(out + "/triples").count()
    assert once > 0 and again == once
    # the manifest log is append-only; readers aggregate per bucket
    man = spark.read.parquet(out + "/manifest")
    assert man.count() == 2 * man.select("bucket").distinct().count()


def test_empty_manifest_dir_reads_as_nothing_finished(spark, tmp_path):
    """A manifest dir with no readable parquet (run died before the
    first append) means 'nothing finished' — but ONLY that case maps to
    None; other read failures propagate instead of silently
    re-materializing finished buckets."""
    import os

    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path / "job")
    os.makedirs(os.path.join(out, "manifest"))
    assert ckpt.finished_buckets(spark, out) is None


def test_zero_row_replay_clears_stale_bucket_data(
    spark, transcripts, tmp_path_factory
):
    """Dynamic partition overwrite alone cannot clear a partition the
    replay writes ZERO rows into: a crashed predecessor's rows would
    survive under a bucket whose conversations all legitimately parse
    to zero triples. write_bucketed pre-deletes the partitions of the
    buckets the run owns (from `turns`), so the zero-row replay lands
    clean (round-6 ADVICE fix)."""
    from raptor_spark.pipeline import build_graph
    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path_factory.mktemp("zero_replay"))
    triples, errors = build_graph(transcripts)
    ckpt.write_bucketed(triples, errors, out, n_buckets=4, turns=transcripts)
    assert spark.read.parquet(out + "/triples").count() > 0
    # crash-replay of the same buckets, now yielding zero triples
    empty = triples.filter("1 = 0")
    ckpt.write_bucketed(empty, errors.filter("1 = 0"), out, n_buckets=4,
                        turns=transcripts)
    import glob
    import os

    assert not glob.glob(os.path.join(out, "triples", "bucket=*")), (
        "stale bucket partitions survived a zero-row replay"
    )


def test_zero_row_link_catchup_clears_stale_links(
    spark, transcripts, mention_entities, tmp_path_factory
):
    """A link catch-up that crashed after its links write but before its
    manifest append leaves rows under links/bucket=; a rerun that relinks
    with a changed entity dictionary and writes zero rows must not let
    them survive next to a manifest recording link_decisions = 0."""
    import glob
    import os

    from raptor_spark.operators.link import link_entities
    from raptor_spark.pipeline import run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    out = str(tmp_path_factory.mktemp("zero_catchup"))
    run_resumable(spark, transcripts, out, n_buckets=4)
    # the crashed catch-up: its links landed, its manifest rows did not
    ckpt.overwrite_partitions(
        ckpt.with_bucket(link_entities(transcripts, mention_entities), 4),
        os.path.join(out, "links"),
        "bucket",
    )
    assert glob.glob(os.path.join(out, "links", "bucket=*"))
    man = ckpt.link_catchup(
        spark, transcripts, out, 4, mention_entities.filter("1 = 0"),
        link_fn=link_entities,
    )
    rows = man.collect()
    assert rows and all(r.linked and r.link_decisions == 0 for r in rows)
    assert not glob.glob(os.path.join(out, "links", "bucket=*")), (
        "a crashed catch-up's links survived a zero-row relink"
    )


@pytest.mark.parametrize(
    "uri", ["s3a://bucket/kg", "hdfs://nn:8020/kg", "file://otherhost/kg"]
)
def test_non_local_out_dir_is_refused_before_any_job(spark, transcripts, uri):
    """Resume state is read and the pre-clear runs through the local file
    system; a non-local out_dir would read as "nothing finished" and
    silently skip the pre-clear, so every entry point refuses it with a
    ValueError before any Spark job runs."""
    from raptor_spark.operators.link import customer_entities, link_entities
    from raptor_spark.pipeline import build_graph, run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    ents = customer_entities(spark, "/root/testdata/sf0.001")
    triples, errors = build_graph(transcripts)
    calls = [
        lambda: run_resumable(spark, transcripts, uri, n_buckets=4,
                              entities=ents),
        lambda: ckpt.write_bucketed(triples, errors, uri, 4,
                                    turns=transcripts),
        lambda: ckpt.link_catchup(spark, transcripts, uri, 4, ents,
                                  link_fn=link_entities),
    ]
    sc = spark.sparkContext
    group = "non-local-out-dir"
    sc.setJobGroup(group, "refused checkpoint dir")
    try:
        for call in calls:
            with pytest.raises(ValueError, match="local path or file: URI"):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_pre_clear_propagates_errors_other_than_missing(
    spark, transcripts, tmp_path
):
    """The pre-clear ignores only a missing bucket directory: a regular
    file where a bucket= directory should be is an error, not a bucket
    to skip silently. The out_dir is given as a file: URI, which the
    pre-clear resolves to the same local directory."""
    from raptor_spark.pipeline import build_graph
    from raptor_spark.plans import checkpoint as ckpt

    out = tmp_path / "job"
    bkt = ckpt.with_bucket(transcripts, 4).select("bucket").first().bucket
    (out / "triples").mkdir(parents=True)
    (out / "triples" / f"bucket={bkt}").write_text("not a directory")
    triples, errors = build_graph(transcripts)
    with pytest.raises(NotADirectoryError):
        ckpt.write_bucketed(triples, errors, out.as_uri(), 4,
                            turns=transcripts)


@pytest.fixture(scope="module")
def mention_entities(transcripts):
    """An entity dictionary with one entry per key the transcripts
    mention, so every conversation with a mention links."""
    from raptor_spark.operators.link import detect_mentions

    return (
        detect_mentions(transcripts)
        .select("key")
        .distinct()
        .withColumn(
            "entity_uri", F.concat(F.lit("http://ex.org/entity/"), "key")
        )
        .cache()
    )


def _plan_nodes(plan):
    """A Catalyst plan's nodes through ``children`` only — not the cached
    physical plan an InMemoryRelation carries as an inner child."""
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


@pytest.mark.parametrize("side", ["below", "above"])
def test_bucket_clustered_layout(
    spark, transcripts, mention_entities, tmp_path_factory, side
):
    """run_resumable range-partitions its documents on (bucket, conv_id),
    so each partitionBy("bucket") write task holds a contiguous range of
    buckets: every table gets at most non-empty buckets + partitions - 1
    part files (hash-partitioned rows give up to partitions x buckets),
    with n_buckets below and above the range exchange's partition count.
    The layout changes nothing else: the stored triples are build_graph's
    and the manifest totals are the input's conversation and turn counts.
    The input carries malformed documents so the errors table is
    written too."""
    import glob
    import os

    from raptor_spark.pipeline import (
        PARSE_TASKS_PER_CORE, build_graph, run_resumable,
    )

    parts = PARSE_TASKS_PER_CORE * spark.sparkContext.defaultParallelism
    n_buckets = parts // 2 if side == "below" else 3 * parts
    bad = (
        transcripts.filter(F.col("turn_idx") == 0)
        .orderBy("conv_id")
        .limit(24)
        .select(
            F.concat(F.lit("bad-"), F.col("conv_id")).alias("conv_id"),
            "turn_idx", "role",
            F.lit("<http://ex.org/s> <http://ex.org/p> .").alias("text"),
            F.lit("ntriples").alias("tool"), "ts",
        )
    )
    turns = transcripts.unionByName(bad)
    out = str(tmp_path_factory.mktemp("clustered"))
    rows = run_resumable(
        spark, turns, out, n_buckets=n_buckets, entities=mention_entities
    ).collect()

    writers = set()
    for table in ("triples", "errors", "links"):
        files = glob.glob(os.path.join(out, table, "bucket=*", "part-*"))
        buckets = {os.path.dirname(f) for f in files}
        assert buckets, "no %s written" % table
        assert len(files) <= len(buckets) + parts - 1, (
            table, len(files), len(buckets), parts
        )
        if table == "triples":
            writers = {os.path.basename(f).split("-")[1] for f in files}
    assert len(writers) > 1, "the bound must hold across several write tasks"

    cols = ["subj", "pred", "obj_kind", "obj_lex", "obj_datatype",
            "obj_lang", "graph"]
    got = spark.read.parquet(f"{out}/triples").select(cols)
    expected = build_graph(turns)[0].select(cols)
    assert got.subtract(expected).count() == 0
    assert expected.subtract(got).count() == 0

    assert sum(r.convs for r in rows) == turns.select("conv_id").distinct().count()
    assert sum(r.turns for r in rows) == turns.count()
    assert sum(r.errors for r in rows) == bad.count()


def test_resumable_parse_parallelism_independent_of_buckets(
    spark, transcripts, tmp_path, monkeypatch
):
    """With fewer buckets than cores, the parse stage of run_resumable
    still runs at least defaultParallelism tasks that hold documents:
    the documents are range-partitioned on (bucket, conv_id) into an
    explicit number of partitions, never hash-partitioned on bucket (one
    busy task per non-empty bucket) or coalesced by AQE to the size of
    the input."""
    import raptor_spark.pipeline as P

    parsed = []
    parse_documents = P.parse_documents

    def spy(docs, **kw):
        df = parse_documents(docs, **kw)
        parsed.append(df)
        return df

    monkeypatch.setattr(P, "parse_documents", spy)
    P.run_resumable(spark, transcripts, str(tmp_path / "job"), n_buckets=2)
    (df,) = parsed
    cores = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() >= cores
    busy = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert busy >= cores


def test_manifest_is_one_aggregation(
    spark, transcripts, mention_entities, tmp_path, monkeypatch
):
    """The manifest counters come from ONE aggregation keyed by bucket
    over the run's persisted inputs — no per-counter groupBy joined back
    together — and the linking stage is persisted, so its join does not
    run a second time for the link_decisions counter."""
    from raptor_spark.pipeline import run_resumable
    from raptor_spark.plans import checkpoint as ckpt

    plans = []
    manifest_counts = ckpt.manifest_counts

    def spy(turns, tables):
        df = manifest_counts(turns, tables)
        # optimized while the run's inputs are still persisted
        plans.append(df._jdf.queryExecution().optimizedPlan())
        return df

    monkeypatch.setattr(ckpt, "manifest_counts", spy)
    run_resumable(spark, transcripts, str(tmp_path / "job"), n_buckets=8,
                  entities=mention_entities)
    (plan,) = plans
    nodes = list(_plan_nodes(plan))
    assert not [n for n in nodes if n.nodeName() == "Join"]
    aggs = [n for n in nodes if n.nodeName() == "Aggregate"]
    assert len(aggs) == 1
    keys = aggs[0].groupingExpressions()
    assert keys.size() == 1
    assert keys.apply(0).toString().startswith("bucket#")
