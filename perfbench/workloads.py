"""The three benchmark workloads and their output checks.

Each workload drives a public entry point of the program over the seeded
tables from :mod:`corpus`:

- ``build``: ``pipeline.run_resumable`` with entity linking into an
  empty output directory.
- ``resume``: ``run_resumable`` with linking over a copy of a snapshot in
  which 3/4 of the buckets were finished by an earlier run without
  linking.
- ``export``: ``serialize_documents(fmt="turtle")`` written as parquet and
  ``nt_lines_df`` written as N-Quads text, both from the stored graph.

``prepare()`` is untimed, ``job()`` is the timed call, ``check()``
verifies the outputs against the generator's truth and returns the
number of triples the job materialized or serialized.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections import Counter
from typing import Dict, List, Optional, Tuple

import corpus as C
import session as S

# tools/submit_job.py defaults to 64 buckets; every write task opens one
# file per bucket it holds, so the file count does not shrink with the
# corpus, and 16 keeps ~1000 conversations per bucket at the default size
N_BUCKETS = 16
DONE_SHARE = 0.75  # buckets the resume snapshot has finished


class CheckFailed(Exception):
    pass


def _read(path: str, columns: List[str]):
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        raise CheckFailed("missing output %s" % os.path.basename(path))
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    return [t.column(c).to_pylist() for c in columns]


_TRIPLE_COLS = ["conv_id", "subj", "pred", "obj_kind", "obj_lex",
                "obj_datatype", "obj_lang", "graph"]


class Truth:
    """What the generator says a finished job must have produced."""

    def __init__(self, corpus: C.Corpus):
        self.graph_rows = corpus.graph_rows()
        self.canon = C.canonical(self.graph_rows)
        self.malformed = {c.conv_id for c in corpus.convs if c.malformed}
        self.links = {(cid, uri, n) for cid, (uri, n) in corpus.links().items()}
        self.n_convs = len(corpus.convs)
        self.n_turns = sum(len(c.turns) for c in corpus.convs)
        self.conv_ids = [c.conv_id for c in corpus.convs]

    def check_graph(self, got: Dict[str, set]) -> None:
        """Every conversation's triples must equal the truth; a malformed
        document's triples must be a subset of what it meant to say (its
        parser stops or recovers at the defect), compared without the
        graph term, which a parser recovering from an error inside a
        TriG block may lose."""
        extra = set(got) - set(self.conv_ids)
        if extra:
            raise CheckFailed("triples for %d unexpected conversations" % len(extra))
        for cid in self.conv_ids:
            g, want = got.get(cid, set()), self.canon.get(cid, set())
            if cid in self.malformed:
                # a blank node whose ex:seq statement lay past the defect
                # cannot be matched; its statements are left out
                seen = {t[:6] for t in g
                        if not t[0].startswith("_:") or t[0].startswith("_:#")}
                if not {t for t in seen if t[2] != C.BLANK or t[3].startswith("#")} <= {
                        t[:6] for t in want}:
                    raise CheckFailed("malformed %s emitted triples it never held" % cid)
            elif g != want:
                raise CheckFailed("%s: %d missing, %d unexpected triples"
                                  % (cid, len(want - g), len(g - want)))


def _canon_output(out_dir: str) -> Tuple[Dict[str, set], int]:
    cols = _read(os.path.join(out_dir, "triples"), _TRIPLE_COLS)
    rows = list(zip(*cols))
    return C.canonical(rows), len(rows)


def _check_kg_dir(truth: Truth, out_dir: str) -> int:
    """A finished materialization under ``out_dir``: all triples, the
    error rows, the links and the manifest totals. Returns the number of
    triple rows stored."""
    got, n_rows = _canon_output(out_dir)
    truth.check_graph(got)
    (err_convs,) = _read(os.path.join(out_dir, "errors"), ["conv_id"])
    if set(err_convs) != truth.malformed:
        raise CheckFailed("error rows for %d conversations, %d malformed"
                          % (len(set(err_convs)), len(truth.malformed)))
    links = set(zip(*_read(os.path.join(out_dir, "links"),
                           ["conv_id", "entity_uri", "mentions"])))
    if links != truth.links:
        raise CheckFailed("links: %d missing, %d unexpected"
                          % (len(truth.links - links), len(links - truth.links)))
    man = _read(os.path.join(out_dir, "manifest"),
                ["bucket", "convs", "turns", "triples", "errors", "link_decisions", "linked"])
    tot = {k: sum(v or 0 for v in col)
           for k, col in zip(("convs", "turns", "triples", "errors"), man[1:5])}
    linked_buckets = {b for b, ok in zip(man[0], man[6]) if ok}
    want = {"convs": truth.n_convs, "turns": truth.n_turns,
            "triples": n_rows, "errors": len(err_convs)}
    if tot != want:
        raise CheckFailed("manifest totals %s, expected %s" % (tot, want))
    decisions = Counter()
    for b, d, ok in zip(man[0], man[5], man[6]):
        if ok:
            decisions[b] += d or 0
    if sum(decisions.values()) != len(truth.links) or len(linked_buckets) != len(set(man[0])):
        raise CheckFailed("manifest link decisions %d over %d of %d buckets, expected %d"
                          % (sum(decisions.values()), len(linked_buckets),
                             len(set(man[0])), len(truth.links)))
    return n_rows


def _head(df, limit: Optional[int]):
    """Rows of the first ``limit`` conversations (ids are c000000...)."""
    if limit is None:
        return df
    from pyspark.sql import functions as F

    return df.filter(F.col("conv_id") < "c%06d" % limit)


def write_snapshot(spark, transcripts, path: str):
    """The state an earlier run left: ``run_resumable`` without linking
    over the conversations of the buckets below DONE_SHARE * N_BUCKETS.
    Returns (conversations it left unfinished, buckets it finished)."""
    from pyspark.sql import functions as F
    from raptor_spark.pipeline import run_resumable

    shutil.rmtree(path, ignore_errors=True)
    cut = int(N_BUCKETS * DONE_SHARE)
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS))  # with_bucket's default
    run_resumable(spark, transcripts.filter(bucket < cut), path, n_buckets=N_BUCKETS).collect()
    rows = transcripts.select("conv_id").distinct().select("conv_id", bucket.alias("b")).collect()
    return ({r.conv_id for r in rows if r.b >= cut}, {r.b for r in rows if r.b < cut})


class Workload:
    name = ""

    def __init__(self, spark, tables: Dict[str, str], work: str):
        self.spark, self.work = spark, work
        self.out = None
        self.truth: Truth = None  # set once set-up is over; checks need it

    def warm(self) -> None:
        """Set-up work done once per session: the job once, untimed and
        unchecked, which starts every Python worker and compiles the
        job's code paths at full size."""
        out = os.path.join(self.work, "warm")
        shutil.rmtree(out, ignore_errors=True)
        self.run(out)
        shutil.rmtree(out, ignore_errors=True)

    def prepare(self) -> None:
        """A new, empty output directory per job. Earlier ones are left
        in place until the run ends: deleting files while jobs are timed
        puts the file system's discard and journal work into them."""
        self.out = tempfile.mkdtemp(prefix="out-%s-" % self.name, dir=self.work)

    def job(self):
        return self.run(self.out)

    def run(self, out: str, limit: Optional[int] = None):
        """The workload's call into the program, writing under ``out``,
        over the first ``limit`` conversations (all when None)."""
        raise NotImplementedError

    def check(self, result) -> int:
        raise NotImplementedError

    def written_bytes(self) -> int:
        return sum(S.dir_files(self.out).values())


class Build(Workload):
    name = "build"

    def __init__(self, spark, tables, work):
        super().__init__(spark, tables, work)
        self.transcripts = spark.read.parquet(tables["transcripts"])
        self.entities = spark.read.parquet(tables["entities"])

    def run(self, out, limit=None):
        from raptor_spark.pipeline import run_resumable

        return run_resumable(self.spark, _head(self.transcripts, limit), out,
                             n_buckets=N_BUCKETS, entities=self.entities).collect()

    def check(self, manifest_rows) -> int:
        n = _check_kg_dir(self.truth, self.out)
        if sum(r.triples or 0 for r in manifest_rows) != n:
            raise CheckFailed("returned manifest disagrees with the stored triples")
        return n


class Resume(Build):
    name = "resume"

    def __init__(self, spark, tables, work):
        super().__init__(spark, tables, work)
        self.snapshot = os.path.join(work, "snapshot")
        self._snap_files: Dict[str, int] = {}

    def warm(self) -> None:
        """Write the snapshot. It is also the warm-up: it runs the parse
        and write paths."""
        self.new_convs, self.done_buckets = write_snapshot(
            self.spark, self.transcripts, self.snapshot)
        self._snap_files = S.dir_files(self.snapshot)

    def prepare(self) -> None:
        super().prepare()
        shutil.copytree(self.snapshot, self.out, dirs_exist_ok=True)

    def check(self, manifest_rows) -> int:
        _check_kg_dir(self.truth, self.out)
        fresh = [r for r in manifest_rows if r.convs is not None]
        if sum(r.convs for r in fresh) != len(self.new_convs):
            raise CheckFailed("resume parsed %d conversations, %d were unfinished"
                              % (sum(r.convs for r in fresh), len(self.new_convs)))
        if len(manifest_rows) - len(fresh) != len(self.done_buckets):
            raise CheckFailed("link catch-up wrote %d manifest rows for %d finished buckets"
                              % (len(manifest_rows) - len(fresh), len(self.done_buckets)))
        return sum(r.triples for r in fresh)

    def written_bytes(self) -> int:
        now = S.dir_files(self.out)
        return sum(v for k, v in now.items() if self._snap_files.get(k) != v)


class Export(Workload):
    name = "export"

    def __init__(self, spark, tables, work):
        super().__init__(spark, tables, work)
        self.graph = spark.read.parquet(tables["graph"])
        self._expect = None
        self._verified = False

    def expected(self):
        """(sorted N-Quads lines, canonical Turtle graph per conversation);
        Turtle has no graph term, so the truth drops it."""
        if self._expect is None:
            rows = self.truth.graph_rows
            self._expect = (sorted(C.nquads_lines(rows)),
                            C.canonical([r[:7] + (None,) for r in rows]))
        return self._expect

    def run(self, out, limit=None):
        from raptor_spark.operators.serialize import nt_lines_df, serialize_documents

        graph = _head(self.graph, limit)
        serialize_documents(graph, fmt="turtle").write.mode("overwrite").parquet(
            os.path.join(out, "turtle"))
        nt_lines_df(graph).withColumnRenamed("nt_line", "value").write.mode(
            "overwrite").text(os.path.join(out, "nquads"))

    def check(self, _result) -> int:
        from raptor_spark.kernel import turtle as T

        want_nq, want_ttl = self.expected()
        lines = []
        nq = os.path.join(self.out, "nquads")
        for f in sorted(os.listdir(nq)):
            if f.startswith("part-"):
                with open(os.path.join(nq, f), encoding="utf-8", newline="") as fh:
                    lines.extend(fh.read().splitlines())
        if sorted(lines) != want_nq:
            raise CheckFailed("N-Quads output differs from the generator's rendering")
        conv, payload = _read(os.path.join(self.out, "turtle"), ["conv_id", "payload"])
        if len(conv) != len(set(conv)) or set(conv) != set(want_ttl):
            raise CheckFailed("Turtle documents do not cover each conversation once")
        # the writer's output order follows collect_list order, so no byte
        # digest repeats: the first job's documents are all reparsed, later
        # jobs' a fixed tenth of them (the reparse costs twice the job)
        pick = set(self.truth.conv_ids[::10]) if self._verified else None
        rows = []
        for cid, doc in zip(conv, payload):
            if pick is not None and cid not in pick:
                continue
            back, errs = T.parse_document(doc, base_uri="http://roundtrip/")
            if errs:
                raise CheckFailed("Turtle for %s does not reparse: %s" % (cid, errs[0]))
            rows.extend((cid,) + tuple(t) for t in back)
        got = C.canonical(rows)
        if any(got.get(cid, set()) != want_ttl[cid] for cid in (pick or want_ttl)):
            raise CheckFailed("Turtle reparses to a different graph")
        self._verified = True
        return len(self.truth.graph_rows)


WORKLOADS = {w.name: w for w in (Build, Resume, Export)}
