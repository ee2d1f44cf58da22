"""End-to-end Spark pipeline vs the reference's conformance goldens.

This is the north-rule gate: W3C fixture documents are embedded into the
``transcripts(conv_id, turn_idx, role, text, tool, ts)`` table (one
document per conversation, chunked across turns at line boundaries, with
per-turn text equality under stable turn ordering), the distributed
pipeline (reassemble -> Arrow-batched parse -> canonicalize) extracts
triples, and the result is scored as triple precision/recall against the
reference's committed N-Triples outputs, with rdfdiff-style structural
blank-node matching (reference: utils/rdfdiff.c, scripts/rdfcompare).

Target: P/R >= 0.95 (BASELINE.json metric). The kernels individually pass
their suites bit-for-bit, so the expected score here is ~1.0; the
threshold assertion mirrors the driver's grading rule.
"""

import pathlib

import pytest

from raptor_spark.kernel import ntriples as NT
from raptor_spark.kernel.compare import graphs_isomorphic
from raptor_spark.kernel.suites import REF_TESTS, makefile_vars
from raptor_spark.kernel.terms import Triple

_RDFXML_SPECIAL_BASE = {
    "22-rdf-syntax-ns": "http://www.w3.org/1999/02/22-rdf-syntax-ns",
    "rdfs-namespace": "http://www.w3.org/2000/01/rdf-schema",
    "rdf-schema": "http://www.w3.org/2000/01/rdf-schema",
    "owl-schema": "http://www.w3.org/2002/07/owl",
    "daml-oil": "http://www.daml.org/2001/03/daml+oil",
    "wine": "http://www.w3.org/TR/owl-guide/wine.rdf",
}
_RDFXML_XFAIL = {"ex-64.rdf", "ex-65.rdf", "bug-650.rdf"}


def _cases():
    """(file, format, base_uri, golden_file) across all suites."""
    cases = []
    v = makefile_vars("turtle-2013")
    for f in v["TEST_EVAL_FILES"]:
        cases.append(
            (
                REF_TESTS / "turtle-2013" / f,
                "turtle",
                "http://www.w3.org/2013/TurtleTests/" + f,
                REF_TESTS / "turtle-2013" / (f[:-4] + ".nt"),
            )
        )
    v = makefile_vars("trig-2013")
    for case in v["TEST_EVAL_CASES"]:
        f, gf = case.split(":")
        cases.append(
            (
                REF_TESTS / "trig-2013" / f,
                "trig",
                "http://www.w3.org/2013/TriGTests/" + f,
                REF_TESTS / "trig-2013" / gf,
            )
        )
    v = makefile_vars("rdfxml")
    for f in v["RDF_TEST_FILES"]:
        if f in _RDFXML_XFAIL:
            continue
        name = f.rsplit(".", 1)[0]
        base = _RDFXML_SPECIAL_BASE.get(
            name, "http://librdf.org/raptor/tests/" + f
        )
        cases.append(
            (REF_TESTS / "rdfxml" / f, "rdfxml", base,
             REF_TESTS / "rdfxml" / (name + ".out"))
        )
    v = makefile_vars("json")
    for f in v["TEST_FILES"]:
        cases.append(
            (
                REF_TESTS / "json" / f,
                "json",
                "http://example.librdf.org/",
                REF_TESTS / "json" / (f[:-5] + ".nt"),
            )
        )
    return cases


def _golden(path: pathlib.Path):
    with open(path, encoding="utf-8", newline="") as fh:
        gold, errs = NT.parse_document(
            fh.read(), is_nquads=path.suffix in (".nq", ".out")
        )
    assert not errs, (path, errs)
    return gold


def test_build_graph_rapper_mode(spark):
    """The mode the P/R gate compares against rapper output, on an
    in-test corpus: ``relabel=False, dedup=False`` keeps each document's
    own blank-node labels and its duplicate statements, and relative
    IRIs resolve against the per-conversation ``base_uri``. The default
    mode on the same input relabels per conversation and dedups."""
    from raptor_spark.kernel.terms import KIND_BLANK, KIND_LITERAL
    from raptor_spark.pipeline import build_graph

    turns = [
        "@prefix ex: <http://ex.org/> .\n<a> ex:p _:b0 .\n",
        '_:b0 ex:q "x" .\n<a> ex:p _:b0 .\n',
    ]
    bases = {"c1": "http://one.example/doc/", "c2": "http://two.example/"}
    transcripts = spark.createDataFrame(
        [
            (conv, i, "user", text, "turtle", base)
            for conv, base in bases.items()
            for i, text in enumerate(turns)
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, base_uri string",
    )
    cols = ["conv_id", "subj", "pred", "obj_kind", "obj_lex"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(cols).collect())

    def graph(conv, label, base, copies):
        return [(conv, label, "http://ex.org/q", KIND_LITERAL, "x")] + [
            (conv, base + "a", "http://ex.org/p", KIND_BLANK, label[2:])
        ] * copies

    triples, errors = build_graph(
        transcripts, base_uri_col="base_uri", relabel=False, dedup=False,
    )
    assert errors.count() == 0
    assert rows(triples) == graph("c1", "_:b0", bases["c1"], 2) + graph(
        "c2", "_:b0", bases["c2"], 2
    )

    triples, errors = build_graph(transcripts, base_uri_col="base_uri")
    assert errors.count() == 0
    assert rows(triples) == graph("c1", "_:c1.b0", bases["c1"], 1) + graph(
        "c2", "_:c2.b0", bases["c2"], 1
    )


def test_pipeline_fixture_precision_recall(spark):
    from raptor_spark.pipeline import build_graph
    from raptor_spark.sources.transcripts import fixture_transcripts

    cases = _cases()
    files = [c[0] for c in cases]
    fmts = [c[1] for c in cases]
    bases = [c[2] for c in cases]
    transcripts = fixture_transcripts(spark, files, fmts, bases)

    # relabel=False keeps doc-local labels (fixtures are single-document
    # conversations, matching rapper's per-run genid counter); dedup=False
    # compares the raw statement stream, as rapper emits duplicates
    triples, errors = build_graph(
        transcripts, base_uri_col="base_uri", relabel=False, dedup=False,
    )
    err_rows = errors.count()
    rows = triples.select(
        "conv_id", "subj", "pred", "obj_kind", "obj_lex", "obj_datatype",
        "obj_lang", "graph",
    ).collect()
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append(
            Triple(r.subj, r.pred, r.obj_kind, r.obj_lex, r.obj_datatype,
                   r.obj_lang, r.graph)
        )

    matched = emitted = expected = 0
    failures = []
    for path, fmt, base, gold_path in cases:
        conv_id = f"{path.parent.name}/{path.name}"
        got = by_conv.get(conv_id, [])
        gold = _golden(gold_path)
        emitted += len(got)
        expected += len(gold)
        if graphs_isomorphic(got, gold):
            matched += len(gold)
        else:
            failures.append(conv_id)
    precision = matched / emitted if emitted else 0.0
    recall = matched / expected if expected else 0.0
    assert err_rows == 0, f"pipeline parse errors: {err_rows}"
    assert precision >= 0.95 and recall >= 0.95, (
        precision,
        recall,
        failures[:10],
    )
    # the kernels pass their suites outright, so expect a perfect score
    assert not failures, failures[:10]
