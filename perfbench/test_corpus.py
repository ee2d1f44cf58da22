"""Tests of the benchmark's seeded corpus generator.

    python3 -m pytest perfbench/test_corpus.py -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus as C  # noqa: E402

N = 600


def test_same_seed_same_corpus():
    a, b = C.generate(11, N), C.generate(11, N)
    assert [c.turns for c in a.convs] == [c.turns for c in b.convs]
    assert [c.expected() for c in a.convs] == [c.expected() for c in b.convs]
    assert a.links() == b.links()
    assert [c.turns for c in C.generate(12, N).convs] != [c.turns for c in a.convs]


def test_turns_in_order_reproduce_each_document(tmp_path):
    import pyarrow.parquet as pq

    cp = C.generate(3, N)
    paths = C.write_tables(cp, str(tmp_path))
    t = pq.read_table(paths["transcripts"]).to_pydict()
    turns = {}
    for cid, idx, text in zip(t["conv_id"], t["turn_idx"], t["text"]):
        turns.setdefault(cid, []).append((idx, text))
    assert len(turns) == N
    for c in cp.convs:
        parts = sorted(turns[c.conv_id])
        assert [i for i, _ in parts] == list(range(len(parts)))
        assert 1 <= len(parts) <= 20
        assert "".join(text for _, text in parts) == "".join(c.lines)


def test_corpus_shape():
    cp = C.generate(5, 2000)
    fmts = Counter(c.fmt for c in cp.convs)
    assert fmts == {"ntriples": 800, "turtle": 400, "rdfxml": 200,
                    "json": 200, "nquads": 200, "trig": 200}
    assert sum(c.malformed for c in cp.convs) == 20
    sizes = [len(c.stmts) for c in cp.convs]
    assert max(sizes) >= 0.009 * sum(sizes)
    assert any(len(c.stmts) > len(c.expected()) for c in cp.convs)  # repeats
    assert any(not s.lex.isascii() for c in cp.convs for s in c.stmts)
    assert cp.links()


def test_documents_parse_to_the_truth():
    """Well-formed documents parse to exactly the expected statements;
    malformed ones report an error (the repo's own parser kernels)."""
    from raptor_spark.operators.parse import parse_one

    for c in C.generate(7, N).convs:
        triples, errors = parse_one("".join(c.turns), c.fmt)
        if c.malformed:
            assert errors, c.conv_id
        else:
            assert not errors and set(triples) == c.expected(), c.conv_id


def test_canonical_ignores_blank_node_labels():
    rows = [("c", "http://s", "http://p", C.BLANK, "x1", None, None, None),
            ("c", "_:x1", C.SEQ, C.LITERAL, "1", C.XSD_INTEGER, None, None)]
    renamed = [("c", "http://s", "http://p", C.BLANK, "genid9", None, None, None),
               ("c", "_:genid9", C.SEQ, C.LITERAL, "1", C.XSD_INTEGER, None, None)]
    assert C.canonical(rows) == C.canonical(renamed)
    assert C.canonical(rows) != C.canonical(renamed[:1])
