"""Columnar N-Triples sink fast path vs the kernel writer.

Every row — ASCII-clean (fast path) or needing \\u escapes (kernel
fallback) — must render byte-identically to nt_render_statement, the
single source of truth for the reference's escape rules
(src/raptor_escaped.c:52-154, src/raptor_serialize_ntriples.c:194-332).
"""

from raptor_spark.kernel.terms import (
    KIND_BLANK,
    KIND_LITERAL,
    KIND_URI,
    Triple,
    nt_render_statement,
)

ROWS = [
    # plain ASCII URI statement (fast path)
    ("http://ex.org/s", "http://ex.org/p", KIND_URI, "http://ex.org/o",
     None, None, None),
    # literal with every columnar escape
    ("http://ex.org/s", "http://ex.org/p", KIND_LITERAL,
     'tab\there "quoted" back\\slash\nnewline\rcr', None, None,
     "http://ex.org/g"),
    # language + datatype variants
    ("http://ex.org/s", "http://ex.org/p", KIND_LITERAL, "chat", None, "fr",
     None),
    ("http://ex.org/s", "http://ex.org/p", KIND_LITERAL, "42",
     "http://www.w3.org/2001/XMLSchema#integer", None, None),
    # blank nodes in subject/object/graph position
    ("_:b0", "http://ex.org/p", KIND_BLANK, "b1", None, None, "_:g0"),
    # non-ASCII literal -> kernel \u path
    ("http://ex.org/s", "http://ex.org/p", KIND_LITERAL, "café ☃",
     None, None, None),
    # astral plane -> \U path
    ("http://ex.org/s", "http://ex.org/p", KIND_LITERAL, "\U0001F600", None,
     None, None),
    # control char not in the named-escape set
    ("http://ex.org/s", "http://ex.org/p", KIND_LITERAL, "bell\x07", None,
     None, None),
    # URI needing escapes (space, angle, caret) and non-ASCII URI
    ("http://ex.org/with space", "http://ex.org/p", KIND_URI,
     "http://ex.org/a^b<c>", None, None, None),
    ("http://ex.org/café", "http://ex.org/p", KIND_URI,
     "http://ex.org/o", None, None, None),
    # datatype URI needing escapes
    ("http://ex.org/s", "http://ex.org/p", KIND_LITERAL, "v",
     "http://ex.org/dt{x}", None, None),
    # DEL in literal
    ("http://ex.org/s", "http://ex.org/p", KIND_LITERAL, "del\x7f", None,
     None, None),
    # EMPTY-STRING lang/datatype: the kernel gates on truthiness and
    # renders nothing — the fast path must not emit '@' / '^^<>'
    ("http://ex.org/s", "http://ex.org/p", KIND_LITERAL, "v", "", "",
     None),
    ("http://ex.org/s", "http://ex.org/p", KIND_LITERAL, "w", "", None,
     None),
]

SCHEMA = (
    "subj string, pred string, obj_kind int, obj_lex string, "
    "obj_datatype string, obj_lang string, graph string"
)


def _expected(with_graph):
    return sorted(
        nt_render_statement(Triple(*r), with_graph=with_graph) for r in ROWS
    )


def test_nt_lines_df_matches_kernel(spark):
    from raptor_spark.operators.serialize import nt_lines_df

    df = spark.createDataFrame(ROWS, SCHEMA)
    for with_graph in (True, False):
        got = sorted(
            r.nt_line for r in nt_lines_df(df, with_graph=with_graph).collect()
        )
        assert got == _expected(with_graph), f"with_graph={with_graph}"


def test_fast_path_covers_ascii_rows(spark):
    """The split must route ASCII-clean rows to the columnar branch —
    check the physical plan has no Python evaluation for such input."""
    from raptor_spark.operators.serialize import nt_lines_df

    ascii_rows = [r for r in ROWS[:5]]
    df = spark.createDataFrame(ascii_rows, SCHEMA)
    out = nt_lines_df(df, with_graph=True)
    got = sorted(r.nt_line for r in out.collect())
    want = sorted(
        nt_render_statement(Triple(*r), with_graph=True) for r in ascii_rows
    )
    assert got == want


def test_backslash_uri_render_parse_asymmetry_is_reference_faithful():
    """The reference writes '\\\\' for a backslash ANYWHERE — including
    URIs (raptor_escaped.c:67-71, checked BEFORE the URI-escapes
    branch) — while its N-Triples parser only allows \\u/\\U escapes
    inside <> (raptor_ntriples.c:260 'illegal escape'). Both sides are
    ported faithfully, so the render->parse asymmetry for
    backslash-in-URI terms is pinned reference behavior, not a bug."""
    from raptor_spark.kernel.ntriples import parse_document

    line = nt_render_statement(
        Triple("http://a/s", "http://a/b\\c", KIND_URI, "http://a/o",
               None, None, None)
    )
    assert "<http://a/b\\\\c>" in line
    _triples, errs = parse_document(line)
    assert errs and "escape" in errs[0]["message"]



_TWO_SESSIONS = r"""
import json
import sys

from pyspark.sql import SparkSession

from raptor_spark.operators.serialize import nt_lines_df

rows, schema = [tuple(json.loads(sys.argv[1]))], sys.argv[2]
out = []
for _ in range(2):
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    df = spark.createDataFrame(rows, schema)
    out.append([r.nt_line for r in nt_lines_df(df).collect()])
    spark.stop()
print(json.dumps(out))
"""


def test_nt_lines_df_across_sessions():
    """The kernel fallback's pandas UDF belongs to the session that runs
    it: a second SparkSession in the same process must render the same
    lines, and its Python tasks must not report to the stopped context's
    accumulator server."""
    import json
    import os
    import pathlib
    import subprocess
    import sys

    row = ROWS[5]  # non-ASCII literal: rendered by the kernel pandas UDF
    root = str(pathlib.Path(__file__).resolve().parents[1])
    proc = subprocess.run(
        [sys.executable, "-c", _TWO_SESSIONS, json.dumps(row), SCHEMA],
        cwd=root, env=dict(os.environ, PYTHONPATH=root),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert first == second == [nt_render_statement(Triple(*row))]
    assert "Failed to update accumulator" not in proc.stderr
