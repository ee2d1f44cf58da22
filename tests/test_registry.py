"""The operator catalogue's registration contract, checked without a
Spark session: queries() and oracle_sql() name the same entries (each
registered once, with its oracle, by raptor_spark/queries/registry.py),
and every name the frozen callers import from raptor_spark.queries
still resolves."""

import ast
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: callers that must keep working unchanged against the package
FROZEN_CALLERS = ("bench.py", "__spark_entry__.py", "tests/test_plan_shape.py")


def _spark_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _names_imported_from_queries(path):
    """Names a file takes from raptor_spark.queries: ``from
    raptor_spark.queries import X`` and ``Q.X`` after ``from
    raptor_spark import queries as Q``."""
    tree = ast.parse(open(os.path.join(REPO, path)).read())
    names, aliases = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.module == "raptor_spark.queries":
                names |= {a.name for a in node.names}
            elif node.module == "raptor_spark":
                aliases |= {a.asname or a.name for a in node.names
                            if a.name == "queries"}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases):
            names.add(node.attr)
    return names


def test_queries_and_oracles_name_the_same_49_entries():
    entry = _spark_entry()
    queries, oracles = entry.queries(), entry.oracle_sql()
    assert len(queries) == 49
    assert list(queries) == list(oracles)
    assert all(callable(fn) for fn in queries.values())
    assert all(
        isinstance(sql, str) and sql.strip() for sql in oracles.values()
    )


@pytest.mark.parametrize("path", FROZEN_CALLERS)
def test_frozen_callers_names_resolve(path):
    import raptor_spark.queries as Q

    names = _names_imported_from_queries(path)
    assert names, path
    missing = sorted(n for n in names if not hasattr(Q, n))
    assert not missing, (path, missing)


def test_stats_dicts_are_the_ones_the_queries_update():
    import raptor_spark.queries as Q
    from raptor_spark.queries import ann, dedup

    assert Q.ANN_STATS is ann.ANN_STATS
    assert Q.CLUSTER_STATS is dedup.CLUSTER_STATS


def test_a_name_registers_once():
    from raptor_spark.queries.registry import REGISTRY, query

    before = dict(REGISTRY)
    with pytest.raises(ValueError, match="registered twice"):
        query("kg_pipeline", oracle="SELECT 1")(lambda spark, sf_dir: None)
    assert REGISTRY == before
