"""The operator catalogue's one registration point.

Every family module declares each entry once, next to its definition:
``@query("dedup_exact", oracle=_DEDUP_EXACT_ORACLE)``. The package's
``QUERIES`` and ``ORACLES`` are both read off ``REGISTRY``, so a query
cannot exist without its oracle and the two can never drift apart.
"""

from __future__ import annotations

from collections.abc import Callable

#: name -> (query, DuckDB oracle SQL), in registration order
REGISTRY: dict[str, tuple[Callable, str]] = {}


def query(name: str, oracle: str):
    """Register the decorated ``(spark, sf_dir) -> DataFrame`` function
    as the queries() entry ``name``, checked by ``oracle``."""

    def register(fn):
        if name in REGISTRY:
            raise ValueError("query %r is registered twice" % name)
        REGISTRY[name] = (fn, oracle)
        return fn

    return register
