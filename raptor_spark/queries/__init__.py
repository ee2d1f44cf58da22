"""Operator catalog: (spark query, DuckDB oracle) pairs.

Each entry re-expresses one operator from SURVEY.md §2 (or a training-data
pipeline operator) over an sf_dir's parquet tables, with an ANSI/DuckDB
oracle producing identical rows — identical column names, integer/string
types wherever possible, floats stabilized before comparison.

Conventions:
- every computed column aliased the same in Spark and SQL;
- deterministic tie-breaks on every rank/order;
- relational operators are pure column expressions (whole-stage codegen);
  Python appears only as Arrow-batched kernels where the work is
  genuinely non-relational (the parse kernels inside kg_*, the
  serializer kernels, the stubbed media codecs).

One module per family, each registering its entries with
``@query(name, oracle=SQL)`` next to their definitions (registry.py).
``QUERIES`` and ``ORACLES`` are both derived from that one registry, in
registration order: the family modules in the order imported below,
each in definition order.
"""

from raptor_spark.queries import (  # noqa: F401 -- registers every family
    kg, relational, serialize, dedup, text, media, ann,
)
from raptor_spark.queries.ann import ANN_STATS, _ivf_assign
from raptor_spark.queries.dedup import CLUSTER_STATS
from raptor_spark.queries.kg import q_kg_pipeline
from raptor_spark.queries.registry import REGISTRY

QUERIES = {name: fn for name, (fn, _oracle) in REGISTRY.items()}
ORACLES = {name: oracle for name, (_fn, oracle) in REGISTRY.items()}
