"""Query contract (PySpark target).

``entry(spark)`` is a smoke check. Each ``queries()[name]`` is checked
against ``oracle_sql()[name]`` run in DuckDB (row count, schema and
order-insensitive values).

Implementations live in :mod:`smalltsdb_spark.queries`; this module is the
thin contract adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from smalltsdb_spark.queries import ORACLE, QUERIES  # noqa: E402
from smalltsdb_spark import queries_ext  # noqa: E402,F401  (registers extensions)
from smalltsdb_spark import queries_rel  # noqa: E402,F401  (registers rel/window wave)
from smalltsdb_spark.operators.aggregate import aggregate  # noqa: E402
from smalltsdb_spark.queries import events_as_incoming  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the engine's core — the
    reference's multi-stat aggregation at three granularities in one
    DataFrame (events mapped onto the incoming relation)."""
    sf_dir = "/root/testdata/sf0.001"
    inc = events_as_incoming(spark, sf_dir)
    parts = [
        aggregate(inc, seconds).withColumn("period", F.lit(name))
        for name, seconds in [("oneminute", 60), ("onehour", 3600), ("oneday", 86400)]
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions),
    in registration order."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, keyed like ``queries()``.

    Lazy entries (callables) embed data-derived constants — e.g. the IVF
    oracle trains the same deterministic k-means centroids the Spark query
    trains and renders them as literals; they read the scale dir from
    ``SMALLTSDB_ORACLE_SF_DIR`` or ``SMALLTSDB_PARITY_SF`` (default sf0.01).
    """
    return {k: (v() if callable(v) else v) for k, v in ORACLE.items()}
