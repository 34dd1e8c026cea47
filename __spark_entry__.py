"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real content lives in :mod:`postbound_spark.queries`; this module just
adapts the registry to the driver's entry points.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from postbound_spark.queries import load_all  # noqa: E402 — needs the path above


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 M0) on /root/testdata/sf0.001."""
    return load_all()["flagship_regional_revenue"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator/query from SURVEY.md §2.

    The registry's builders own the per-query cache lifecycle: building a
    different query than the last one first releases the previous query's
    pipeline stage caches, and repetitions of one query keep them warm. So
    the ~140 queries the driver runs in one session never pin every
    pipeline query's persist()ed stages at once."""
    return {name: qdef.builder for name, qdef in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted → rows-only check)."""
    return {
        name: qdef.oracle for name, qdef in load_all().items() if qdef.oracle is not None
    }
