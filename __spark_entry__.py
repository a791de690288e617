"""Driver contract: ``entry(spark)`` runs the flagship query as a smoke
check, ``queries()`` maps every registry name to its query function, and
``oracle_sql()`` maps each name to the DuckDB SQL that
``tools/oracle_check.py`` compares it against.

Implementations live in ``hadoop_20_spark.queries``; this file stays a
thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_20_spark import queries as registry  # noqa: E402
from hadoop_20_spark.queries.tpch import q1_pricing_summary  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
