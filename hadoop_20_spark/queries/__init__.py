"""Query registry package — the engine's query inventory (SURVEY §2).

REGISTRY is populated by importing the per-domain modules below; their
import order (and definition order within each module) preserves the
original single-file registry order, which re-registrations rely on.
``queries()`` and ``oracle_sql()`` list the entries in that order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hadoop_20_spark.queries._base import REGISTRY, Query, register  # noqa: F401
from hadoop_20_spark.queries import relational  # noqa: F401,E402
from hadoop_20_spark.queries import sampling  # noqa: F401,E402
from hadoop_20_spark.queries import stats  # noqa: F401,E402
from hadoop_20_spark.queries import tpch  # noqa: F401,E402
from hadoop_20_spark.queries import text_dedup  # noqa: F401,E402
from hadoop_20_spark.queries import text_curation  # noqa: F401,E402
from hadoop_20_spark.queries import similarity  # noqa: F401,E402
from hadoop_20_spark.queries import streaming_udx  # noqa: F401,E402
from hadoop_20_spark.queries import events  # noqa: F401,E402
from hadoop_20_spark.queries import graph  # noqa: F401,E402
from hadoop_20_spark.queries import corpus_stats  # noqa: F401,E402
from hadoop_20_spark.queries import ingestion  # noqa: F401,E402
from hadoop_20_spark.queries import raid  # noqa: F401,E402
from hadoop_20_spark.queries import basket  # noqa: F401,E402
from hadoop_20_spark.queries import linkage  # noqa: F401,E402
from hadoop_20_spark.queries import encodings  # noqa: F401,E402
from hadoop_20_spark.queries import sketches  # noqa: F401,E402


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
