"""SparkSession factory.

Replaces the reference's job-submission client (
``src/mapred/org/apache/hadoop/mapred/JobClient.java#runJob`` +
``JobConf.java``): where a JobConf carried the whole physical plan as
strings, here the session carries only engine tuning, and plans are
DataFrames.

Scale posture (100 TB design point, even though tests run local):
- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  — subsumes the reference's manual salting / reducer-count tuning
  (``mapred.reduce.tasks``).
- shuffle partitions sized to the local core count for tests; on a real
  cluster AQE's coalescing makes the initial number a ceiling, not a fix.
- Arrow enabled for the Pandas-UDF slow path.
- session timezone pinned UTC so results are comparable with the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- generated-code cache sized to the working set (``CODEGEN_CACHE_ENTRIES``)
  so a repeated query reuses its compiled classes instead of recompiling
  them: Spark's default of 100 is below the ~130 distinct classes one
  pass of either benchmark workload uses; the driver JVM's JIT code
  cache (``JIT_CODE_CACHE``) is pinned for the same reason, so compiled
  methods are not flushed and recompiled between passes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")

#: ``spark.sql.codegen.cache.maxEntries``; sized in ``get_spark``
CODEGEN_CACHE_ENTRIES = 1000

#: the driver JVM's ``-XX:ReservedCodeCacheSize``; sized in ``get_spark``
JIT_CODE_CACHE = "240m"


def get_spark(
    app_name: str = "hadoop_20_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    Mirrors the role of ``JobClient``/``JobConf`` in the reference but the
    settings here are engine-level, not per-query: Catalyst owns the
    per-query physical choices the reference forced users to hand-pick
    (combiner? broadcast? reducer count? total-order sampling?).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    # local[N] => one JVM; N concurrent tasks. Shuffle partitions default
    # to core count: fewer wastes cores, more adds scheduling overhead at
    # test scale. At 100 TB you would raise this (or let AQE coalesce).
    if shuffle_partitions is None:
        cpus = os.cpu_count() or 8 if DEFAULT_CPUS == "*" else int(DEFAULT_CPUS)
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter join pruning: the Spark-native descendant of
        # the reference's core/util/bloom + BloomMapFile scan filtering.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Spark's generated-class cache (default 100 entries) is smaller
        # than one steady-state pass: llm_curation uses ~133 distinct
        # classes and warehouse_etl ~126 (2.2 KB of bytecode on average,
        # 14 KB max), so at 100 each repeated pass recompiled ~122 and ~57
        # classes at 9-12 ms apiece under C1.  1000 is ~4x the two
        # workloads' combined ~260 classes.  A static conf: it takes effect
        # when the JVM's first session starts, and every session in that
        # JVM shares the cache.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The JIT's code cache must hold those classes' compiled methods
        # too.  A JDK 17 JVM with its tiers capped (-XX:TieredStopAtLevel=1,
        # C1 only) sizes the cache at 48 MB, which ~10 passes of
        # llm_curation fill (~46 MB); the sweeper then flushes half of it
        # and the next passes spend 2-4x the JIT CPU recompiling the same
        # methods.  240 MB is the JVM's own size with all tiers on.
        # Default options: a caller's spark.driver.extraJavaOptions is
        # appended after them and wins.
        .config(
            "spark.driver.defaultJavaOptions",
            f"-XX:ReservedCodeCacheSize={JIT_CODE_CACHE}",
        )
        # bucketed-table warehouse kept out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE", "/tmp/h20_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
