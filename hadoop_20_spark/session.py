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
- two shuffle widths, one per kind of query:
  - batch plans take theirs from
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``, sized
    to the local core count; on a real cluster AQE's coalescing makes
    that initial number a ceiling, not a fix.  Spark reads it in place
    of ``spark.sql.shuffle.partitions`` whenever AQE and coalescing are
    on, as they always are here (:func:`batch_shuffle_partitions`).
  - stateful streams take ``spark.sql.shuffle.partitions``, set to
    ``STATE_PARTITIONS_MIN``: Structured Streaming turns AQE off in the
    session it clones at ``.start()`` and sizes its state stores from
    this conf.  The state width is written into the checkpoint's offset
    log and fixed for the checkpoint's life, and every store pays a
    commit on every micro-batch, data or not, so it starts at the floor
    of the input-sized rule (``streaming.adaptive_state_partitions``),
    not at the core count.  Batch work inside a ``foreachBatch``
    callback also runs with AQE off, at this width.
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

#: state stores per stateful streaming operator: the session's
#: ``spark.sql.shuffle.partitions`` and the floor of
#: ``streaming.adaptive_state_partitions``
STATE_PARTITIONS_MIN = 4


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset: 40% of
    physical memory in whole GB (at least 1g, at most 16g), so two
    driver JVMs (a test suite's and the subprocess one it starts) fit
    in the machine's memory together."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16, max(1, int(phys * 0.4) >> 30))}g"


def batch_shuffle_partitions(spark: SparkSession) -> int:
    """The shuffle width batch plans get on ``spark``, by Spark's own rule
    (``SQLConf.numShufflePartitions``): AQE's initial partition number
    when AQE and its coalescing are on and it is set, otherwise
    ``spark.sql.shuffle.partitions``."""
    conf = spark.conf

    def on(key: str) -> bool:
        return conf.get(key).strip().lower() == "true"

    if on("spark.sql.adaptive.enabled") and on(
        "spark.sql.adaptive.coalescePartitions.enabled"
    ):
        initial = conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        if initial:
            return int(initial)
    return int(conf.get("spark.sql.shuffle.partitions"))


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

    ``shuffle_partitions`` is the batch width (AQE's initial partition
    number).  New stateful streams get ``STATE_PARTITIONS_MIN`` state
    stores instead (``spark.sql.shuffle.partitions``; see the module
    docstring); a stream restarted from an existing checkpoint keeps the
    width recorded there.  ``extra_conf`` can override either conf.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    # local[N] => one JVM; N concurrent tasks. The batch width defaults
    # to core count: fewer wastes cores, more adds scheduling overhead at
    # test scale. At 100 TB you would raise this (or let AQE coalesce).
    if shuffle_partitions is None:
        cpus = os.cpu_count() or 8 if DEFAULT_CPUS == "*" else int(DEFAULT_CPUS)
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions),
        )
        .config("spark.sql.shuffle.partitions", str(STATE_PARTITIONS_MIN))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter join pruning: the Spark-native descendant of
        # the reference's core/util/bloom + BloomMapFile scan filtering.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_driver_memory()),
        )
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
