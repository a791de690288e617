"""session.get_spark sizes Spark's generated-code cache to the working
set, so a repeated query reuses its compiled classes, pins the driver
JVM's JIT code cache, so their compiled methods stay compiled, sizes
the driver heap to the machine, and gives batch plans and stateful
streams separate shuffle widths."""

from __future__ import annotations

import os
import subprocess
import sys

from hadoop_20_spark.queries import REGISTRY
from hadoop_20_spark.session import (
    JIT_CODE_CACHE,
    STATE_PARTITIONS_MIN,
    batch_shuffle_partitions,
)

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the registry queries of perfbench's llm_curation pass: at the test
# fixture size they compile ~130 distinct classes, more than Spark's
# default cache of 100 holds, so at that default a second round
# recompiles ~120 of them
QUERIES = (
    "minhash_lsh_pairs",
    "paragraph_dedup",
    "tfidf_top_terms",
    "winnowing_fps",
    "embedding_topk",
)


def test_repeated_queries_compile_no_classes(spark):
    """Counted with Spark's CodegenMetrics: a cache miss compiles."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_round():
        for name in QUERIES:
            REGISTRY[name].fn(spark, SF_DIR).collect()

    one_round()
    before = compiles.getCount()
    one_round()
    assert compiles.getCount() - before == 0


_CODE_CACHE_PROBE = """
from hadoop_20_spark.session import get_spark
spark = get_spark("probe", master="local[1]", extra_conf={
    "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1"})
mf = spark._jvm.java.lang.management.ManagementFactory
print(sum(p.getUsage().getMax() for p in mf.getMemoryPoolMXBeans()
          if p.getName() == "CodeCache" or p.getName().startswith("CodeHeap")))
spark.stop()
"""


def test_driver_jit_code_cache_survives_tier_cap():
    """A caller's JVM options come after get_spark's defaults, so a
    C1-only driver (which would size its code cache at 48 MB) still gets
    ``JIT_CODE_CACHE``.  A fresh JVM is needed, hence the subprocess."""
    env = {**os.environ, "SPARK_DRIVER_MEM": "512m", "SPARK_UI": "false"}
    out = subprocess.run(
        [sys.executable, "-c", _CODE_CACHE_PROBE],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    assert int(out.split()[-1]) == int(JIT_CODE_CACHE.rstrip("m")) << 20


_HEAP_PROBE = """
from hadoop_20_spark.session import get_spark
spark = get_spark("probe", master="local[1]")
print(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
spark.stop()
"""


def test_default_driver_heap_fits_the_machine():
    """With ``SPARK_DRIVER_MEM`` unset the driver heap follows physical
    memory: at most half of it, so the suite's JVM and a subprocess JVM
    fit side by side.  A fresh JVM is needed, hence the subprocess."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_DRIVER_MEM"}
    env["SPARK_UI"] = "false"
    out = subprocess.run(
        [sys.executable, "-c", _HEAP_PROBE],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(out.split()[-1]) <= phys // 2


def _exchange_widths(df) -> set[int]:
    """Partition counts of the hash exchanges in ``df``'s initial plan."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return {int(n) for n in re.findall(r"hashpartitioning\(.*, (\d+)\)", plan)}


def test_batch_width_ignores_stream_width_conf(spark):
    """Batch plans take AQE's initial partition number, so setting
    ``spark.sql.shuffle.partitions`` (the stream width) leaves them as
    they are."""
    from pyspark.sql import functions as F

    def plan():
        return spark.range(0, 1000, 1, 2).groupBy((F.col("id") % 7).alias("k")).count()

    assert spark.conf.get("spark.sql.shuffle.partitions") == str(STATE_PARTITIONS_MIN)
    assert _exchange_widths(plan()) == {8}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        assert _exchange_widths(plan()) == {8}
        assert batch_shuffle_partitions(spark) == 8
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS_MIN))


def test_batch_shuffle_partitions_follows_spark_rule(spark):
    """The helper agrees with ``SQLConf.numShufflePartitions`` whichever
    of the confs it reads are set."""
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    jconf = spark._jsparkSession.sessionState().conf()
    try:
        for aqe, coalesce, initial in (
            ("true", "true", "8"),
            ("true", "true", None),
            ("true", "false", "8"),
            ("false", "true", "8"),
        ):
            spark.conf.set(keys[0], aqe)
            spark.conf.set(keys[1], coalesce)
            if initial is None:
                spark.conf.unset(keys[2])
            else:
                spark.conf.set(keys[2], initial)
            assert batch_shuffle_partitions(spark) == jconf.numShufflePartitions()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
