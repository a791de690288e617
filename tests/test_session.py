"""session.get_spark sizes Spark's generated-code cache to the working
set, so a repeated query reuses its compiled classes, and pins the
driver JVM's JIT code cache, so their compiled methods stay compiled."""

from __future__ import annotations

import os
import subprocess
import sys

from hadoop_20_spark.registry import REGISTRY
from hadoop_20_spark.session import JIT_CODE_CACHE

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
