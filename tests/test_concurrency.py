"""One shared session, many callers: concurrent runs of registry queries
give the answers a serial run gives (the GridMix concurrent-mix check,
hadoop-20's ``src/benchmarks/gridmix2``), and leave no persisted RDD
behind."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from hadoop_20_spark.queries import REGISTRY
from perfbench.check import fingerprint

from conftest import SF_DIR

# an aggregate, a total-order sort, the MinHash-LSH pipeline (which
# persists and releases intermediates) and a stream-stream join (whose
# memory sink needs a per-run name when two copies are live at once)
MIX = (
    "q1_pricing_summary",
    "total_order_sort",
    "minhash_lsh_pairs",
    "streaming_stream_join",
)
COPIES = 2
TRIALS = 2


def test_concurrent_answers_equal_serial(spark):
    def run(name: str) -> str:
        return fingerprint(REGISTRY[name].fn(spark, SF_DIR).toPandas())

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    serial = {name: run(name) for name in MIX}
    # taken after the serial pass, which also materializes any input
    # cache an earlier test registered on the shared session
    baseline = persisted()
    jobs = [name for name in MIX for _ in range(COPIES)]
    for trial in range(TRIALS):
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            got = list(pool.map(run, jobs))
        mismatched = [n for n, fp in zip(jobs, got) if fp != serial[n]]
        assert not mismatched, (trial, mismatched)
    assert persisted() <= baseline
