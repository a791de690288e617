"""Cluster-determinism: results must be identical at ANY parallelism.

This is the property that makes the engine trustworthy on a 1000-executor
cluster: no result may depend on partition count, partition order, or
fp-addition order.  We re-run representative queries under different
repartitionings / shuffle-partition settings and require row-set
equality (the same canonicalization the driver's oracle gate uses)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_20_spark.queries import REGISTRY
from tests.conftest import SF_DIR

QUERIES = [
    "q1_pricing_summary",  # DECIMAL-exact sums
    "join_override",       # max_by tie discipline
    "minhash_signatures",  # hash family, parallel map
    "top_k",               # tie-breaker keys
    "value_histogram",
    "join_asof",
    "quantiles",     # two-level agg
    "sequence_packing",  # global-window prefix sums
    "mode_per_group",    # rank tie-break
    "dedup_clusters",    # iterative fixpoint
]


def _rowset(df):
    cols = sorted(df.columns)
    return {tuple(str(r[c]) for c in cols) for r in df.collect()}


# batch plans take their width from AQE's initial partition number,
# streams from spark.sql.shuffle.partitions: vary both
WIDTH_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
)


def test_results_stable_across_shuffle_partitions(spark):
    for name in QUERIES:
        base = _rowset(REGISTRY[name].fn(spark, SF_DIR))
        old = {k: spark.conf.get(k) for k in WIDTH_CONFS}
        try:
            for k in WIDTH_CONFS:
                spark.conf.set(k, "3")
            alt = _rowset(REGISTRY[name].fn(spark, SF_DIR))
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
        assert base == alt, f"{name} differs across shuffle partitionings"


def test_agg_stable_across_input_partitioning(spark, tables):
    li = tables["lineitem"]
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    def agg(df):
        return {
            tuple(r)
            for r in df.groupBy("l_returnflag")
            .agg(
                F.sum(disc.cast("decimal(28,6)")).cast("double").alias("rev"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }

    assert agg(li) == agg(li.repartition(17)) == agg(li.repartition(1))
