"""plans.diagnose — the contrib/vaidya analog (rule-based plan
postmortem) — plus the registry-wide lint it enables: every batch
registry query's static plan must be free of high-severity 100 TB
smells (cartesian products, single-task windows/sorts, row-at-a-time
scalar Python)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_20_spark.plans import diagnose
from hadoop_20_spark.registry import REGISTRY

LINT_SF = "/root/testdata/sf0.01"

# Streaming-family queries RUN a stream inside the fn (no static plan
# to lint without executing); their plan discipline is covered by
# tests/test_streaming.py and the state-store metrics in bench b13.
SKIP_PREFIXES = ("streaming_",)


def test_diagnose_flags_unpartitioned_window(spark):
    from pyspark.sql import Window

    df = spark.range(1000).withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    rules = {f["rule"] for f in diagnose(df)}
    assert "unpartitioned_window" in rules
    assert "single_partition_window_or_sort" in rules


def test_diagnose_flags_cartesian(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        a = spark.range(100)
        b = spark.range(100).withColumnRenamed("id", "j")
        assert any(
            f["rule"] == "cartesian_product" for f in diagnose(a.crossJoin(b))
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_diagnose_flags_row_python_udf_not_arrow(spark):
    from pyspark.sql.types import LongType

    row_udf = F.udf(lambda x: x + 1, LongType())
    assert any(
        f["rule"] == "python_row_udf"
        for f in diagnose(spark.range(10).select(row_udf("id")))
    )
    arrow_df = spark.range(10).select((F.col("id") + 1).alias("v"))
    assert not diagnose(arrow_df)


def test_diagnose_final_single_row_aggregate_is_clean(spark):
    # groupBy().agg() plans a SinglePartition exchange under a final
    # aggregate — the blessed tiny-data pattern, must NOT be flagged
    df = spark.range(100000).agg(F.sum("id"))
    assert [f for f in diagnose(df) if f["severity"] == "high"] == []


# Registry builds that start Spark jobs at LINT_SF with schemas cached:
# the eager builds CHANGES.md lists (iterative fixpoints, k-means and
# PQ model training, pre-flight guards, quantile sampling, eagerly
# materialized reports, staged side tables).  A ratchet: lower it when
# a build turns lazy; never raise it.
MAX_EAGER_BUILDS = 52


def test_registry_lint_no_high_severity_smells(spark, count_jobs):
    """Every batch registry query is vaidya-clean: zero high-severity
    findings across the whole registry's static plans.  A new query
    that reintroduces a global window, an unbroadcast cartesian, or a
    scalar row-Python UDF fails HERE, not in a 100x scale-up.

    Ratchet: building a plan should start no Spark job (plan
    construction is fixed per-call cost); at most ``MAX_EAGER_BUILDS``
    builds may."""
    from hadoop_20_spark.catalog import load_tables

    load_tables(spark, LINT_SF)  # schemas cached, as on any repeated build
    flagged, eager = {}, {}
    for name, q in REGISTRY.items():
        if name.startswith(SKIP_PREFIXES):
            continue
        df, jobs = count_jobs(lambda: q.fn(spark, LINT_SF))
        if jobs:
            eager[name] = jobs
        highs = [f for f in diagnose(df) if f["severity"] == "high"]
        if highs:
            flagged[name] = highs
        spark.catalog.clearCache()
    assert flagged == {}, flagged
    assert len(eager) <= MAX_EAGER_BUILDS, sorted(eager.items())


def test_executed_shuffle_skew_flags_hot_key(spark):
    """Runtime skew truth from AQE map-output statistics: a planted
    hot key (90% of a 100-char payload on one grouping key) must
    produce a shuffle_partition_skew finding; the uniform twin must
    not."""
    from hadoop_20_spark.plans import executed_shuffle_skew

    # the exchange must carry RAW rows (a groupBy's map-side partial
    # agg would collapse the hot key before the shuffle and hide the
    # skew) — repartition(col) is the raw-row shuffle shape.  The
    # payload must be INCOMPRESSIBLE: bytesByPartitionId reports
    # post-compression sizes and a constant string compresses to ~0.
    pay = F.concat(
        F.md5(F.col("id").cast("string")),
        F.md5((F.col("id") + 1).cast("string")),
        F.md5((F.col("id") + 2).cast("string")),
    )
    skewed = (
        spark.range(200_000)
        .select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            pay.alias("p"),
        )
        .repartition(16, "k")
        .groupBy()
        # consume p downstream so column pruning can't strip it from
        # the exchange
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("p")).alias("b"))
    )
    found = executed_shuffle_skew(skewed, min_bytes=1 << 18)
    assert any(f["rule"] == "shuffle_partition_skew" for f in found), found

    uniform = (
        spark.range(200_000)
        .select(F.col("id").alias("k"), pay.alias("p"))
        .repartition(16, "k")
        .groupBy()
        # consume p downstream so column pruning can't strip it from
        # the exchange
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("p")).alias("b"))
    )
    assert executed_shuffle_skew(uniform, min_bytes=1 << 18) == []
