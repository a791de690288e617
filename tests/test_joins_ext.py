import datetime as dt

from pyspark.sql import functions as F

from hadoop_20_spark.operators import joins, udx


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_as_of_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00"), "l1"),
         (1, _ts("2024-01-01T12:00"), "l2"),
         (2, _ts("2024-01-01T09:00"), "l3")],
        ["k", "ts", "lval"],
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:30"), "r1"),
         (1, _ts("2024-01-01T11:00"), "r2"),
         (2, _ts("2024-01-01T09:30"), "r3")],  # after l3 -> no match
        ["k", "ts", "rval"],
    )
    out = {r["lval"]: r for r in joins.as_of_join(left, right, "k", "ts", "ts").collect()}
    assert out["l1"]["rval"] == "r1"   # latest right <= 10:00
    assert out["l2"]["rval"] == "r2"   # latest right <= 12:00
    assert out["l3"]["rval"] is None   # no right row at or before 09:00


def test_as_of_join_tie_inclusive(spark):
    t = _ts("2024-01-01T10:00")
    left = spark.createDataFrame([(1, t, "l")], ["k", "ts", "lval"])
    right = spark.createDataFrame([(1, t, "r")], ["k", "ts", "rval"])
    out = joins.as_of_join(left, right, "k", "ts", "ts").collect()[0]
    assert out["rval"] == "r"  # equal timestamps match (<= semantics)


def test_as_of_join_column_suffixing(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01T10:00"), 5)], ["k", "ts", "x"])
    right = spark.createDataFrame([(1, _ts("2024-01-01T09:00"), 7)], ["k", "ts", "x"])
    out = joins.as_of_join(left, right, "k", "ts", "ts")
    assert "x" in out.columns and "x_r" in out.columns
    row = out.collect()[0]
    assert (row["x"], row["x_r"]) == (5, 7)


def test_range_join(spark, tables):
    li = tables["lineitem"]
    o = tables["orders"].select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    out = joins.range_join(
        li, o, "l_orderkey",
        F.expr("l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 30 DAYS"),
    )
    bad = out.filter(
        ~F.expr("l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 30 DAYS")
    ).count()
    assert bad == 0
    assert out.count() <= li.count()


def test_grouped_reduce_matches_window(spark, tables):
    from pyspark.sql import Window

    got = {
        r["user_id"]: r for r in udx.longest_gap_per_user(tables["events"]).collect()
    }
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    exp = (
        tables["events"]
        .withColumn(
            "gap",
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) / 1e6,
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.coalesce(F.max("gap"), F.lit(0.0)), 6).alias("mx"),
        )
    )
    for r in exp.collect():
        assert got[r["user_id"]]["n_events"] == r["n"]
        assert abs(got[r["user_id"]]["max_gap_s"] - r["mx"]) < 1e-6


def test_bloom_filter_no_false_negatives(spark):
    """The Bloom contract: every key that went into the build MUST pass
    the probe (zero false negatives, any m_bits); non-members may pass
    only as explicit false positives."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.joins import (
        bloom_filter_build,
        bloom_probe_passes,
    )

    members = spark.range(0, 500).select(F.col("id").alias("k"))
    bloom = bloom_filter_build(members, "k", m_bits=4096)
    probed = (
        spark.range(0, 2000)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(bloom))
        .select("k", bloom_probe_passes("k", m_bits=4096).alias("p"))
    )
    rows = {r["k"]: r["p"] for r in probed.collect()}
    assert all(rows[k] for k in range(500)), "false negative!"
    fp = sum(1 for k in range(500, 2000) if rows[k])
    # 500 keys * 3 hashes in 4096 bits -> fill ~0.3, fp ~ 2.9%; assert
    # a loose deterministic ceiling (the hash family is fixed, so this
    # is a constant, not a flake)
    assert fp / 1500 < 0.15, fp


def test_bloom_audit_consistency(spark):
    """pass >= true matches (no false negatives at query level) and the
    fp accounting adds up."""
    from hadoop_20_spark.queries import REGISTRY

    (r,) = REGISTRY["bloom_semi_join_audit"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert r["n_pass_bloom"] >= r["n_true_match"]
    assert r["n_false_pos"] == r["n_pass_bloom"] - r["n_true_match"]
    assert 0 <= r["fp_rate"] < 1


def test_bloom_semi_join_equals_exact_semi_join(spark):
    """bloom_semi_join is EXACTLY left_semi (no false negatives, fp
    removed by the mop-up join), regardless of filter sizing — even a
    saturated tiny filter only costs selectivity, never correctness."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.joins import bloom_semi_join

    fact = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 100).alias("v")
    )
    keys = spark.range(0, 900, 3).select(F.col("id").alias("k"))
    expected = sorted(
        r["k"] for r in fact.join(keys, "k", "left_semi").collect()
    )
    for m_bits in (64, 4096):  # saturated and sane
        got = sorted(
            r["k"] for r in bloom_semi_join(fact, keys, "k", m_bits=m_bits).collect()
        )
        assert got == expected, m_bits


def test_bloom_m_bits_must_be_word_aligned(spark):
    """A partial last word would index past the densified array and
    produce false negatives — both build and probe must refuse."""
    import pytest
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.joins import (
        bloom_filter_build,
        bloom_probe_passes,
    )

    members = spark.range(0, 10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="multiple of 32"):
        bloom_filter_build(members, "k", m_bits=100)
    with pytest.raises(ValueError, match="multiple of 32"):
        bloom_probe_passes("k", m_bits=100)


def test_interval_overlap_join_matches_brute_force(spark):
    """Grid-decomposed interval join == brute-force overlap pairs, on
    edges the grid must not fumble: touching endpoints, same-cell
    near-misses, multi-cell spans, far-apart intervals."""
    import itertools

    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.joins import interval_overlap_join

    iv = [(0, 100), (50, 150), (150, 200), (201, 300), (95, 96), (5000, 5100)]
    df = spark.createDataFrame(
        [(i, s, e) for i, (s, e) in enumerate(iv)], "id long, st long, en long"
    ).select(
        "id",
        F.col("st").cast("timestamp").alias("st"),
        F.col("en").cast("timestamp").alias("en"),
    )
    out = interval_overlap_join(df, df, bucket_seconds=60).filter("l_id < r_id")
    got = sorted((r["l_id"], r["r_id"]) for r in out.collect())
    model = sorted(
        (a, b)
        for (a, (s1, e1)), (b, (s2, e2)) in itertools.combinations(enumerate(iv), 2)
        if s1 <= e2 and s2 <= e1
    )
    assert got == model, (got, model)
    # exactly-once attribution: no duplicate pairs even across many cells
    assert len(got) == len(set(got))


def test_interval_overlap_join_guard_fires(spark):
    """An interval spanning > max_cells buckets must raise loudly, not
    silently explode the grid."""
    import pytest
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.joins import interval_overlap_join

    df = spark.createDataFrame([(1, 0, 10_000_000)], "id long, st long, en long").select(
        "id",
        F.col("st").cast("timestamp").alias("st"),
        F.col("en").cast("timestamp").alias("en"),
    )
    with pytest.raises(Exception, match="widen bucket_seconds"):
        interval_overlap_join(df, df, bucket_seconds=60, max_cells=8).collect()


def test_session_overlap_plan_no_cartesian(spark):
    """The interval join must plan as a cell equi-join — never a
    cartesian or broadcast-nested-loop theta join."""
    from hadoop_20_spark.plans import physical_plan
    from hadoop_20_spark.queries import REGISTRY

    plan = physical_plan(
        REGISTRY["session_overlap_partners"].fn(spark, "/root/testdata/sf0.01")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
