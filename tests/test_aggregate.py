import math

from pyspark.sql import functions as F

from hadoop_20_spark.operators import aggregate as agg_ops


def test_descriptor_dsl_matches_direct(spark, tables):
    li = tables["lineitem"]
    got = {
        r["l_returnflag"]: r
        for r in agg_ops.aggregate(
            li, ["l_returnflag"], ["LongValueSum:l_linenumber", "UniqValueCount:l_suppkey"]
        ).collect()
    }
    exp = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum("l_linenumber").alias("s"),
            F.countDistinct("l_suppkey").alias("u"),
        )
        .collect()
    }
    for k in exp:
        assert got[k]["longvaluesum_l_linenumber"] == exp[k]["s"]
        assert got[k]["uniqvaluecount_l_suppkey"] == exp[k]["u"]


def test_unknown_descriptor():
    try:
        agg_ops._descriptor_to_column("Bogus:x")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_value_histogram_vs_pandas(spark, tables):
    out = {
        r["o_orderpriority"]: r
        for r in agg_ops.value_histogram(
            tables["orders"], "o_orderpriority", "o_custkey"
        ).collect()
    }
    pdf = tables["orders"].select("o_orderpriority", "o_custkey").toPandas()
    for key, grp in pdf.groupby("o_orderpriority"):
        freqs = grp.groupby("o_custkey").size()
        r = out[key]
        assert r["n_distinct_values"] == len(freqs)
        assert r["min_freq"] == freqs.min()
        assert r["max_freq"] == freqs.max()
        # operator rounds to 6dp (determinism convention)
        assert math.isclose(r["avg_freq"], freqs.mean(), abs_tol=1e-6)
        assert math.isclose(r["stddev_freq"], freqs.std(ddof=0), abs_tol=1e-6)


def test_exact_sum_double_deterministic(spark, tables):
    li = tables["lineitem"]
    a = li.agg(agg_ops.exact_sum_double("l_extendedprice").alias("s")).collect()[0]["s"]
    b = (
        li.repartition(17)
        .agg(agg_ops.exact_sum_double("l_extendedprice").alias("s"))
        .collect()[0]["s"]
    )
    assert a == b  # bit-identical under any partitioning


def test_with_counters_observe(spark, tables):
    df, obs = agg_ops.with_counters(
        tables["lineitem"],
        n_rows=F.count(F.lit(1)),
        total_qty=F.sum("l_quantity"),
    )
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == tables["lineitem"].count()


def test_pagerank_matches_integer_model(spark, tmp_path):
    """pagerank_top20 against a plain-Python integer-arithmetic model on
    a small planted purchase graph (including a hub supplier)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_20_spark.queries import REGISTRY

    # orders: order o belongs to customer c; lineitem: order o bought
    # from supplier s.  Supplier 1 is a hub (every customer buys there).
    pairs = [(c, 1) for c in range(1, 6)] + [(2, 2), (3, 2), (4, 3)]
    orders = pa.table(
        {
            "o_orderkey": list(range(len(pairs))),
            "o_custkey": [c for c, _ in pairs],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": list(range(len(pairs))),
            "l_suppkey": [s for _, s in pairs],
        }
    )
    pq.write_table(orders, str(tmp_path / "orders.parquet"))
    pq.write_table(lineitem, str(tmp_path / "lineitem.parquet"))

    got = [
        (r["node_type"], r["node_key"], r["rank_units"])
        for r in REGISTRY["pagerank_top20"].fn(spark, str(tmp_path)).collect()
    ]

    # model: same integer floor arithmetic
    e0 = sorted({(c * 2, s * 2 + 1) for c, s in pairs})
    edges = e0 + [(d, s) for s, d in e0]
    nodes = sorted({s for s, _ in edges})
    deg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    n = len(nodes)
    r = {u: 10**12 // n for u in nodes}
    for _ in range(3):
        contrib = {u: 0 for u in nodes}
        for s, d in edges:
            contrib[d] += r[s] // deg[s]
        r = {u: 150_000_000_000 // n + (85 * contrib[u]) // 100 for u in nodes}
    exp = sorted(((u, r[u]) for u in nodes), key=lambda t: (-t[1], t[0]))[:20]
    exp = [
        ("customer" if u % 2 == 0 else "supplier", u // 2, ru) for u, ru in exp
    ]
    assert got == exp
    # the hub supplier must outrank everything
    assert got[0][0] == "supplier" and got[0][1] == 1


def test_bfs_khop_matches_python_model(spark):
    """bfs_khop_reach vs a plain-Python BFS at sf0.001 (same edges,
    same seeds, 3-hop cap, unreached = -1)."""
    import collections

    from hadoop_20_spark import load_table
    from hadoop_20_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, "lineitem", sf).select("l_orderkey", "l_suppkey")
    o = load_table(spark, "orders", sf).select("o_orderkey", "o_custkey")
    pairs = {
        (r["o_custkey"] * 2, r["l_suppkey"] * 2 + 1)
        for r in li.join(o, li.l_orderkey == o.o_orderkey).collect()
    }
    adj = collections.defaultdict(set)
    for s, d in pairs:
        adj[s].add(d)
        adj[d].add(s)
    seeds = {
        r["c_custkey"] * 2
        for r in load_table(spark, "customer", sf)
        .filter("c_nationkey = 0")
        .collect()
    } & set(adj)
    dist = {n: 0 for n in seeds}
    frontier = set(seeds)
    for i in range(1, 4):
        frontier = {
            d for s in frontier for d in adj[s] if d not in dist
        }
        for n in frontier:
            dist[n] = i
    model = collections.Counter(
        ("customer" if n % 2 == 0 else "supplier", dist.get(n, -1))
        for n in adj
    )
    got = {
        (r["node_type"], r["dist"]): r["n_nodes"]
        for r in REGISTRY["bfs_khop_reach"].fn(spark, sf).collect()
    }
    assert got == dict(model), (got, dict(model))


def test_misra_gries_guarantee_under_any_partitioning(spark):
    """The MG envelope (exact - n/(k+1) <= merged <= exact) must hold
    for EVERY item under several different partition layouts, and each
    partition must emit at most k rows."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.aggregate import misra_gries_partials

    # skewed stream: item 'a' x 60, 'b' x 25, then 40 singletons
    rows = [("a",)] * 60 + [("b",)] * 25 + [(f"t{i}",) for i in range(40)]
    n, k = len(rows), 4
    exact = {"a": 60, "b": 25, **{f"t{i}": 1 for i in range(40)}}
    for parts in (1, 3, 8):
        df = spark.createDataFrame(rows, "item string").repartition(parts)
        partials = misra_gries_partials(df, "item", k)
        per_part = (
            partials.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        assert all(r["count"] <= k for r in per_part)
        merged = {
            r["item"]: r["s"]
            for r in partials.groupBy("item")
            .agg(F.sum("mg_count").alias("s"))
            .collect()
        }
        for item, c in exact.items():
            got = merged.get(item, 0)
            assert got <= c, (parts, item, got, c)
            assert got >= c - n / (k + 1), (parts, item, got, c)
        # true heavy hitters (count > n/(k+1) = 25) must be present
        assert merged.get("a", 0) > 0


def test_misra_gries_rejects_null_keys(spark):
    """NULL keys make the guarantee denominator ambiguous — fail loud."""
    import pytest

    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.aggregate import misra_gries_partials

    df = spark.createDataFrame([("a",), (None,), ("b",)], "item string")
    with pytest.raises(Exception, match="NULL key"):
        misra_gries_partials(df, "item", 4).collect()
