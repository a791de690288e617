"""Property pins for the round-11 additions — invariants the oracle
hash can't state directly (independent sample recompute, fusion-score
arithmetic, subtree conservation) plus their plan-shape pins."""

import hashlib
import math

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_weighted_reservoir_matches_independent_recompute(spark):
    """The A-Res sample must equal a from-scratch recompute of the same
    key formula (python md5 + math.pow — no Spark, no DuckDB), so a bug
    shared by both engines' SQL spellings can't hide."""
    import pandas as pd  # noqa: F401
    from hadoop_20_spark.queries import REGISTRY

    out = REGISTRY["weighted_reservoir_sample"].fn(spark, SF).collect()
    assert len(out) == 200
    orders = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    keyed = []
    for r in orders:
        h = int(hashlib.md5(f"wrs_{r.o_orderkey}".encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        keyed.append((math.pow(u, 1.0 / r.o_totalprice), r.o_orderkey))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    expect = [k for _, k in keyed[:200]]
    assert [r["o_orderkey"] for r in out] != []
    assert sorted(r["o_orderkey"] for r in out) == sorted(expect)
    # weight-proportional tilt: the sample's mean weight must exceed the
    # corpus mean (heavier orders are more likely to be kept)
    corpus_mean = sum(r.o_totalprice for r in orders) / len(orders)
    sample_mean = sum(r["weight"] for r in out) / len(out)
    assert sample_mean > corpus_mean


def test_weighted_reservoir_plan_is_takeordered_no_exchange(spark):
    from hadoop_20_spark.queries import REGISTRY

    plan = _plan(REGISTRY["weighted_reservoir_sample"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    # row-local key + per-partition heaps: the fact table never shuffles
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_rrf_fusion_arithmetic_and_membership(spark):
    from hadoop_20_spark.queries import REGISTRY

    rows = REGISTRY["rrf_hybrid_topk"].fn(spark, SF).collect()
    assert 0 < len(rows) <= 10
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        expect = 0.0
        for rk in (r["lex_rank"], r["sem_rank"]):
            if rk is not None:
                assert 1 <= rk <= 50
                expect += 1.0 / (60 + rk)
        assert abs(r["rrf_score"] - expect) < 5e-7, r
    # strict dominance, no escape hatch: with per-retriever k=50 and the
    # rrf-60 constant, the WORST both-lists score (2/(60+50) ≈ .01818)
    # exceeds the BEST single-list score (1/(60+1) ≈ .01639), so every
    # fused doc must outrank every single-retriever doc
    both = [r for r in rows if r["lex_rank"] and r["sem_rank"]]
    single = [r for r in rows if not (r["lex_rank"] and r["sem_rank"])]
    for b in both:
        for s in single:
            assert b["rrf_score"] > s["rrf_score"], (b, s)


def test_rrf_plan_no_global_window(spark):
    from hadoop_20_spark.queries import REGISTRY

    plan = _plan(REGISTRY["rrf_hybrid_topk"].fn(spark, SF))
    assert "No Partition Defined" not in plan
    # both retrievers end in bounded top-k heaps
    assert plan.count("TakeOrderedAndProject") >= 2


def test_namespace_quota_subtree_conservation(spark):
    from hadoop_20_spark.queries import REGISTRY

    rows = REGISTRY["namespace_quota_audit"].fn(spark, SF).collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r["level"], []).append(r)
    assert set(by_level) == {0, 1, 2}
    root = by_level[0][0]
    n_orders = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert root["file_count"] == n_orders
    # files conserve level-by-level (every file lives in exactly one
    # nation dir and one region dir)
    assert sum(r["file_count"] for r in by_level[2]) == n_orders
    assert sum(r["file_count"] for r in by_level[1]) == n_orders
    assert sum(r["bytes_used"] for r in by_level[2]) == root["bytes_used"]
    # dir_count(root) = self + regions + nations + active customers
    assert root["dir_count"] == (
        1
        + len(by_level[1])
        + len(by_level[2])
        + sum(r["dir_count"] - 1 for r in by_level[2])
    )
    for r in rows:
        assert r["ns_used"] == r["dir_count"] + r["file_count"]
        assert r["ns_remaining"] == r["ns_quota"] - r["ns_used"]
        assert r["over_ns"] == (1 if r["ns_used"] > r["ns_quota"] else 0)
        assert r["space_remaining"] == r["space_quota"] - r["bytes_used"]
        assert r["over_space"] == (
            1 if r["bytes_used"] > r["space_quota"] else 0
        )
        assert r["path"].count("/") in (1, 2)
    # paths nest: every nation path extends its region path
    region_paths = {r["path"] for r in by_level[1]}
    for r in by_level[2]:
        parent = r["path"].rsplit("/", 1)[0]
        assert parent in region_paths, r["path"]


def test_namespace_quota_single_fact_shuffle(spark):
    from hadoop_20_spark.queries import REGISTRY

    plan = _plan(REGISTRY["namespace_quota_audit"].fn(spark, SF))
    # orders scanned exactly once; dims broadcast
    assert plan.count("orders.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "Expand" in plan  # the rollup+distinct expand (customer grain)


def test_srp_multiprobe2_recovers_two_flip_pairs(spark):
    """The sf1 regression in miniature: a qualifying pair whose buckets
    differ in exactly TWO planes of the (single) table is invisible to
    Hamming-1 probing but a candidate under the depth-2 default."""
    import numpy as np

    from hadoop_20_spark.operators import similarity
    from hadoop_20_spark.operators.similarity import _srp_signs

    rng = np.random.default_rng(7)
    V = rng.standard_normal((120, 64))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    S = np.array(_srp_signs(64, 4, 0))
    b = (((V @ S.T) > 0) << np.arange(4)).sum(axis=1)
    pair = next(
        (i, j)
        for i in range(len(V))
        for j in range(i + 1, len(V))
        if bin(int(b[i]) ^ int(b[j])).count("1") == 2
    )
    df = spark.createDataFrame(
        [(0, [float(x) for x in V[pair[0]]]), (1, [float(x) for x in V[pair[1]]])],
        "vec_id long, embedding array<float>",
    )
    h1 = similarity.srp_candidate_pairs(df, n_tables=1, multiprobe=1).collect()
    h2 = similarity.srp_candidate_pairs(df, n_tables=1, multiprobe=2).collect()
    assert not h1, "two-flip pair must NOT collide under Hamming-1 probing"
    assert [(r["id_a"], r["id_b"]) for r in h2] == [(0, 1)]
