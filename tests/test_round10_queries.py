"""Property pins for the round-10 additions — invariants the oracle
hash can't state directly (conservation, exact landing, decorrelation
bands)."""

SF = "/root/testdata/sf0.001"


def test_balancer_move_plan_conserves_and_lands_exactly(spark):
    from hadoop_20_spark.queries import REGISTRY

    rows = REGISTRY["balancer_move_plan"].fn(spark, SF).collect()
    assert rows, "fixture placement should be imbalanced somewhere"
    total = rows[0]["total_moved"]
    assert all(r["total_moved"] == total for r in rows)
    assert sum(r["blocks_moved"] for r in rows) == total
    assert all(r["blocks_moved"] > 0 for r in rows)
    # per-source shipped == surplus is implied by: every source's moves
    # tile its cumulative interval; check sources and targets disjoint
    srcs = {r["src_node"] for r in rows}
    dsts = {r["dst_node"] for r in rows}
    assert not (srcs & dsts), "a node cannot both ship and receive"
    assert len(srcs) == rows[0]["n_sources"] or total == 0
    assert len(dsts) == rows[0]["n_targets"] or total == 0


def test_epoch_shuffle_bijection_and_decorrelation(spark):
    from hadoop_20_spark.queries import REGISTRY

    rows = REGISTRY["epoch_shuffle_audit"].fn(spark, SF).collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == {0, 1}
    for e, rs in by_epoch.items():
        n = sum(r["n_docs"] for r in rs)
        # bijection: every position distinct, shards tile [0, n)
        assert sum(r["n_distinct_pos"] for r in rs) == n, e
        assert min(r["min_pos"] for r in rs) == 0, e
        assert max(r["max_pos"] for r in rs) == n - 1, e
        # exact count balance: pos*S DIV n shards differ by <= 1
        sizes = [r["n_docs"] for r in rs]
        assert max(sizes) - min(sizes) <= 1, (e, sizes)
    # decorrelation: mean displacement within 10% of the uniform-
    # permutation expectation (identical orders would be ~0)
    ppm = rows[0]["disp_ratio_ppm"]
    assert 900_000 <= ppm <= 1_100_000, ppm


def test_ahash_multiprobe_recall_complete(spark):
    from hadoop_20_spark.queries import REGISTRY

    rows = REGISTRY["image_ahash_multiprobe"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["d"] <= 2
        assert r["n_planted_found"] == r["n_planted_pairs"], r
        if r["n_planted_pairs"]:
            assert r["recall_ppm"] == 1_000_000, r
        # banding prunes: candidates < all hash pairs would need the
        # hash count; at least assert the audit column is consistent
        assert r["n_candidate_hash_pairs"] == rows[0]["n_candidate_hash_pairs"]
