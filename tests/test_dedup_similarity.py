from pyspark.sql import functions as F

from hadoop_20_spark.operators import dedup, similarity


def test_exact_dedup_planted(spark, tables):
    docs = tables["documents"].select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    out = dedup.exact_dedup(docs.union(planted), "doc_id", "text")
    dups = out.filter(F.col("n_copies") > 1).collect()
    assert len(dups) == 1
    assert dups[0]["n_copies"] == 2
    assert dups[0]["keeper_id"] == 0  # min id kept


def test_minhash_identical_signature(spark, tables):
    docs = tables["documents"].select("doc_id", "text").limit(20)
    planted = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    sig = dedup.minhash_signatures(docs.union(planted), "doc_id", "text")
    s0 = sig.filter(F.col("doc_id") == 0).drop("doc_id").collect()[0]
    s1 = sig.filter(F.col("doc_id") == 100000).drop("doc_id").collect()[0]
    assert s0 == s1  # identical text -> identical signature


def test_minhash_lsh_finds_planted_dup(spark, tables):
    docs = tables["documents"].select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    pairs = dedup.minhash_lsh_candidates(docs.union(planted), "doc_id", "text")
    found = pairs.filter(
        (F.col("id_a") == 0) & (F.col("id_b") == 100000)
    ).count()
    assert found == 1


def test_jaccard_pairs_identical_is_one(spark, tables):
    docs = tables["documents"].select("doc_id", "text").limit(10)
    planted = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    out = dedup.jaccard_pairs(
        docs.union(planted),
        "doc_id",
        "text",
        threshold=0.99,
        allow_full_self_join=True,
    )
    hits = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert hits.get((0, 100000)) == 1.0


def test_jaccard_prefix_filter_matches_brute_force(spark, tables):
    # Prefix filtering is an EXACT algorithm: frequency-ordered prefix
    # candidates + full-set verify must reproduce brute force for any
    # corpus and threshold.
    docs = tables["documents"].select("doc_id", "text")
    for t in (0.3, 0.5, 0.9):
        full = dedup.jaccard_pairs(
            docs, "doc_id", "text", threshold=t, allow_full_self_join=True
        )
        pruned = dedup.jaccard_pairs(docs, "doc_id", "text", threshold=t)
        f = {(r["id_a"], r["id_b"]): r["jaccard"] for r in full.collect()}
        p = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pruned.collect()}
        assert f == p


def test_jaccard_pairs_guard_raises_on_planted_blowup(spark):
    # 600 copies of ONE document: every shingle bucket holds all 600
    # docs, so the candidate-pair bound is ~|vocab| * C(600, 2) and the
    # OUTPUT itself is C(600, 2) = 179,700 pairs.  With a tiny cap the
    # pre-flight Σ C(bucket,2) aggregate must raise BEFORE the join —
    # the designed-error path that replaces OOM-by-luck at scale.
    import pytest

    docs = spark.range(600).select(
        F.col("id").alias("doc_id"), F.lit("alpha beta gamma delta").alias("text")
    )
    for full in (False, True):
        with pytest.raises(ValueError, match="candidate-pair volume"):
            dedup.jaccard_pairs(
                docs,
                "doc_id",
                "text",
                threshold=0.5,
                allow_full_self_join=full,
                max_candidate_pairs=10_000,
            )
    # None disables the guard consciously; the join then runs (and is
    # fine at this toy size).
    n = dedup.jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_candidate_pairs=None
    ).count()
    assert n == 600 * 599 // 2


def test_simhash_near_dups(spark, tables):
    docs = tables["documents"].select("doc_id", "text").limit(30)
    planted = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    out = dedup.simhash_near_dups(docs.union(planted), "doc_id", "text")
    match = out.filter((F.col("id_a") == 0) & (F.col("id_b") == 100000)).collect()
    assert len(match) == 1 and match[0]["hamming"] == 0


def test_cosine_topk_planted_identical(spark, tables):
    emb = tables["embeddings"].select("vec_id", "embedding")
    clone = emb.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.union(clone)
    out = similarity.cosine_topk(corpus, emb.filter(F.col("vec_id") == 3), k=1)
    top = out.collect()[0]
    assert top["neighbor_id"] == 100003
    assert top["cosine_sim"] == 1.0
    assert top["rank"] == 1


def test_cosine_topk_shape(spark, tables):
    emb = tables["embeddings"].select("vec_id", "embedding")
    out = similarity.cosine_topk(emb, emb.limit(4), k=5)
    assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    assert out.groupBy("query_id").count().filter(F.col("count") != 5).count() == 0


def test_lsh_topk_includes_identical_vector(spark, tables):
    emb = tables["embeddings"].select("vec_id", "embedding")
    clone = emb.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = similarity.lsh_topk(emb.union(clone), emb.filter(F.col("vec_id") == 3), k=3)
    # identical vector always lands in the same SRP bucket -> must be found
    assert out.filter(F.col("neighbor_id") == 100003).count() == 1


def test_embedding_near_dups(spark, tables):
    emb = tables["embeddings"].select("vec_id", "embedding").limit(50)
    clone = emb.filter(F.col("vec_id") == 1).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = similarity.embedding_near_dups(emb.union(clone), threshold=0.999)
    assert out.filter(
        (F.col("id_a") == 1) & (F.col("id_b") == 100001)
    ).count() == 1


def test_ivf_topk_recall_vs_exact(spark):
    from hadoop_20_spark.registry import REGISTRY
    from tests.conftest import SF_DIR

    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["embedding_topk"].fn(spark, SF_DIR).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ivf_topk"].fn(spark, SF_DIR).collect()
    }
    # nprobe=4/16 cells: expect meaningful overlap with the exact top-k
    assert len(approx & exact) / len(exact) >= 0.3


def test_session_window_agg_conserves_events(spark):
    from hadoop_20_spark.registry import REGISTRY
    from tests.conftest import SF_DIR
    from pyspark.sql import functions as F

    sw = REGISTRY["session_window_agg"].fn(spark, SF_DIR)
    n = sw.agg(F.sum("n_events")).collect()[0][0]
    total = REGISTRY["sessionize"].fn(spark, SF_DIR).agg(F.sum("n_events")).collect()[0][0]
    assert n == total


def test_lsh_bucket_stats_observability(spark, tables):
    from hadoop_20_spark.operators.dedup import lsh_bucket_stats

    row = lsh_bucket_stats(tables["documents"], "doc_id", "text").collect()[0]
    assert row.n_buckets > 0
    assert row.n_dropped_buckets == 0  # fixture has no degenerate buckets
    assert row.max_bucket_size <= 1000
    # with an absurdly low cap, drops become visible, not silent
    row2 = lsh_bucket_stats(
        tables["documents"], "doc_id", "text", max_bucket=1
    ).collect()[0]
    assert row2.n_dropped_buckets == row2.n_candidate_buckets


def test_persisted_ivf_index_matches_direct(spark, tables, tmp_path):
    from hadoop_20_spark.operators import similarity
    from pyspark.sql import functions as F

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf_index")
    similarity.build_ivf_index(emb, path)
    via_index = {
        tuple(r)
        for r in similarity.query_ivf_index(spark, path, queries, emb).collect()
    }
    direct = {tuple(r) for r in similarity.ivf_topk(emb, queries).collect()}
    assert via_index == direct
    # probe filter must reach the partition column (pruned scan)
    from hadoop_20_spark.plans import physical_plan

    plan = physical_plan(similarity.query_ivf_index(spark, path, queries, emb))
    assert "PartitionFilters" in plan


def test_embedding_near_dups_srp_matches_brute_force(spark, tables):
    # The SRP bucket-then-verify default must recover every qualifying
    # pair the brute-force cross join finds on this corpus (planes are
    # deterministic, so this is a stable fact, not a flaky sample).
    emb = tables["embeddings"].select("vec_id", "embedding")
    clone = emb.filter(F.col("vec_id") == 1).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.union(clone)
    bf = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in similarity.embedding_near_dups(
            corpus, threshold=0.5, brute_force=True
        ).collect()
    }
    srp = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in similarity.embedding_near_dups(corpus, threshold=0.5).collect()
    }
    assert bf == srp
    assert (1, 100001) in srp


def test_embedding_near_dups_method_param(spark, tables):
    import pytest

    emb = tables["embeddings"].select("vec_id", "embedding").limit(50)
    # explicit method names select the same paths as the legacy flag
    a = similarity.embedding_near_dups(emb, threshold=0.5, method="brute").collect()
    b = similarity.embedding_near_dups(emb, threshold=0.5, brute_force=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError, match="method"):
        similarity.embedding_near_dups(emb, method="annoy")


def test_srp_volume_guard_raises_on_degenerate_corpus(spark, tables):
    """All-equal vectors co-bucket in every table, so the candidate
    join's pre-distinct volume is exactly n_tables·n² — the guard must
    measure it BEFORE the join and raise with remediation (raise
    n_planes / the cell path), never let the quadratic join run."""
    import pytest

    one = tables["embeddings"].select("embedding").first()["embedding"]
    deg = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(x)) for x in one]).alias("embedding"),
    )
    with pytest.raises(ValueError, match="n_planes") as ei:
        similarity.srp_candidate_pairs(deg, max_candidate_pairs=1_000_000)
    # the bound is exact for the degenerate corpus: only the exact probe
    # finds b-side rows, so Σ n_a·n_b = 12 tables × 2000²
    assert "48,000,000" in str(ei.value)
    # opting out (cap=None) must skip the pre-flight action entirely
    similarity.srp_candidate_pairs(deg, max_candidate_pairs=None)


def test_cosine_topk_query_broadcast_guard(spark, tables):
    """A corpus-sized query set makes the broadcast nested loop n² —
    the documented ~10⁵ swap point is now a measured pre-flight raise
    naming the bucketed generators, with a conscious opt-out."""
    import pytest

    emb = tables["embeddings"].select("vec_id", "embedding")
    with pytest.raises(ValueError, match="srp_candidate_pairs"):
        similarity.cosine_topk(emb, emb, max_broadcast_queries=100)
    # opt-out and under-cap paths still run
    small = emb.filter(F.col("vec_id") < 5)
    assert similarity.cosine_topk(emb, small, k=2).count() > 0
    assert (
        similarity.cosine_topk(
            emb, small, k=2, max_broadcast_queries=None
        ).count()
        > 0
    )


def test_cosine_topk_guard_count_is_memoized(spark, tables):
    """The pre-flight count must run ONCE per query plan, not once per
    invocation (the r12 bench measured the per-call guard job as +52%
    on b9b).  Proof: after one call populates the memo, poisoning the
    memoized value above the cap makes the next identical call raise —
    i.e. the guard read the memo instead of recounting."""
    import pytest

    emb = tables["embeddings"].select("vec_id", "embedding")
    small = emb.filter(F.col("vec_id") < 5)
    similarity.cosine_topk(emb, small, k=2).count()
    key = similarity._plan_key(small)
    assert similarity._QUERY_COUNT_MEMO.get(key) == small.count()
    try:
        similarity._QUERY_COUNT_MEMO[key] = 10**9
        with pytest.raises(ValueError, match="query vectors exceed"):
            similarity.cosine_topk(emb, small, k=2)
    finally:
        similarity._QUERY_COUNT_MEMO.pop(key, None)


def test_cosine_topk_guard_recounts_rewritten_table(spark, tmp_path):
    """A table rewritten at the same path has the same analyzed plan
    (same semanticHash) but new files: the memoized guard count must
    not outlive the old version, or the designed raise silently turns
    off (5 query rows memoized, then 20 rows read under a cap of 10)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from hadoop_20_spark import catalog

    def write(n):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(n), pa.int64()),
                    "embedding": [[1.0, float(i)] for i in range(n)],
                }
            ),
            tmp_path / "embeddings.parquet",
        )

    def topk():
        emb = catalog.load_table(spark, "embeddings", str(tmp_path))
        return similarity.cosine_topk(emb, emb, k=2, max_broadcast_queries=10)

    write(5)
    assert topk().count() == 10
    write(20)
    with pytest.raises(ValueError, match="query vectors exceed"):
        topk()


def test_srp_volume_guard_passes_fixture_scale(spark, tables):
    """The default cap must not fire at gate scale (the sf1 fixture
    measures ~3.3e9 < 1e10; this 500-vector corpus is ~2e6)."""
    emb = tables["embeddings"].select("vec_id", "embedding")
    out = similarity.srp_candidate_pairs(emb)
    assert out.count() > 0


def test_srp_bucket_stats(spark, tables):
    emb = tables["embeddings"].select("vec_id", "embedding")
    n = emb.count()
    stats = similarity.srp_bucket_stats(emb, n_tables=3).collect()
    assert [r["tbl"] for r in stats] == [0, 1, 2]
    for r in stats:
        assert r["rows"] == n
        # 4 planes -> at most 16 buckets; occupancy must partition rows
        assert 1 <= r["n_buckets"] <= 16
        assert r["max_bucket"] <= n


def test_embedding_brute_force_guard(spark, tables):
    import pytest

    from hadoop_20_spark.operators import similarity as sim

    emb = tables["embeddings"].select("vec_id", "embedding")
    old = sim.BRUTE_FORCE_MAX_ROWS
    sim.BRUTE_FORCE_MAX_ROWS = 5
    try:
        with pytest.raises(ValueError):
            sim.embedding_near_dups(emb, threshold=0.9, brute_force=True)
    finally:
        sim.BRUTE_FORCE_MAX_ROWS = old


def test_incremental_jaccard_matches_full_join_cross_side(spark, tables):
    """Two-relation incremental dedup must produce EXACTLY the
    cross-side subset of the one-relation exact Jaccard join (lossless
    prefix filter in the two-sided form), and no intra-side pairs."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators import dedup

    docs = tables["documents"].select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    inc = {
        (r["batch_id"], r["existing_id"], r["jaccard"])
        for r in dedup.incremental_jaccard_pairs(
            existing, batch, "doc_id", "text", threshold=0.4
        ).collect()
    }
    full = dedup.jaccard_pairs(docs, "doc_id", "text", threshold=0.4).collect()
    cross = {
        # reorient: (batch=odd, existing=even) regardless of id order
        (r["id_a"], r["id_b"], r["jaccard"])
        if r["id_a"] % 2 == 1
        else (r["id_b"], r["id_a"], r["jaccard"])
        for r in full
        if (r["id_a"] % 2) != (r["id_b"] % 2)
    }
    assert inc == cross
    assert all(b % 2 == 1 and e % 2 == 0 for b, e, _ in inc)


def test_kmeans_centroids_deterministic_under_repartition(spark, tables):
    emb = tables["embeddings"].select("vec_id", "embedding")
    a = similarity.kmeans_centroids(emb, k=8, iterations=2)
    b = similarity.kmeans_centroids(emb.repartition(13), k=8, iterations=2)
    ra = {r["cent_id"]: r["c_vec"] for r in a.collect()}
    rb = {r["cent_id"]: r["c_vec"] for r in b.collect()}
    assert ra == rb  # decimal-exact means: partitioning-independent
    assert len(ra) == 8
    assert all(len(v) == 64 for v in ra.values())


def test_kmeans_centroids_partitioning_invariant(spark, tables):
    """The r13 driver-hosted loop (row-local argmax + one narrow
    (cell, pos) decimal-mean collect per iteration) must be bit-exact
    under ANY input partitioning — the decimal-sum order-independence
    contract the old chunked-mean test pinned, now pinned directly:
    training on a 7-way round-robin repartition of the corpus yields
    the identical model, element for element."""
    from hadoop_20_spark.operators import similarity as sim

    emb = tables["embeddings"].select("vec_id", "embedding")
    base = {r["cent_id"]: r["c_vec"]
            for r in sim.kmeans_centroids(emb, k=4, iterations=2).collect()}
    reparted = {r["cent_id"]: r["c_vec"]
                for r in sim.kmeans_centroids(
                    emb.repartition(7), k=4, iterations=2
                ).collect()}
    assert reparted == base


def test_kmeans_centroids_dim_1024(spark):
    """High-dim guard: training at dim 1024 completes via the chunked
    mean path without a single 1024-aggregate groupBy (the codegen
    blowup the chunking exists to avoid)."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators import similarity as sim

    dim, n = 1024, 48
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: ((F.col("id") * 31 + i) % 17).cast("float") / 16.0,
        ).alias("embedding"),
    )
    cent = sim.kmeans_centroids(vecs, k=4, iterations=1)
    rows = {r["cent_id"]: r["c_vec"] for r in cent.collect()}
    assert len(rows) == 4
    assert all(len(v) == dim for v in rows.values())
    assert all(x is not None for v in rows.values() for x in v)


def test_kmeans_centroids_empty_seed_raises(spark):
    import pytest
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators import similarity as sim

    empty = spark.range(0).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="empty centroid seed"):
        sim.kmeans_centroids(empty, k=4, iterations=1)


def test_ivf_topk_kmeans_recall(spark):
    from hadoop_20_spark.registry import REGISTRY
    from tests.conftest import SF_DIR

    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["embedding_topk"].fn(spark, SF_DIR).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ivf_topk_kmeans"].fn(spark, SF_DIR).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.3


def test_quantize_embeddings_bounds_and_error(spark, tables):
    from pyspark.sql import functions as F

    emb = tables["embeddings"].select("vec_id", "embedding")
    q = similarity.quantize_embeddings(emb)
    rows = {r["vec_id"]: r for r in q.collect()}
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for vid, r in rows.items():
        assert all(-127 <= v <= 127 for v in r["qvec"])
        scale = r["scale"]
        if scale > 0:
            # dequantized error bounded by scale/254 (+ rounding of scale)
            for x, qv in zip(orig[vid], r["qvec"]):
                assert abs(qv * scale / 127 - x) <= scale / 254 + 1e-5


def test_semantic_dedup_planted_duplicate(spark, tables):
    """A planted identical vector (cos=1.0 to its source) must be
    dropped in favor of the lower id, and the result must be stable
    under a different input partitioning."""
    emb = tables["embeddings"].select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.union(planted)
    out = similarity.semantic_dedup(corpus, threshold=0.99)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert 100003 in rows
    assert rows[100003]["keeper_id"] == 3
    assert rows[100003]["cosine_sim"] == 1.0
    # repartition-stability: same answer from a different layout
    again = {
        r["vec_id"]: r
        for r in similarity.semantic_dedup(
            corpus.repartition(7), threshold=0.99
        ).collect()
    }
    assert {k: (v["keeper_id"], v["cosine_sim"]) for k, v in rows.items()} == {
        k: (v["keeper_id"], v["cosine_sim"]) for k, v in again.items()
    }


def test_auto_n_centroids_scales_with_corpus():
    """The cluster count must grow with the corpus (occupancy-constant
    cells keep the in-cell quadratic prune linear in n — the r11 sf1
    sweep measured ×23.6 wall for ×10 data with k pinned at 16).  The
    floor of 16 preserves the historical small-fixture behavior."""
    assert similarity.auto_n_centroids(500) == 16
    assert similarity.auto_n_centroids(2000) == 16  # sf0.1 fixture: unchanged
    assert similarity.auto_n_centroids(20_000) == 156  # sf1: 128-occupancy cells
    assert similarity.auto_n_centroids(200_000) == 1562
    # ratio n/k stays ~constant past the floor: within-cell work is flat
    assert abs(200_000 / similarity.auto_n_centroids(200_000) - 128) < 1


def test_semantic_dedup_auto_k_matches_explicit(spark, tables):
    """``n_centroids=None`` must be exactly ``auto_n_centroids(count)``
    spelled out — same rows, so the count-derived k is a config
    convenience, not a semantic fork."""
    emb = tables["embeddings"].select("vec_id", "embedding")
    k = similarity.auto_n_centroids(emb.count())
    auto = {
        (r["vec_id"], r["keeper_id"], r["cosine_sim"])
        for r in similarity.semantic_dedup(emb, threshold=0.45).collect()
    }
    explicit = {
        (r["vec_id"], r["keeper_id"], r["cosine_sim"])
        for r in similarity.semantic_dedup(
            emb, threshold=0.45, n_centroids=k
        ).collect()
    }
    assert auto == explicit and len(auto) > 0


def test_semantic_dedup_one_pass_matches_two_derive(spark, tables, monkeypatch):
    """The one-pass (persisted-assignment) shape that engages past
    SEMANTIC_ONE_PASS_MIN_K must return exactly the rows of the
    below-threshold two-derive shape: the persist is a materialization
    boundary, not a semantic fork.  Forced on at gate k by lowering the
    swap point, so the scale path is exercised on the small fixture."""
    emb = tables["embeddings"].select("vec_id", "embedding")
    k = similarity.auto_n_centroids(emb.count())
    base = {
        (r["vec_id"], r["cell"], r["keeper_id"], r["cosine_sim"])
        for r in similarity.semantic_dedup(
            emb, threshold=0.45, n_centroids=k
        ).collect()
    }
    monkeypatch.setattr(similarity, "SEMANTIC_ONE_PASS_MIN_K", 1)
    forced = similarity.semantic_dedup(emb, threshold=0.45, n_centroids=k)
    assert forced.storageLevel.useMemory  # the one-pass branch actually ran
    one_pass = {
        (r["vec_id"], r["cell"], r["keeper_id"], r["cosine_sim"])
        for r in forced.collect()
    }
    assert one_pass == base and len(base) > 0
    # release lifecycle: a second invocation must release the previous
    # result's cache (no cross-invocation reuse) and still match
    again = similarity.semantic_dedup(emb, threshold=0.45, n_centroids=k)
    assert not forced.storageLevel.useMemory  # previous result released
    assert {
        (r["vec_id"], r["cell"], r["keeper_id"], r["cosine_sim"])
        for r in again.collect()
    } == base
    again.unpersist(blocking=True)
    similarity._LAST_SEMANTIC_DEDUP_RESULT = None  # leave module state clean


def test_semantic_dedup_no_corpus_cross_join(spark, tables):
    """The quadratic step must be an equi-join on cell — never a
    corpus×corpus cartesian.  (Centroid assignment legitimately uses a
    BroadcastNestedLoopJoin against the tiny broadcast centroid set.)"""
    from hadoop_20_spark.plans import physical_plan

    emb = tables["embeddings"].select("vec_id", "embedding")
    plan = physical_plan(similarity.semantic_dedup(emb))
    assert "CartesianProduct" not in plan


def test_containment_finds_quote_expansion_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: containment
    (A in B) = 1.0, but Jaccard is far below 0.8 — the asymmetric case
    the directed join exists for."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler)],
        ["doc_id", "text"],
    )
    out = dedup.containment_pairs(
        df, "doc_id", "text", threshold_num=4, threshold_den=5, shingle=3
    ).collect()
    directed = {(r["id_a"], r["id_b"]): r["containment"] for r in out}
    assert directed.get((1, 2)) == 1.0  # every 3-gram of the short doc is in the long one
    assert (2, 1) not in directed  # the long doc is NOT contained in the short
    jac = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.8, shingle=3).collect()
    assert jac == []  # Jaccard at the same threshold cannot see the pair


def test_containment_topk_reports_quote_expansion(spark):
    """The report form must surface the short-doc-in-long-doc case at
    rank 1, bounded per doc, and never emit the reverse direction."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler)],
        ["doc_id", "text"],
    )
    rows = dedup.containment_topk(
        df, "doc_id", "text", k=3, threshold_num=4, threshold_den=5, shingle=3
    ).collect()
    got = {(r["doc_id"], r["container_id"]): (r["containment"], r["rank"]) for r in rows}
    assert got == {(1, 2): (1.0, 1)}


def test_containment_topk_equals_ranked_pair_form_when_cap_slack(spark):
    """With max_posting_df far above every shingle's document frequency
    the cap is inert: the report must be EXACTLY the pair form's output
    ranked per doc and cut at k — same candidates, same verify."""
    import random

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(10)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 16))))
        for i in range(16)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    k = 2
    pairs = dedup.containment_pairs(
        df, "doc_id", "text", threshold_num=3, threshold_den=5, shingle=2
    ).collect()
    by_doc: dict[int, list] = {}
    for r in pairs:
        by_doc.setdefault(r["id_a"], []).append((-r["containment"], r["id_b"]))
    expect = set()
    for a, lst in by_doc.items():
        for rank, (negc, b) in enumerate(sorted(lst)[:k], start=1):
            expect.add((a, b, -negc, rank))
    got = {
        (r["doc_id"], r["container_id"], r["containment"], r["rank"])
        for r in dedup.containment_topk(
            df,
            "doc_id",
            "text",
            k=k,
            threshold_num=3,
            threshold_den=5,
            shingle=2,
            max_posting_df=10_000,
        ).collect()
    }
    assert got == expect and len(got) > 0


def test_containment_topk_cap_is_deterministic_lowest_ids(spark):
    """When a shingle's df exceeds the cap, the kept postings are the
    LOWEST container ids — so a clone flood still yields a full-rank
    report drawn deterministically from the clone set, identically
    under any partitioning (the property that lets the DuckDB oracle
    mirror the cap)."""
    body = "alpha beta gamma delta epsilon zeta"
    clones = [(i, body) for i in range(30)]
    df = spark.createDataFrame(clones, ["doc_id", "text"])
    rows = dedup.containment_topk(
        df, "doc_id", "text", k=2, threshold_num=4, threshold_den=5,
        shingle=3, max_posting_df=5,
    ).collect()
    got = {(r["doc_id"], r["container_id"], r["rank"]) for r in rows}
    # every doc reports 2 containers from the capped (lowest-5-id) set
    for i in range(30):
        ranked = sorted(
            (c for d, c, _ in got if d == i), key=lambda c: c
        )
        assert len(ranked) == 2
        assert all(c < 5 or (i < 5 and c < 6) for c in ranked)
    # stability under repartitioning
    again = {
        (r["doc_id"], r["container_id"], r["rank"])
        for r in dedup.containment_topk(
            df.repartition(7), "doc_id", "text", k=2, threshold_num=4,
            threshold_den=5, shingle=3, max_posting_df=5,
        ).collect()
    }
    assert got == again


def test_containment_prefix_filter_matches_python_model(spark):
    """Fuzz the lossless-prefix claim: random small corpora, compare the
    prefix-filtered output against a plain-Python brute force."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 18))))
        for i in range(14)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(
            df, "doc_id", "text", threshold_num=3, threshold_den=5, shingle=2
        ).collect()
    }

    def shingles(text, n=2):
        toks = text.split()
        if len(toks) <= n:
            return {" ".join(toks[:max(len(toks), 1)])} if toks else set()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: shingles(t) for i, t in docs}
    expect = {}
    for a, b in itertools.permutations(sets, 2):
        inter = len(sets[a] & sets[b])
        if 5 * inter >= 3 * len(sets[a]):
            expect[(a, b)] = round(inter / len(sets[a]), 6)
    assert got == expect


def test_streaming_backfill_equals_batch(spark):
    """AvailableNow backfill must be row-identical to the batch
    aggregate (exactly-once over the staged backlog)."""
    from hadoop_20_spark.registry import REGISTRY
    from tests.conftest import SF_DIR
    from hadoop_20_spark.catalog import load_table

    got = sorted(
        (str(r["day"]), r["n_events"], round(r["sum_value"], 6))
        for r in REGISTRY["streaming_backfill_totals"].fn(spark, SF_DIR).collect()
    )
    batch = sorted(
        (str(r["day"]), r["n_events"], round(r["sum_value"], 6))
        for r in load_table(spark, "events", SF_DIR)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("sum_value"),
        )
        .collect()
    )
    assert got == batch


def test_paragraph_dedup_planted_boilerplate(spark):
    """A boilerplate paragraph planted in three documents survives only
    at its first (doc_id, pos) occurrence; documents are reconstructed
    from their remaining paragraphs in original order."""
    boiler = "subscribe to our newsletter for updates"
    rows = [
        (1, f"alpha body one\n\n{boiler}\n\nalpha tail"),
        (2, f"{boiler}\n\nbeta body two"),
        (3, f"gamma opening\n\ngamma middle\n\n{boiler}"),
        (4, "delta unique only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.paragraph_dedup(
            df, "doc_id", "text", delimiter_regex=r"\n{2,}", joiner="\n\n"
        ).collect()
    }
    # doc 1 holds the first occurrence — nothing removed, order intact
    assert out[1]["n_paras_removed"] == 0
    assert out[1]["text_dedup"] == f"alpha body one\n\n{boiler}\n\nalpha tail"
    # later docs lose exactly the boilerplate paragraph
    assert out[2]["n_paras_removed"] == 1
    assert out[2]["text_dedup"] == "beta body two"
    assert out[3]["n_paras_removed"] == 1
    assert out[3]["text_dedup"] == "gamma opening\n\ngamma middle"
    assert out[4]["n_paras_removed"] == 0
    assert out[4]["text_dedup"] == "delta unique only"


def test_paragraph_dedup_normalized_match_reconstructs_original(spark):
    """Reformatted boilerplate (case/whitespace) hashes equal after
    normalization, but reconstruction keeps each doc's ORIGINAL text."""
    df = spark.createDataFrame(
        [
            (1, "Same  Paragraph Here\n\nkeep one"),
            (2, "same paragraph   here\n\nkeep two"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.paragraph_dedup(
            df, "doc_id", "text", delimiter_regex=r"\n{2,}", joiner="\n\n"
        ).collect()
    }
    assert out[1]["text_dedup"] == "Same  Paragraph Here\n\nkeep one"
    assert out[2]["n_paras_removed"] == 1
    assert out[2]["text_dedup"] == "keep two"


def test_paragraph_dedup_intra_doc_repeat(spark):
    """A paragraph repeated WITHIN one document keeps only its first
    position — duplicates are positional, not per-document."""
    df = spark.createDataFrame(
        [(7, "loop para\n\nmiddle\n\nloop para")], ["doc_id", "text"]
    )
    (r,) = dedup.paragraph_dedup(
        df, "doc_id", "text", delimiter_regex=r"\n{2,}", joiner="\n\n"
    ).collect()
    assert r["n_paras"] == 3 and r["n_paras_removed"] == 1
    assert r["text_dedup"] == "loop para\n\nmiddle"


def test_segment_paragraphs_block_mode_shapes(spark):
    """Block mode: ceil(n/W) blocks, last block ragged, order row-local."""
    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    rows = dedup.segment_paragraphs(
        df, "doc_id", "text", block_words=2
    ).orderBy("pno").collect()
    assert [r["para"] for r in rows] == ["a b", "c d", "e"]


def test_sql_built_operators_quote_column_names(spark, tables):
    """The MinHash and paragraph-dedup plans are SQL expression strings:
    caller column names that are not plain identifiers (a space, a
    backtick) must give the same rows as plain names."""
    docs = tables["documents"].select("doc_id", "text")
    odd = docs.toDF("doc id", "te`xt")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(dedup.minhash_lsh_candidates(odd, "doc id", "te`xt", max_bucket=3)) == rows(
        dedup.minhash_lsh_candidates(docs, "doc_id", "text", max_bucket=3)
    )
    assert rows(dedup.paragraph_dedup(odd, "doc id", "te`xt", block_words=4)) == rows(
        dedup.paragraph_dedup(docs, "doc_id", "text", block_words=4)
    )


def test_duplicate_spans_planted(spark):
    """Exact-substring span semantics on planted docs: the globally
    FIRST occurrence is kept (no span emitted), a copied passage in a
    later doc becomes one span, and overlapping duplicate windows merge
    into a single maximal span."""
    from hadoop_20_spark.operators.dedup import duplicate_spans

    run = " ".join(f"w{i}" for i in range(16))  # w0..w15, 16 tokens
    rows = [
        (1, run),                       # original: keeper, no spans
        (2, "x y " + " ".join(f"w{i}" for i in range(12)) + " z q"),
        # doc 2: w0..w11 at pos 3..14 -> ONE 12-token span at start 3
        (3, run + " extra tail"),
        # doc 3: windows pos 1..5 all duplicate doc 1 -> merge into ONE
        # span start 1, length (5-1)+12 = 16 tokens
        (4, "completely different tokens only here nothing shared"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        r["doc_id"]: (r["span_start"], r["span_toks"])
        for r in duplicate_spans(docs, "doc_id", "text", window_tokens=12).collect()
    }
    assert spans == {2: (3, 12), 3: (1, 16)}, spans


def test_span_report_matches_removal(spark):
    """dup_span_report measures what dup_span_removal removes: the
    merged-span token coverage must equal the removed-token count per
    source (both are the union of duplicate windows)."""
    from hadoop_20_spark.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    rep = {
        r["source"]: r["dup_tokens"]
        for r in REGISTRY["dup_span_report"].fn(spark, sf).collect()
    }
    rem = {
        r["source"]: r["tokens_removed"]
        for r in REGISTRY["dup_span_removal"].fn(spark, sf).collect()
    }
    assert rep == rem and sum(rep.values()) > 0


def test_deletion_blocking_complete_for_indels(spark):
    """FastSS deletion-neighborhood blocking must recover EVERY pair at
    edit distance <= 1 — including insert/delete pairs of different
    lengths, the case prefix blocking structurally misses — and the
    levenshtein verify must kill same-key pairs at distance 2 ('ab' vs
    'ba')."""
    from pyspark.sql import functions as F

    names = ["abc", "abcd", "abd", "xbc", "ab", "ba", "zzz"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(names)], "k long, s string")
    keys = df.select(
        "k",
        "s",
        F.explode(
            F.expr(
                "transform(sequence(0, length(s)), i -> "
                "CASE WHEN i = 0 THEN s "
                "ELSE concat(substring(s, 1, i-1), substring(s, i+1, length(s))) END)"
            )
        ).alias("dk"),
    )
    a = keys.select(F.col("k").alias("ka"), F.col("s").alias("sa"), "dk")
    b = keys.select(F.col("k").alias("kb"), F.col("s").alias("sb"), "dk")
    got = {
        (r["ka"], r["kb"])
        for r in a.join(b, "dk")
        .filter(F.col("ka") < F.col("kb"))
        .select("ka", "kb", "sa", "sb")
        .distinct()
        .filter(F.levenshtein("sa", "sb") <= 1)
        .collect()
    }

    def lev(x, y):
        import itertools
        d = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            nd = [i]
            for j, cy in enumerate(y, 1):
                nd.append(min(d[j] + 1, nd[-1] + 1, d[j - 1] + (cx != cy)))
            d = nd
        return d[-1]

    want = {
        (i, j)
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if lev(names[i], names[j]) <= 1
    }
    assert got == want
    assert (0, 1) in want and (0, 4) in want  # indel pairs are present
    assert (4, 5) not in got  # 'ab' vs 'ba' shares keys but is distance 2


def test_auto_posting_cap_clamp_and_scale():
    """The corpus-scaled cap (sf10 fix): full 1000 through sf1-sized
    prefix volumes, tightening past ~600k prefix rows so the candidate
    join stays under the 6e8 budget at any corpus, floored at 64."""
    from hadoop_20_spark.operators.dedup import _auto_posting_cap

    assert _auto_posting_cap(0) == 1000          # empty corpus: inert
    assert _auto_posting_cap(60_000) == 1000     # sf0.01-sized
    assert _auto_posting_cap(522_000) == 1000    # sf1-sized
    assert _auto_posting_cap(5_200_000) == 115   # sf10: the probe's case
    assert _auto_posting_cap(5_200_000) * 5_200_000 <= 600_000_000
    assert _auto_posting_cap(10**12) == 64       # floor, never 0
    # monotone non-increasing in corpus size
    caps = [_auto_posting_cap(n) for n in (1, 10**6, 10**7, 10**9, 10**12)]
    assert caps == sorted(caps, reverse=True)


def test_containment_topk_auto_cap_inert_at_small_corpus(spark):
    """'auto' must resolve to the full 1000 cap on a gate-scale corpus —
    identical output to the explicit fixed cap (the bit-for-bit
    backward-compatibility claim at every gate scale)."""
    import random

    rng = random.Random(23)
    vocab = [f"t{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 18))))
        for i in range(24)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    fixed = {
        tuple(r)
        for r in dedup.containment_topk(
            df, "doc_id", "text", k=3, threshold_num=3, threshold_den=5,
            shingle=2, max_posting_df=1000,
        ).collect()
    }
    auto = {
        tuple(r)
        for r in dedup.containment_topk(
            df, "doc_id", "text", k=3, threshold_num=3, threshold_den=5,
            shingle=2, max_posting_df="auto",
        ).collect()
    }
    assert auto == fixed and len(auto) > 0


def test_kmeans_train_mod_clamp():
    """ceil(n/25000): 1 (inert) through every gate fixture, growing
    only past the training budget so Lloyd passes stay ~25k rows."""
    from hadoop_20_spark.operators.similarity import kmeans_train_mod

    assert kmeans_train_mod(0) == 1
    assert kmeans_train_mod(2_000) == 1      # sf0.01 embeddings
    assert kmeans_train_mod(20_000) == 1     # sf0.1 embeddings
    assert kmeans_train_mod(25_000) == 1
    assert kmeans_train_mod(25_001) == 2
    assert kmeans_train_mod(200_000) == 8    # the sf10 probe corpus
    assert kmeans_train_mod(10**9) == 40_000


def test_kmeans_sampled_training_differs_but_cells_sound(spark):
    """With mod > 1 the Lloyd passes see only the md5-gated sample:
    centroids may differ from full-corpus training, but the final
    assignment still covers EVERY vector and semantic_dedup output
    stays sound (keeper < vec_id, threshold respected) — the contract
    the sf10 validator checks at scale."""
    import numpy as np

    from hadoop_20_spark.operators import similarity

    rng = np.random.default_rng(13)
    V = rng.standard_normal((300, 8))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    full = similarity.kmeans_centroids(df, k=4, iterations=2)
    sampled = similarity.kmeans_centroids(
        df, k=4, iterations=2, train_sample_mod=3
    )
    assert full.count() == sampled.count() == 4
    # mod=1 is exactly the historical training
    inert = similarity.kmeans_centroids(
        df, k=4, iterations=2, train_sample_mod=1
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, inert.collect())
    )
    out = similarity.semantic_dedup(
        df, threshold=0.3, n_centroids=4, centroids=sampled
    ).collect()
    for r in out:
        assert r["keeper_id"] < r["vec_id"]
        assert r["cosine_sim"] >= 0.3


def test_containment_topk_exact_twin_survives_capped_postings(spark):
    """The sf10 validator's catch in miniature: when EVERY shingle's df
    exceeds the posting cap (degenerate vocab), shingle candidates only
    reach the lowest-id cohort — a high-id exact twin is invisible to
    them.  The exact-twin md5 channel must still surface it at rank 1
    with containment 1.0."""
    body = "alpha beta gamma delta epsilon zeta eta theta"
    other = "iota kappa lambda mu nu xi omicron pi"
    docs = [(i, body) for i in range(20)] + [(i, other) for i in range(20, 40)]
    docs += [(99, other)]  # high-id exact twin, far past the cap
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = dedup.containment_topk(
        df, "doc_id", "text", k=2, threshold_num=4, threshold_den=5,
        shingle=3, max_posting_df=3,
    ).collect()
    mine = [r for r in rows if r["doc_id"] == 99]
    assert mine, "high-id twin missing from the report entirely"
    top = min(mine, key=lambda r: r["rank"])
    assert top["rank"] == 1 and top["containment"] == 1.0
    # its keeper channel points into the exact-clone cohort
    assert top["container_id"] == 20
