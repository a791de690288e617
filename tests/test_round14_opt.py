"""Round-14 optimization pins.

1. The exact_np kernels reproduce Spark's expression arithmetic BIT FOR
   BIT (the identities the driver-hosted Lloyd loop rests on): F.round
   at 4dp/8dp, CAST to DECIMAL(30,10), the decimal sum → double cast,
   and the sequential dot/norm folds.
2. kmeans_centroids' driver path and distributed path return
   md5-identical models, the driver path engages at gate shapes, and
   degenerate inputs (ragged vectors) fall back to the distributed
   expression loop.
3. connected_components_star is duplicate-input-invariant (the r14
   change removed its dedup exchanges on the strength of the
   presence-bit aggregation collapsing duplicates).
"""

from __future__ import annotations

import hashlib
import math
import struct
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from hadoop_20_spark.operators import exact_np
from hadoop_20_spark.operators import similarity as sim


def _battery() -> list[float]:
    vals: list[float] = []
    for i in range(2000):
        h = hashlib.md5(f"r14_{i}".encode()).digest()
        u = int.from_bytes(h[:8], "big")
        x = (u / 2**64) * 2 - 1
        vals.append(x)
        vals.append(x * 1e-8)
        vals.append(round(x, 4) + 5e-5)  # near the 4dp HALF_UP boundary
        vals.append(round(x, 10) + 5e-11)  # near the 10dp boundary
    vals += [
        0.0, -0.0, 1e-11, -1e-11, 5e-11, -5e-11, 0.00005, -0.00005,
        0.44445, 0.444449999999999, 123.456785, -123.456785,
        -4.4626005804e-09,  # rounds to −0.0 before normalization
    ]
    return vals


def _bits(x: float) -> bytes:
    return struct.pack("d", x)


def test_exact_np_round_and_cast_match_spark(spark):
    vals = _battery()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = df.select(
        "x",
        F.round("x", 4).alias("r4"),
        F.round("x", 8).alias("r8"),
        F.col("x").cast("decimal(30,10)").alias("d10"),
    ).collect()
    a = np.array([r["x"] for r in rows])
    r4 = exact_np.round_half_up(a.copy(), 4)
    r8 = exact_np.round_half_up(a.copy(), 8)
    d10 = exact_np.to_scaled_int(a.copy())
    for i, r in enumerate(rows):
        assert _bits(r["r4"]) == _bits(float(r4[i])), (r["x"], r["r4"], r4[i])
        assert _bits(r["r8"]) == _bits(float(r8[i])), (r["x"], r["r8"], r8[i])
        assert int(r["d10"].scaleb(10)) == int(d10[i]), (r["x"], r["d10"])


def test_exact_np_decimal_sum_cast_matches_spark(spark):
    vals = _battery()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.agg(
        F.sum(F.col("x").cast("decimal(30,10)")).cast("double").alias("sd"),
        F.count("x").alias("n"),
    ).first()
    unscaled = int(exact_np.to_scaled_int(np.array(vals)).sum())
    assert _bits(got["sd"]) == _bits(float(Decimal(unscaled).scaleb(-10)))
    # and the full mean rule
    mean = exact_np.decimal_mean(unscaled, got["n"])
    want = df.agg(
        F.round(
            F.sum(F.col("x").cast("decimal(30,10)")).cast("double")
            / F.count("x"),
            8,
        ).alias("m")
    ).first()["m"]
    assert _bits(mean) == _bits(want)


def test_exact_np_seq_dot_matches_spark_fold(spark):
    h = [
        float(int(hashlib.md5(f"v_{i}".encode()).hexdigest()[:12], 16))
        / 2**48
        - 0.5
        for i in range(64)
    ]
    g = [
        float(int(hashlib.md5(f"w_{i}".encode()).hexdigest()[:12], 16))
        / 2**48
        - 0.5
        for i in range(64)
    ]
    df = spark.createDataFrame(
        [(h, g)], "a array<double>, b array<double>"
    )
    got = df.select(
        sim.dot(F.col("a"), F.col("b")).alias("d"),
        sim.norm(F.col("a")).alias("na"),
    ).first()
    V = np.array([h])
    C = np.array([g])
    assert _bits(got["d"]) == _bits(float(exact_np.seq_dot(V, C)[0, 0]))
    assert _bits(got["na"]) == _bits(float(exact_np.seq_norm(V)[0]))


def _model_md5(df) -> str:
    rows = df.orderBy("cent_id").collect()
    return hashlib.md5(
        repr([(r["cent_id"], list(r["c_vec"])) for r in rows]).encode()
    ).hexdigest()


@pytest.mark.parametrize("mod", [None, 1, 2])
def test_kmeans_driver_path_matches_distributed(spark, tables, count_jobs, mod):
    """The driver Lloyd loop iterates without Spark jobs, so its job
    count does not grow with ``iterations``; the distributed loop
    collects the model each iteration, so its count does."""
    emb = tables["embeddings"]
    emb.count()  # build the cached input before any job is counted

    def train(iterations):
        return count_jobs(
            lambda: sim.kmeans_centroids(
                emb, k=8, iterations=iterations, train_sample_mod=mod
            )
        )

    try:
        m1, jobs2 = train(2)
        h1 = _model_md5(m1)
        _, jobs1 = train(1)
        assert jobs2 == jobs1, (jobs1, jobs2)
        sim.KMEANS_DRIVER_LLOYD = False
        m2, jobs2 = train(2)
        _, jobs1 = train(1)
        assert jobs2 > jobs1, (jobs1, jobs2)
        assert _model_md5(m2) == h1
    finally:
        sim.KMEANS_DRIVER_LLOYD = True


def test_kmeans_assign_kernel_matches_expression(spark, tables, monkeypatch):
    """Force the GEMM-class Lloyd assignment kernel at gate scale (the
    swap point is monkeypatched below k) and pin md5 equality against
    the pure expression loop."""
    emb = tables["embeddings"]
    monkeypatch.setattr(sim, "KMEANS_DRIVER_LLOYD", False)
    monkeypatch.setattr(sim, "ASSIGN_GEMM_MIN_K", 4)
    m1 = sim.kmeans_centroids(emb, k=8, iterations=2)
    h1 = _model_md5(m1)
    monkeypatch.setattr(sim, "KMEANS_ASSIGN_KERNEL", False)
    m2 = sim.kmeans_centroids(emb, k=8, iterations=2)
    assert _model_md5(m2) == h1


def test_pq_encode_kernel_matches_aggregate(spark, tables, monkeypatch):
    """Force the GEMM-class PQ encode kernel at gate scale (swap point
    monkeypatched below k) and pin exact code equality against the
    aggregate form."""
    emb = tables["embeddings"]
    books, sub = sim.pq_codebooks(emb, m=4, k=8, iterations=1)

    def codes(df):
        return sorted(tuple(r) for r in df.collect())

    base = codes(sim._pq_encode_agg(emb, books, sub))
    monkeypatch.setattr(sim, "ASSIGN_GEMM_MIN_K", 4)
    monkeypatch.setattr(sim, "_PQ_BOOK_PROBE_MEMO", {})
    kern = codes(sim.pq_encode(emb, books, sub))
    assert kern == base


def test_kmeans_driver_falls_back_on_ragged_vectors(spark, count_jobs):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0]), (2, [3.0, 4.0, 5.0]), (3, [1.0, 5.0])],
        "vec_id bigint, embedding array<double>",
    )
    m, jobs1 = count_jobs(lambda: sim.kmeans_centroids(df, k=2, iterations=1))
    assert m.count() == 2  # historical behavior preserved
    # the distributed loop ran: its job count grows with iterations
    _, jobs2 = count_jobs(lambda: sim.kmeans_centroids(df, k=2, iterations=2))
    assert jobs2 > jobs1, (jobs1, jobs2)


def test_kmeans_rejects_k_past_driver_model_ceiling(spark, tables):
    with pytest.raises(ValueError, match="ASSIGN_GEMM_MAX_K"):
        sim.kmeans_centroids(
            tables["embeddings"], k=sim.ASSIGN_GEMM_MAX_K + 1, iterations=1
        )


def test_refinement_audits_match_direct_counts(spark):
    """return_audits reads (n_below, n_at) off the refinement's rank
    bookkeeping; pin it against direct counts on a tie-heavy domain
    (ties are where the terminal-bucket proof earns its keep)."""
    from hadoop_20_spark.operators import sort as sort_ops

    vals = [((i * i) % 97) * 3 for i in range(2000)] + [0, 0, 291, 291]
    df = spark.createDataFrame([(v,) for v in vals], "c bigint")
    n = len(vals)
    ks = [1, 2, n // 2, n - 1, n]
    got, _rounds = sort_ops.exact_order_statistics(
        df, "c", ks, return_audits=True
    )
    s = sorted(vals)
    for k in ks:
        v = s[k - 1]
        assert got[k] == (v, sum(1 for x in vals if x < v),
                          sum(1 for x in vals if x == v)), (k, got[k])
    # degenerate domain: every value equal
    one = spark.createDataFrame([(7,)] * 5, "c bigint")
    got1, _ = sort_ops.exact_order_statistics(
        one, "c", [1, 3, 5], return_audits=True
    )
    assert got1 == {1: (7, 0, 5), 3: (7, 0, 5), 5: (7, 0, 5)}


def test_star_cc_duplicate_input_invariance(spark):
    from hadoop_20_spark.operators import graph as graph_ops

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    base = spark.createDataFrame(edges, "src bigint, dst bigint")
    dup = spark.createDataFrame(
        edges * 3 + [(2, 1), (12, 11)], "src bigint, dst bigint"
    )
    l1, r1 = graph_ops.connected_components_star(base)
    l2, r2 = graph_ops.connected_components_star(dup)
    got1 = sorted(tuple(r) for r in l1.collect())
    got2 = sorted(tuple(r) for r in l2.collect())
    assert got1 == got2
    assert got1 == [
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10), (20, 20), (21, 20),
    ]
