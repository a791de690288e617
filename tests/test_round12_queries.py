"""Property pins for the round-12 additions — independent recomputes
(python md5 / exact-integer / numpy — no Spark, no DuckDB, so a bug
shared by both engines' spellings can't hide) plus plan-shape pins."""

import hashlib
import math

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_grouped_reservoir_matches_independent_recompute(spark):
    from hadoop_20_spark.queries import REGISTRY

    out = REGISTRY["weighted_reservoir_per_group"].fn(spark, SF).collect()
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .collect()
    )
    by_lang: dict[str, list] = {}
    for r in docs:
        if r.n_chars <= 0:
            continue
        h = int(hashlib.md5(f"wrg_{r.doc_id}".encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        by_lang.setdefault(r.lang, []).append(
            (math.pow(u, 1.0 / r.n_chars), r.doc_id)
        )
    expect: dict[str, list] = {}
    for lang, keyed in by_lang.items():
        keyed.sort(key=lambda t: (-t[0], t[1]))
        expect[lang] = sorted(k for _, k in keyed[:40])
    got: dict[str, list] = {}
    for r in out:
        got.setdefault(r["lang"], []).append(r["doc_id"])
    assert {k: sorted(v) for k, v in got.items()} == expect
    # every stratum filled to min(40, stratum size) INDEPENDENTLY — the
    # quota property a global top-200 would violate (heavy langs would
    # crowd out light ones)
    for lang, keyed in by_lang.items():
        assert len(got[lang]) == min(40, len(keyed)), lang


def test_grouped_reservoir_plan_group_limit_no_single_partition(spark):
    from hadoop_20_spark.queries import REGISTRY

    plan = _plan(REGISTRY["weighted_reservoir_per_group"].fn(spark, SF))
    # rank<=k rewritten to per-map-task group heaps BEFORE the exchange:
    # shuffle volume bounded by partitions * n_groups * k
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan  # the map-side (pre-exchange) trim form
    assert "SinglePartition" not in plan, plan


def test_straggler_audit_matches_exact_integer_recompute(spark):
    """Recompute the full speculation decision from raw events with
    python ints (true unbounded arithmetic): per-task exact rate, the
    (S1 - n*r)^2 > n*S2 - S1^2 predicate, and the slowest-10 truncation
    must all reproduce the query's output exactly."""
    from hadoop_20_spark.queries import REGISTRY

    out = REGISTRY["speculative_straggler_audit"].fn(spark, SF).collect()
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .selectExpr("event_type", "user_id", "unix_micros(ts) AS us")
        .collect()
    )
    tasks: dict[tuple, list] = {}
    for r in ev:
        tasks.setdefault((r.event_type, r.user_id), []).append(r.us)
    rate: dict[tuple, tuple] = {}
    for (et, uid), ts in tasks.items():
        n, el = len(ts), max(ts) - min(ts)
        if n >= 2 and el > 0:
            rate[(et, uid)] = (n, (n * 3_600_000_000_000_000) // el)
    expect: dict[str, list] = {}
    jobs: dict[str, list] = {}
    for (et, uid), (n, r) in rate.items():
        jobs.setdefault(et, []).append((uid, n, r))
    for et, ts in jobs.items():
        nt = len(ts)
        s1 = sum(r for _, _, r in ts)
        s2 = sum(r * r for _, _, r in ts)
        flagged = [
            (r, uid, n)
            for uid, n, r in ts
            if s1 - nt * r > 0 and (s1 - nt * r) ** 2 > nt * s2 - s1 * s1
        ]
        flagged.sort()
        expect[et] = [
            (uid, n, r, nt, s1 // nt, s1 // nt - r) for r, uid, n in flagged[:10]
        ]
    got: dict[str, list] = {}
    for r in out:
        got.setdefault(r["event_type"], []).append(
            (
                r["user_id"],
                r["n_events"],
                r["rate_ppm"],
                r["n_tasks"],
                r["job_mean_ppm"],
                r["lag_ppm"],
            )
        )
    assert got == {k: v for k, v in expect.items() if v}
    # the one-stddev rule flags a MINORITY of tasks in every job (sanity
    # that the predicate isn't degenerate at this fixture)
    for et, ts in jobs.items():
        assert len(got.get(et, [])) < len(ts)


def test_straggler_audit_single_fact_scan_broadcast_stats(spark):
    from hadoop_20_spark.queries import REGISTRY

    plan = _plan(REGISTRY["speculative_straggler_audit"].fn(spark, SF))
    assert plan.count("events.parquet") == 2  # task grain + job stats twin
    assert "BroadcastHashJoin" in plan, plan
    assert "SinglePartition" not in plan.split("TakeOrderedAndProject")[0] or (
        "WindowGroupLimit" in plan
    ), plan


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from hadoop_20_spark.queries import REGISTRY

    out = REGISTRY["embedding_covariance_topk"].fn(spark, SF).collect()
    assert len(out) == 10
    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("embedding")
        .collect()
    )
    # the query's own quantization, then EXACT integer moments via
    # python ints (object dtype — no int64 overflow, no float error)
    Q = np.array(
        [
            [int(round(float(x) * 1_000_000)) for x in r.embedding]
            for r in emb
        ],
        dtype=object,
    )
    n, d = Q.shape
    sx = Q.sum(axis=0)
    cov_num = {}
    for i in range(d):
        for j in range(i + 1, d):
            sxy = int((Q[:, i] * Q[:, j]).sum())
            cov_num[(i, j)] = n * sxy - int(sx[i]) * int(sx[j])
    top = sorted(cov_num.items(), key=lambda kv: (-abs(kv[1]), kv[0]))[:10]
    assert [(r["dim_i"], r["dim_j"]) for r in out] == [k for k, _ in top]
    var = {
        i: n * int((Q[:, i] * Q[:, i]).sum()) - int(sx[i]) ** 2
        for i in range(d)
    }
    for r, ((i, j), num) in zip(out, top):
        assert r["n_vecs"] == n
        assert abs(r["covariance"] - num / n / n / 1e12) < 1e-9
        expect_corr = num / math.sqrt(float(var[i]) * float(var[j]))
        assert abs(r["correlation"] - expect_corr) < 1e-6


def test_embedding_covariance_plan_partial_agg_no_vector_shuffle(spark):
    from hadoop_20_spark.queries import REGISTRY

    from pyspark.sql import functions as F

    from hadoop_20_spark.catalog import load_table
    from hadoop_20_spark.operators.similarity import (
        covariance_sufficient_stats,
    )

    # round 13: the sufficient statistics come from ONE Arrow-batched
    # mapInPandas GEMM (<= 2145 cells per batch leave the kernel) — the
    # raw vectors still never shuffle.  The registry query
    # localCheckpoints the tiny aggregate, so ITS plan shows the
    # checkpoint scan; the kernel's own plan is asserted directly.
    q = load_table(spark, "embeddings", SF).select(
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) "
            "* 1000000) AS BIGINT))"
        ).alias("q")
    )
    kplan = _plan(covariance_sufficient_stats(q))
    assert "MapInPandas" in kplan, kplan
    assert "Exchange" not in kplan, kplan  # partials leave map-side only

    plan = _plan(REGISTRY["embedding_covariance_topk"].fn(spark, SF))
    # above the checkpointed aggregate: no explode fan-out remains, the
    # tiny readers join broadcast, top-10 is TakeOrderedAndProject
    assert "Scan ExistingRDD" in plan, plan
    assert "Generate explode" not in plan and "posexplode" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
