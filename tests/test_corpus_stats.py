"""Corpus-stats family: CMS guarantees, growth-curve invariants,
novelty conservation, sweep-line model check, discrete-percentile gate."""

import duckdb
import pytest

from hadoop_20_spark.queries import REGISTRY
from tests.conftest import SF_DIR


def _oracle_rows(sql: str):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    rows = con.execute(sql).fetchall()
    con.close()
    return rows


def test_cms_one_sided_error_and_no_false_negatives(spark):
    """Count-min guarantees: estimate >= exact for every reported
    token, and every TRUE heavy hitter appears in the output (the
    sketch can only overcount, so est >= exact >= threshold)."""
    out = REGISTRY["cms_heavy_hitters"].fn(spark, SF_DIR).collect()
    assert out, "heavy hitters must exist in the skewed token corpus"
    for r in out:
        assert r["overcount"] >= 0, r
        assert r["est_count"] == r["exact_count"] + r["overcount"]
    reported = {r["token"] for r in out}
    true_hh = {
        w
        for (w,) in _oracle_rows(
            r"""
            WITH tok AS (
              SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                        t -> t <> '')) AS w
              FROM documents)
            SELECT w FROM tok GROUP BY w
            HAVING COUNT(*) * 50 >= (SELECT COUNT(*) FROM tok)
            """
        )
    }
    assert true_hh <= reported, true_hh - reported
    # the flag marks exactly the true set
    assert {r["token"] for r in out if r["is_true_hh"] == 1} == true_hh


def test_zipf_coverage_monotone(spark):
    rows = REGISTRY["zipf_coverage"].fn(spark, SF_DIR).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    shares = [r["cum_share"] for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:]))
    assert shares[-1] <= 1.000001
    counts = [r["cnt"] for r in rows]
    assert all(b <= a for a, b in zip(counts, counts[1:]))  # rank order


def test_vocab_growth_cum_matches_distinct_shingles(spark):
    rows = REGISTRY["vocab_growth_curve"].fn(spark, SF_DIR).collect()
    cums = [r["cum_vocab"] for r in rows]
    assert all(b > a for a, b in zip(cums, cums[1:]))
    assert sum(r["new_tokens"] for r in rows) == cums[-1]
    (n_distinct,) = _oracle_rows(
        r"""
        WITH tok AS (
          SELECT list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
          FROM documents)
        SELECT COUNT(DISTINCT ng) FROM (
          SELECT unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                       i -> array_to_string(toks[i:i+2], ' '))) AS ng
          FROM tok)
        """
    )[0]
    assert cums[-1] == n_distinct


def test_ngram_novelty_conservation(spark):
    """Every distinct shingle is 'novel' in exactly one doc (its min
    doc_id), so the novel counts across sources sum to the corpus
    distinct-shingle count."""
    rows = REGISTRY["ngram_novelty"].fn(spark, SF_DIR).collect()
    for r in rows:
        assert 0.0 <= r["novelty_rate"] <= 1.0
        assert r["n_novel"] <= r["n_shingles"]
    (n_distinct,) = _oracle_rows(
        r"""
        WITH tok AS (
          SELECT list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
          FROM documents)
        SELECT COUNT(DISTINCT ng) FROM (
          SELECT unnest(list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
                                       i -> array_to_string(toks[i:i+4], ' '))) AS ng
          FROM tok)
        """
    )[0]
    assert sum(r["n_novel"] for r in rows) == n_distinct


def test_peak_concurrency_matches_python_sweep(spark):
    """Brute-force model: replay the sweep in plain Python per day and
    compare peaks (catches tie-rule or frame regressions)."""
    spans = _oracle_rows(
        "SELECT user_id, CAST(ts AS DATE) AS day, MIN(ts) AS s, MAX(ts) AS e "
        "FROM events GROUP BY user_id, CAST(ts AS DATE)"
    )
    by_day: dict = {}
    for user_id, day, s, e in spans:
        by_day.setdefault(day, []).append((user_id, s, e))
    expect = {}
    for day, items in by_day.items():
        pts = [(s, -1, u) for u, s, e in items] + [(e, 1, u) for u, s, e in items]
        # starts first at equal t: d=-1 encodes +1 so it sorts before ends
        pts.sort()
        cur = peak = 0
        for _, d, _u in pts:
            cur += 1 if d == -1 else -1
            peak = max(peak, cur)
        expect[day] = (len(items), peak)
    rows = REGISTRY["peak_concurrency_daily"].fn(spark, SF_DIR).collect()
    got = {r["day"]: (r["n_sessions"], r["peak_concurrent"]) for r in rows}
    assert got == expect


def test_quality_gate_discrete_percentile(spark):
    """The threshold must be the exact discrete 25th percentile (smallest
    n_chars whose CDF reaches 25%) and the gate keeps >= 75% per source."""
    lengths = _oracle_rows("SELECT source, n_chars FROM documents")
    per_source: dict = {}
    for source, n in lengths:
        per_source.setdefault(source, []).append(n)
    rows = REGISTRY["quality_gate_adaptive"].fn(spark, SF_DIR).collect()
    assert len(rows) == len(per_source)
    for r in rows:
        vals = sorted(per_source[r["source"]])
        n = len(vals)
        # smallest value with cum count * 4 >= n
        thr = next(v for i, v in enumerate(vals) if (i + 1) * 4 >= n)
        assert r["threshold"] == thr, (r["source"], thr, r["threshold"])
        assert r["n_kept"] == sum(1 for v in vals if v >= thr)
        assert r["kept_rate"] >= 0.75


def test_copurchase_matches_python_model(spark):
    import itertools

    rows = _oracle_rows("SELECT DISTINCT l_orderkey, l_partkey FROM lineitem")
    orders: dict = {}
    for ok, pk in rows:
        orders.setdefault(ok, set()).add(pk)
    counts: dict = {}
    for parts in orders.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    expect = sorted(
        ((n, a, b) for (a, b), n in counts.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    got = [
        (r["n_orders"], r["part_a"], r["part_b"])
        for r in REGISTRY["copurchase_pairs"].fn(spark, SF_DIR).collect()
    ]
    assert got == expect


def test_last_touch_planted_lookback(spark):
    """A purchase 1 hour after a view attributes; one 8 days after the
    only view does not; one with no prior view does not."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, t0, 100, "view", 0.0, "{}"),
        (2, t0 + dt.timedelta(hours=1), 100, "purchase", 5.0, "{}"),
        (3, t0, 200, "view", 0.0, "{}"),
        (4, t0 + dt.timedelta(days=8), 200, "purchase", 7.0, "{}"),
        (5, t0 + dt.timedelta(hours=2), 300, "purchase", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import tempfile, os

    d = tempfile.mkdtemp(prefix="lta_fixture_")
    # only events.parquet is needed — the query reads no other table
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {
        str(r["day"]): (r["n_purchases"], r["n_attributed"])
        for r in REGISTRY["last_touch_attribution"].fn(spark, d).collect()
    }
    assert out == {
        "2024-03-01": (2, 1),  # user 100 attributed, user 300 not (no view)
        "2024-03-09": (1, 0),  # 8-day-old view is outside the lookback
    }


def test_rfm_segments_partition_customers(spark):
    """Every customer lands in exactly one segment; scores stay in 1-4
    per digit; the floored-micros average is integer-exact."""
    rows = REGISTRY["rfm_segments"].fn(spark, SF_DIR).collect()
    (n_cust,) = _oracle_rows("SELECT COUNT(DISTINCT o_custkey) FROM orders")[0]
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        seg = r["segment"]
        rs, fs, ms = seg // 100, (seg // 10) % 10, seg % 10
        assert 1 <= rs <= 4 and 1 <= fs <= 4 and 1 <= ms <= 4, seg
        assert r["avg_monetary_micros"] > 0


def test_repeat_purchase_shares_sum_to_one(spark):
    rows = REGISTRY["repeat_purchase_interval"].fn(spark, SF_DIR).collect()
    assert rows, "fixture users repeat-purchase"
    assert all(0 <= r["gap_bucket"] <= 10 for r in rows)
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    (n_gaps,) = _oracle_rows(
        """SELECT COUNT(*) - COUNT(DISTINCT user_id) FROM events
           WHERE event_type = 'purchase'"""
    )[0]
    assert sum(r["n_gaps"] for r in rows) == n_gaps


def test_affinity_lift_matches_python_model(spark):
    import itertools

    rows = _oracle_rows("SELECT DISTINCT l_orderkey, l_partkey FROM lineitem")
    orders: dict = {}
    part_c: dict = {}
    for ok, pk in rows:
        orders.setdefault(ok, set()).add(pk)
    for parts in orders.values():
        for p in parts:
            part_c[p] = part_c.get(p, 0) + 1
    n = len(orders)
    pair_c: dict = {}
    for parts in orders.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            pair_c[(a, b)] = pair_c.get((a, b), 0) + 1
    scored = [
        (c * n / (part_c[a] * part_c[b]), a, b, c)
        for (a, b), c in pair_c.items()
        if c >= 2
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    expect = [(a, b, c, round(l, 6)) for l, a, b, c in scored[:20]]
    got = [
        (r["part_a"], r["part_b"], r["n_orders"], r["lift"])
        for r in REGISTRY["part_affinity_lift"].fn(spark, SF_DIR).collect()
    ]
    assert got == expect


def test_k_anonymity_audit_matches_python_model(spark):
    rows = _oracle_rows(
        "SELECT lang, source, n_chars // 100, COUNT(*) FROM documents GROUP BY 1,2,3"
    )
    small = [k for *_qi, k in rows if k < 5]
    (n_docs,) = _oracle_rows("SELECT COUNT(*) FROM documents")[0]
    r = REGISTRY["k_anonymity_audit"].fn(spark, SF_DIR).collect()[0]
    assert r["n_small_groups"] == len(small)
    assert r["n_exposed_docs"] == sum(small)
    assert abs(r["exposed_share"] - sum(small) / n_docs) < 1e-6
    assert r["min_group_size"] == (min(small) if small else None)


def test_corpus_datacard_invariants(spark):
    rows = {r["metric"]: r["value"]
            for r in REGISTRY["corpus_datacard"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {
        "n_docs", "n_tokens", "n_chars", "n_sources", "n_langs",
        "n_exact_dup_docs", "median_doc_tokens",
    }
    (n_docs,) = _oracle_rows("SELECT COUNT(*) FROM documents")[0]
    assert rows["n_docs"] == n_docs
    assert rows["n_tokens"] > rows["n_docs"]  # multi-token docs
    assert 0 <= rows["n_exact_dup_docs"] < rows["n_docs"]
    assert rows["median_doc_tokens"] > 0


def test_chi2_terms_conserve_marginals(spark):
    """Observed counts must reproduce the corpus row count and each
    row/column's expected values must sum back to its marginal."""
    rows = REGISTRY["chi2_contingency"].fn(spark, SF_DIR).collect()
    (n_docs,) = _oracle_rows("SELECT COUNT(*) FROM documents")[0]
    assert sum(r["observed"] for r in rows) == n_docs
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], [0, 0.0])
        by_lang[r["lang"]][0] += r["observed"]
        by_lang[r["lang"]][1] += r["expected"]
    for lang, (obs, exp) in by_lang.items():
        assert abs(obs - exp) < 0.01, lang  # expected sums to the marginal
    assert all(r["chi2_term"] >= 0 for r in rows)


def test_ks_drift_matches_python_model(spark):
    """KS per source re-derived with a plain-Python CDF walk."""
    pairs = _oracle_rows("SELECT source, n_chars FROM documents")
    all_vals = sorted({v for _, v in pairs})
    per_src: dict = {}
    for s, v in pairs:
        per_src.setdefault(s, []).append(v)
    n_all = len(pairs)
    got = {
        r["source"]: (r["ks_num"], r["ks_stat"])
        for r in REGISTRY["ks_drift_audit"].fn(spark, SF_DIR).collect()
    }
    import bisect

    corpus_sorted = sorted(v for _, v in pairs)
    for s, vals in per_src.items():
        vs = sorted(vals)
        best = 0
        for v in all_vals:
            cs = bisect.bisect_right(vs, v)
            ca = bisect.bisect_right(corpus_sorted, v)
            best = max(best, abs(cs * n_all - ca * len(vs)))
        assert got[s][0] == best, s
        assert abs(got[s][1] - best / (len(vs) * n_all)) < 1e-6


def test_join_cardinality_estimate_consistency(spark):
    r = REGISTRY["join_cardinality_estimate"].fn(spark, SF_DIR).collect()[0]
    (exact,) = _oracle_rows(
        "SELECT COUNT(*) FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey"
    )[0]
    assert r["exact_rows"] == exact
    assert r["estimated_rows"] % 10 == 0  # 10x a sampled count
    assert abs(r["rel_error"] - abs(r["estimated_rows"] - exact) / exact) < 1e-6
    assert r["rel_error"] < 0.5  # universe sampling, not p^2 row sampling


def test_basket_histogram_pair_volume_conserved(spark):
    rows = REGISTRY["basket_size_histogram"].fn(spark, SF_DIR).collect()
    (total_pairs,) = _oracle_rows(
        """SELECT SUM(n * (n - 1) // 2) FROM (
             SELECT COUNT(DISTINCT l_partkey) AS n FROM lineitem GROUP BY l_orderkey)"""
    )[0]
    assert sum(r["n_pairs"] for r in rows) == total_pairs
    (n_orders,) = _oracle_rows("SELECT COUNT(DISTINCT l_orderkey) FROM lineitem")[0]
    assert sum(r["n_orders"] for r in rows) == n_orders


def test_balanced_shards_contiguous_and_balanced(spark):
    rows = REGISTRY["balanced_shards"].fn(spark, SF_DIR).collect()
    assert [r["shard"] for r in rows] == list(range(len(rows)))
    (n_docs, total, max_doc) = _oracle_rows(
        "SELECT COUNT(*), SUM(n_chars), MAX(n_chars) FROM documents"
    )[0]
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["total_chars"] for r in rows) == total
    # contiguity: each shard's doc range follows the previous
    for a, b in zip(rows, rows[1:]):
        assert b["first_doc"] == a["last_doc"] + 1
    # balance: every shard within one max-doc of the stride target
    stride = total // 8 + 1
    for r in rows:
        assert r["total_chars"] <= stride + max_doc


def test_hll_merge_dominance_and_error(spark):
    """HLL invariants: the merged sketch dominates every sub-sketch
    (registers are a max-semilattice, so occupancy only grows and the
    scaled harmonic sum only shrinks), the small-range correction fires
    exactly when its predicate holds, and the corrected estimator lands
    within 30% of exact on the full corpus (the synthetic vocabulary is
    tiny, so this exercises the linear-counting regime)."""
    rows = {r["source"]: r for r in
            REGISTRY["hll_distinct_merge"].fn(spark, SF_DIR).collect()}
    assert "__ALL__" in rows and len(rows) >= 2
    merged = rows.pop("__ALL__")
    for src, r in list(rows.items()) + [("__ALL__", merged)]:
        assert r["est_hll"] > 0 and r["exact_distinct"] > 0, src
        # harmonic-sum bookkeeping: zero + occupied = m
        assert r["occupied_buckets"] + r["zero_buckets"] == 64, src
        want_linear = r["est_raw"] <= 160.0 and r["zero_buckets"] > 0
        assert r["est_mode"] == ("linear" if want_linear else "raw"), src
    for src, r in rows.items():
        assert merged["occupied_buckets"] >= r["occupied_buckets"], src
        assert merged["s_scaled"] <= r["s_scaled"], src
    assert merged["rel_err_pct"] < 30.0, merged


def test_histogram_quantile_error_contract(spark):
    """The sketch's whole point: 0 <= exact - est < bucket width, and the
    merged mass conserves the row count, for both rank probes."""
    from hadoop_20_spark.queries import REGISTRY

    rows = REGISTRY["histogram_quantile_merge"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert {r["stat"] for r in rows} == {"median", "p90"}
    for r in rows:
        assert 0 <= r["err_cents"] < r["bound_cents"], dict(r.asDict())
        assert r["total_mass"] == 6000  # sf0.001 lineitem rows
        assert 1 <= r["occupied"] <= 128


def test_histogram_merge_is_batch_count_invariant(spark):
    """Cell-wise-sum merge == rebuild regardless of how rows were
    batched: 2-way and 8-way sub-sketches merge to identical cells."""
    from pyspark.sql import functions as F

    from hadoop_20_spark import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.001")
    v = li.select(
        F.col("l_orderkey").alias("k"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    b = v.agg(F.min("c").alias("lo"), F.max("c").alias("hi")).first()
    w = (b["hi"] - b["lo"] + 128) // 128

    def merged_cells(n_batches):
        sub = (
            v.select((F.col("k") % n_batches).alias("batch"),
                     F.expr(f"(c - {b['lo']}) DIV {w}").alias("b"))
            .groupBy("batch", "b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return {
            r["b"]: r["m"]
            for r in sub.groupBy("b").agg(F.sum("cnt").alias("m")).collect()
        }

    assert merged_cells(2) == merged_cells(8)
