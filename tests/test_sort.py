from pyspark.sql import functions as F

from hadoop_20_spark.operators import sort as sort_ops
from hadoop_20_spark.plans import (
    validate_conservation,
    validate_global_order,
)


def test_parse_key_field_spec():
    # missing pos2 defaults to end-of-line (-1), as in sort(1) and
    # KeyFieldHelper#parseKey
    assert sort_ops.parse_key_field_spec("-k2,3nr -k1") == [
        (2, 1, 3, 0, True, True),
        (1, 1, -1, 0, False, False),
    ]
    # KeyFieldHelper char offsets: -k2.4,3.2n = from char 4 of field 2
    # through char 2 of field 3, numeric; flags attach to either end.
    assert sort_ops.parse_key_field_spec("-k2.4,3.2n") == [(2, 4, 3, 2, True, False)]
    assert sort_ops.parse_key_field_spec("-k1.2,1.3r") == [(1, 2, 1, 3, False, True)]


def test_total_order_sort_validates(spark, tables):
    li = tables["lineitem"].select("l_orderkey", "l_linenumber", "l_quantity")
    out = sort_ops.total_order_sort(li, "l_orderkey", "l_linenumber")
    # TeraValidate-style global order + SortValidator conservation
    assert validate_global_order(out, "l_orderkey", "l_linenumber")
    assert validate_conservation(li, out, "l_quantity")


def test_top_k_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 10.0), (3, 10.0), (4, 5.0)], ["id", "score"]
    )
    out = sort_ops.top_k(df, [F.col("score").desc(), F.col("id")], 2).collect()
    assert [r["id"] for r in out] == [1, 2]


def test_top_k_per_group(spark, tables):
    out = sort_ops.top_k_per_group(
        tables["events"], ["user_id"], [F.col("ts"), F.col("event_id")], 3
    )
    per_user = out.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert per_user <= 3
    assert out.filter(F.col("rn") > 3).count() == 0


def test_secondary_sort_partition_order(spark, tables):
    ev = tables["events"].select("user_id", "ts", "event_id")
    out = sort_ops.secondary_sort(ev, ["user_id"], ["ts", "event_id"])

    def check(it):
        prev = {}
        for row in it:
            key = row["user_id"]
            cur = (row["ts"], row["event_id"])
            if key in prev and cur < prev[key]:
                yield 1
            prev[key] = cur

    violations = out.rdd.mapPartitions(check).sum()
    assert violations == 0


def test_md5_sample_deterministic(spark, tables):
    li = tables["lineitem"]
    key = F.concat_ws("_", "l_orderkey", "l_linenumber")
    a = sort_ops.sample_percent_deterministic(li, key, 10)
    b = sort_ops.sample_percent_deterministic(li.repartition(13), key, 10)
    assert a.count() == b.count() > 0
    assert a.select("l_orderkey", "l_linenumber").subtract(
        b.select("l_orderkey", "l_linenumber")
    ).count() == 0


def test_key_field_sort(spark):
    df = spark.createDataFrame(
        [("b\t2",), ("a\t10",), ("c\t2",)], ["line"]
    )
    out = [r["line"] for r in sort_ops.key_field_sort(df, "line", "-k2nr -k1").collect()]
    assert out == ["a\t10", "b\t2", "c\t2"]


def test_key_field_sort_regex_separator(spark):
    # '|' is a regex metachar; as a literal separator the fields must
    # still split correctly (F.split takes a regex — operator escapes).
    from hadoop_20_spark.operators import sort as sort_ops

    df = spark.createDataFrame(
        [("b|2",), ("a|10",), ("c|1",)], ["line"]
    )
    out = [
        r["line"]
        for r in sort_ops.key_field_sort(df, "line", "-k2nr", separator="|").collect()
    ]
    assert out == ["a|10", "b|2", "c|1"]


def test_key_field_sort_char_offsets(spark):
    # -k1.2,1.3n sorts by chars 2-3 of field 1, numeric: "a934" keys 93,
    # "a125" keys 12, "b401" keys 40.
    from hadoop_20_spark.operators import sort as sort_ops

    df = spark.createDataFrame([("a934 x",), ("a125 y",), ("b401 z",)], ["line"])
    out = [
        r["line"]
        for r in sort_ops.key_field_sort(df, "line", "-k1.2,1.3n", separator=" ").collect()
    ]
    assert out == ["a125 y", "b401 z", "a934 x"]


def test_key_field_sort_open_ended_range(spark):
    # -k2 (no pos2): key is field 2 THROUGH END OF LINE, not field 2
    # alone — "2 a" vs "2 b" must order by the trailing field too.
    from hadoop_20_spark.operators import sort as sort_ops

    df = spark.createDataFrame(
        [("x 2 b",), ("y 2 a",), ("z 10 c",)], ["line"]
    )
    out = [
        r["line"]
        for r in sort_ops.key_field_sort(df, "line", "-k2", separator=" ").collect()
    ]
    # text keys: "2 b", "2 a", "10 c" -> "10 c" < "2 a" < "2 b"
    assert out == ["z 10 c", "y 2 a", "x 2 b"]


def test_key_field_sort_char_offset_spans_fields(spark):
    # -k1.3,2: from char 3 of field 1 through all of field 2.
    from hadoop_20_spark.operators import sort as sort_ops

    df = spark.createDataFrame(
        [("xxb zz 1",), ("zza yy 2",), ("yyc aa 3",)], ["line"]
    )
    out = [
        r["line"]
        for r in sort_ops.key_field_sort(df, "line", "-k1.3,2", separator=" ").collect()
    ]
    # keys: "b zz", "a yy", "c aa" -> a yy, b zz, c aa
    assert out == ["zza yy 2", "xxb zz 1", "yyc aa 3"]


def test_key_field_sort_numeric_open_ended(spark):
    # -k2n with no pos2 extends through end of line; the numeric compare
    # must use the LEADING numeric prefix of the multi-field key (as
    # sort(1)/KeyFieldBasedComparator do) — a whole-key cast of "2 b"
    # throws under ANSI.  Keys with no numeric prefix sort as 0.
    df = spark.createDataFrame([("x 2 b",), ("y 10 a",), ("z m q",)], ["line"])
    out = [
        r["line"]
        for r in sort_ops.key_field_sort(df, "line", "-k2n", separator=" ").collect()
    ]
    assert out == ["z m q", "x 2 b", "y 10 a"]


def test_distributed_global_rank_matches_sorted_enumeration(spark):
    # 1000 rows, deliberately skewed + tied leading keys, shuffled input
    # order: rank must equal position in (k, sub) sort order, 1-based.
    rows = [((i * 7919) % 50, i) for i in range(1000)]  # 50 hot leading keys
    df = spark.createDataFrame(rows, ["k", "sub"]).repartition(13)
    out = sort_ops.distributed_global_rank(df, ["k", "sub"], rank_col="rn")
    got = {(r["k"], r["sub"]): r["rn"] for r in out.collect()}
    expect = {kv: i + 1 for i, kv in enumerate(sorted(rows))}
    assert got == expect


def test_distributed_global_rank_no_single_partition_exchange(spark):
    from hadoop_20_spark.plans import physical_plan

    df = spark.range(0, 5000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("sub")
    )
    out = sort_ops.distributed_global_rank(df, ["k", "sub"])
    assert "Exchange SinglePartition" not in physical_plan(out)


def test_distributed_global_rank_single_bucket_degenerate(spark):
    # num_buckets=1 -> no boundaries, one window group: still correct.
    df = spark.createDataFrame([(3, 0), (1, 0), (2, 0)], ["k", "sub"])
    out = sort_ops.distributed_global_rank(df, ["k", "sub"], num_buckets=1)
    assert [(r["k"], r["rn"]) for r in out.orderBy("rn").collect()] == [
        (1, 1), (2, 2), (3, 3),
    ]


def test_distributed_global_rank_raises_on_planted_hot_key(spark):
    # 90% of rows share one leading-key value: its bucket degenerates to
    # a single window group (the TotalOrderPartitioner hot-key failure).
    # The exact per-bucket counts are already on the driver, so the
    # operator must raise with the histogram, not plan a straggler.
    import pytest

    rows = [(7, i) for i in range(1800)] + [(i % 5, 10000 + i) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "sub"]).repartition(13)
    with pytest.raises(ValueError, match="skewed"):
        sort_ops.distributed_global_rank(df, ["k", "sub"]).count()
    # An informed caller can accept the hot key explicitly.
    out = sort_ops.distributed_global_rank(
        df, ["k", "sub"], max_bucket_fraction=1.0
    )
    assert out.count() == 2000


def test_distributed_global_rank_null_leading_key_bucket0(spark):
    # NULL > bound is NULL; without the coalesce those rows fall into a
    # NULL bucket that the inner offsets join silently DROPS.  They must
    # instead rank first (Spark ascending = NULLS FIRST), matching what
    # a plain orderBy would do.
    rows = [(None, 0), (5, 1), (None, 2), (1, 3)]
    df = spark.createDataFrame(rows, "k int, sub int")
    got = [
        (r["k"], r["sub"])
        for r in sort_ops.distributed_global_rank(df, ["k", "sub"], num_buckets=4)
        .orderBy("rn")
        .collect()
    ]
    assert got == [(None, 0), (None, 2), (1, 3), (5, 1)]


def test_distributed_global_rank_sampled_matches_under_hot_key(spark):
    # The exact input the quantile twin REFUSES (90% of rows on one
    # leading value): sampled composite-tuple boundaries split the hot
    # value by the secondary key, so ranks come out balanced AND equal
    # to the plain sorted enumeration.
    rows = [(7, i) for i in range(1800)] + [(i % 5, 10000 + i) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "sub"]).repartition(13)
    out = sort_ops.distributed_global_rank_sampled(df, ["k", "sub"], rank_col="rn")
    got = {(r["k"], r["sub"]): r["rn"] for r in out.collect()}
    expect = {kv: i + 1 for i, kv in enumerate(sorted(rows))}
    assert got == expect


def test_distributed_global_rank_sampled_string_and_null_keys(spark):
    # Non-numeric leading key (approxQuantile can't) + NULLs first:
    # lexicographic tuple boundaries must reproduce Spark's
    # NULLS FIRST ascending order exactly.
    rows = [("b", 1), (None, 2), ("a", 3), ("a", 1), (None, 1), ("c", 0)]
    df = spark.createDataFrame(rows, "k string, sub int")
    got = [
        (r["k"], r["sub"])
        for r in sort_ops.distributed_global_rank_sampled(
            df, ["k", "sub"], num_buckets=3
        )
        .orderBy("rn")
        .collect()
    ]
    assert got == [(None, 1), (None, 2), ("a", 1), ("a", 3), ("b", 1), ("c", 0)]


def test_distributed_global_rank_sampled_raises_on_duplicate_tuple(spark):
    # One FULL tuple on 90% of rows: no boundary placement can split it
    # (equal tuples must share a bucket), so the operator raises and
    # points at the fix — extend keys with a unique column.
    import pytest

    rows = [(7, 7) for _ in range(1800)] + [(i % 5, i) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "sub"])
    with pytest.raises(ValueError, match="dominates"):
        sort_ops.distributed_global_rank_sampled(df, ["k", "sub"])


def test_distributed_cumsum_matches_naive(spark):
    """Bucketed two-pass cumulative weight == a plain single-partition
    running sum, element for element."""
    import random

    rng = random.Random(11)
    rows = [(i, rng.randint(0, 50)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["k", "w"]).repartition(7)
    got = {
        r["k"]: r["cum"]
        for r in sort_ops.distributed_cumsum(df, ["k"], "w").collect()
    }
    running = 0
    for k, w in sorted(rows):
        running += w
        assert got[k] == running, k


def test_morton_interleave_matches_python_model(spark):
    """The 32-term shift/mask Morton key must equal a Python bit-model
    (interleave x's bit b to position 2b, y's to 2b+1), and be
    order-preserving within each axis-aligned power-of-two block."""
    from hadoop_20_spark.operators.layout import morton_interleave
    from pyspark.sql import functions as F

    pts = [(x, y) for x in (0, 1, 2, 3, 255, 32767, 65535)
           for y in (0, 1, 5, 128, 65535)]
    df = spark.createDataFrame(pts, ["x", "y"])
    rows = df.select(
        "x", "y",
        morton_interleave([F.col("x"), F.col("y")], bits=16).alias("z"),
    ).collect()

    def model(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for r in rows:
        assert r["z"] == model(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_prunes_at_least_as_well_as_linear(spark):
    """The audit's invariant: under a both-dims box predicate the
    z-layout never scans more rows than the linear layout, and both
    layouts' scanned rows cover all matching rows."""
    from hadoop_20_spark.queries import REGISTRY

    rows = {
        r["layout"]: r
        for r in REGISTRY["zorder_layout_audit"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    z, l = rows["zorder"], rows["linear"]
    assert z["rows_matching"] == l["rows_matching"]
    assert z["rows_scanned"] <= l["rows_scanned"]
    assert z["rows_scanned"] >= z["rows_matching"]
    assert l["rows_scanned"] >= l["rows_matching"]


def test_distributed_cumsum_null_key_routes_to_bucket_zero(spark):
    """A NULL leading key must not be silently dropped by the offsets
    join: it sorts NULLS FIRST (Spark asc default), lands in bucket 0,
    and its weight participates in the cumulative sum."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.sort import distributed_cumsum

    df = spark.createDataFrame(
        [(None, 5), (1, 10), (2, 20), (3, 30)], "k int, w int"
    )
    rows = distributed_cumsum(df, ["k"], "w", num_buckets=2).orderBy(
        F.col("k").asc_nulls_first()
    ).collect()
    assert len(rows) == 4  # nothing dropped
    assert rows[0]["k"] is None and rows[0]["cum"] == 5
    assert [r["cum"] for r in rows] == [5, 15, 35, 65]


def test_morton_interleave_three_dims(spark):
    """morton_interleave generalizes past 2 dims: the 3-dim key must
    equal the Python bit-model (dim j's bit b at position 3b + j), and
    the SQL twin (morton_interleave_sql) must agree in DuckDB."""
    import duckdb
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.layout import (
        morton_interleave,
        morton_interleave_sql,
    )

    pts = [(1, 2, 3), (0, 0, 0), (255, 1, 128), (65535, 65535, 65535), (7, 1023, 4)]
    df = spark.createDataFrame(pts, ["x", "y", "w"])
    rows = df.select(
        "x", "y", "w",
        morton_interleave([F.col("x"), F.col("y"), F.col("w")], bits=16).alias("z"),
    ).collect()

    def model(x, y, w):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (3 * b)
            z |= ((y >> b) & 1) << (3 * b + 1)
            z |= ((w >> b) & 1) << (3 * b + 2)
        return z

    for r in rows:
        assert r["z"] == model(r["x"], r["y"], r["w"]), tuple(r)

    con = duckdb.connect()
    frag = morton_interleave_sql(["x", "y", "w"], bits=16)
    for x, y, w in pts:
        (zd,) = con.execute(
            f"SELECT {frag} FROM (SELECT {x}::BIGINT x, {y}::BIGINT y, {w}::BIGINT w)"
        ).fetchone()
        assert zd == model(x, y, w), (x, y, w)


def test_exact_order_statistic_model(spark):
    """Refinement selection == sorted-list indexing, on adversarial data:
    duplicates, negatives, a huge outlier (forces wide first range),
    every rank of a small column."""
    import random

    rng = random.Random(8)
    vals = (
        [rng.randint(-500, 500) for _ in range(200)]
        + [7] * 25                       # heavy duplicate run
        + [10**12, -(10**12)]            # range >> 64^4 -> many rounds
    )
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    ordered = sorted(vals)
    from hadoop_20_spark.operators.sort import exact_order_statistic

    for k in [1, 2, len(vals) // 2, len(vals) - 1, len(vals)]:
        v, rounds = exact_order_statistic(df, "c", k)
        assert v == ordered[k - 1], (k, v, ordered[k - 1])
        assert rounds <= 16

    # single-value and k-out-of-range edges
    one = spark.createDataFrame([(42,)], "c long")
    assert exact_order_statistic(one, "c", 1) == (42, 0)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_order_statistic(one, "c", 2)
    with _pytest.raises(ValueError):
        exact_order_statistic(one, "c", 0)


def test_exact_order_statistics_multi_rank(spark):
    """Multi-rank refinement == per-rank answers, including overlapping
    ranges early on and all-equal ranks."""
    import random

    rng = random.Random(21)
    vals = [rng.randint(0, 10**7) for _ in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    ordered = sorted(vals)
    from hadoop_20_spark.operators.sort import exact_order_statistics

    ks = [1, 100, 250, 250, 450, 500]
    got, rounds = exact_order_statistics(df, "c", ks)
    for k in ks:
        assert got[k] == ordered[k - 1], (k, got[k], ordered[k - 1])
    assert rounds <= 16


def test_exact_order_statistic_full_int64_range(spark):
    """Ranges spanning nearly all of int64 must not wrap: the bucket
    offset `col - lo` is computed through DECIMAL(38,0) (raw int64
    subtraction of INT64_MAX - INT64_MIN overflows).  Adversarial
    fixture pins both extremes plus interior values."""
    lo, hi = -(2**63), 2**63 - 1
    vals = [lo, lo + 1, -7, 0, 13, hi - 1, hi]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    from hadoop_20_spark.operators.sort import exact_order_statistics

    ordered = sorted(vals)
    ks = [1, 2, 4, 6, 7]
    got, rounds = exact_order_statistics(df, "c", ks)
    for k in ks:
        assert got[k] == ordered[k - 1], (k, got[k], ordered[k - 1])
    assert rounds <= 16


def test_exact_group_order_statistics_model(spark):
    """Grouped multi-rank selection == per-group sorted indexing, with
    uneven group sizes, duplicates, negatives, and a group whose range
    forces many refinement rounds."""
    import random

    rng = random.Random(99)
    data = []
    for g, n, lo, hi in [
        ("a", 300, -500, 500),
        ("b", 41, 0, 10),            # heavy duplicates
        ("c", 7, -(10**12), 10**12),  # huge range, tiny group
    ]:
        data += [(g, rng.randint(lo, hi)) for _ in range(n)]
    df = spark.createDataFrame(data, "g string, c long")
    by_g = {}
    for g, v in data:
        by_g.setdefault(g, []).append(v)
    ks = {g: [1, (len(vs) + 1) // 2, len(vs)] for g, vs in by_g.items()}
    from hadoop_20_spark.operators.sort import exact_group_order_statistics

    got, rounds = exact_group_order_statistics(df, "g", "c", ks)
    for g, vs in by_g.items():
        ordered = sorted(vs)
        for k in ks[g]:
            assert got[(g, k)] == ordered[k - 1], (g, k)
    assert rounds <= 16

    import pytest as _pytest

    with _pytest.raises(ValueError, match="out of range"):
        exact_group_order_statistics(df, "g", "c", {"a": [301]})
    with _pytest.raises(ValueError, match="absent"):
        exact_group_order_statistics(df, "g", "c", {"zz": [1]})


def test_top_k_per_group_combined_matches_window(spark):
    """Combined (local-reduce + window) grouped top-k must equal the
    plain window form exactly, for several partitionings, including
    groups smaller than k and price ties broken by key."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.sort import (
        top_k_per_group,
        top_k_per_group_combined,
    )

    rows = [
        ("a", i, float(100 - (i % 7))) for i in range(40)
    ] + [("b", 100 + i, 5.0) for i in range(2)]  # group smaller than k, all ties
    for parts in (1, 4, 9):
        df = spark.createDataFrame(
            rows, "g string, k long, price double"
        ).repartition(parts)
        got = sorted(
            tuple(r)
            for r in top_k_per_group_combined(
                df, ["g"], ["price", "k"], [False, True], 3
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in top_k_per_group(
                df, ["g"], [F.col("price").desc(), F.col("k").asc()], 3
            ).collect()
        )
        assert got == want and len(got) == 5


def test_top_k_per_group_combined_keeps_null_group(spark):
    """A NULL group key must survive the combined path exactly as it
    does the window path — pandas groupby drops NaN groups by default,
    which would silently lose every null-keyed row."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.sort import (
        top_k_per_group,
        top_k_per_group_combined,
    )

    rows = [("a", 1, 10.0), (None, 2, 9.0), (None, 3, 8.0), (None, 4, 7.0),
            (None, 5, 6.0), ("a", 6, 5.0)]
    df = spark.createDataFrame(rows, "g string, k long, price double").repartition(3)
    got = sorted(
        (
            tuple(r)
            for r in top_k_per_group_combined(
                df, ["g"], ["price", "k"], [False, True], 3
            ).collect()
        ),
        key=repr,
    )
    want = sorted(
        (
            tuple(r)
            for r in top_k_per_group(
                df, ["g"], [F.col("price").desc(), F.col("k").asc()], 3
            ).collect()
        ),
        key=repr,
    )
    assert got == want
    assert sum(1 for g, *_ in got if g is None) == 3


def test_top_k_per_group_combined_null_sort_values(spark):
    """Nulls in the SORT column must not be dropped or mis-kept by the
    local combiner pass: Spark orders NULLs first ascending / last
    descending, while pandas parks all missing values at one end — the
    kernel's Spark-computed null indicator must reconcile the two for
    BOTH directions."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.sort import (
        top_k_per_group,
        top_k_per_group_combined,
    )

    rows = (
        [("a", i, float(i)) for i in range(1, 6)]
        + [("a", 10 + i, None) for i in range(4)]  # > k nulls in one group
        + [("b", 30, None), ("b", 31, 2.0), ("b", 32, 9.0)]
    )
    df = spark.createDataFrame(rows, "g string, k long, price double")
    for parts in (1, 3, 7):
        d = df.repartition(parts)
        for asc in (True, False):
            got = sorted(
                (
                    tuple(r)
                    for r in top_k_per_group_combined(
                        d, ["g"], ["price", "k"], [asc, True], 3
                    ).collect()
                ),
                key=repr,
            )
            key = F.col("price").asc() if asc else F.col("price").desc()
            want = sorted(
                (
                    tuple(r)
                    for r in top_k_per_group(
                        d, ["g"], [key, F.col("k").asc()], 3
                    ).collect()
                ),
                key=repr,
            )
            assert got == want, (parts, asc)
    # integer sort keys with nulls (Arrow turns these into float64 NaN —
    # placement must still match the window's NULL handling)
    rows2 = [("a", i, v) for i, v in enumerate([3, None, 1, None, 2, None, 4])]
    d2 = spark.createDataFrame(rows2, "g string, k long, v long").repartition(3)
    got2 = sorted(
        (
            tuple(r)
            for r in top_k_per_group_combined(
                d2, ["g"], ["v", "k"], [True, True], 3
            ).collect()
        ),
        key=repr,
    )
    want2 = sorted(
        (
            tuple(r)
            for r in top_k_per_group(
                d2, ["g"], [F.col("v").asc(), F.col("k").asc()], 3
            ).collect()
        ),
        key=repr,
    )
    assert got2 == want2
    assert sum(1 for *_, v, _rn in got2 if v is None) == 3
    # NaN anywhere in a float column is rejected loudly: the Arrow
    # return path would silently convert it to NULL
    import pytest as _pytest

    d3 = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, float("nan"))], "g string, k long, price double"
    )
    with _pytest.raises(Exception, match="NaN"):
        top_k_per_group_combined(d3, ["g"], ["price", "k"], [True, True], 3).collect()
