"""Property-based tests (hypothesis) — the reference's randomized-testing
discipline (SURVEY §5: TestSequenceFile random k/v, RandomWriter feeding
sort/wordcount validators) applied to our operator algebra.

Data is generated driver-side (small frames), pushed through real Spark
plans, and checked against an independent Python model.  Examples are
capped so the whole module stays a few seconds per property."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hadoop_20_spark.operators import joins, rowops
from hadoop_20_spark.operators.dedup import exact_dedup

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=9)
vals = st.integers(min_value=-100, max_value=100)
kv_rows = st.lists(st.tuples(keys, vals), min_size=0, max_size=30)


@given(left=kv_rows, right=kv_rows)
@settings(**SETTINGS)
def test_inner_join_subset_of_full_outer(spark, left, right):
    ldf = spark.createDataFrame(left or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    )
    rdf = spark.createDataFrame(right or [(None, None)], "k int, w int").filter(
        F.col("k").isNotNull()
    )
    inner = {tuple(r) for r in ldf.join(rdf, "k", "inner").collect()}
    outer = {tuple(r) for r in ldf.join(rdf, "k", "full").collect()}
    assert inner <= outer


@given(a=kv_rows, b=kv_rows, c=kv_rows)
@settings(**SETTINGS)
def test_override_join_is_rightmost_coalesce(spark, a, b, c):
    """override_join(t1..tn) == per key, the value from the RIGHTMOST
    table containing the key (OverrideRecordReader#emit semantics) —
    modeled independently with dict.update order."""
    frames, model = [], {}
    for rows in (a, b, c):
        dedup_rows = {}
        for k, v in rows:  # one row per key per source (reference contract)
            dedup_rows[k] = v
        frames.append(
            spark.createDataFrame(
                list(dedup_rows.items()) or [(None, None)], "k int, v int"
            ).filter(F.col("k").isNotNull())
        )
        model.update(dedup_rows)
    got = {
        (r.k, r.v)
        for r in joins.override_join(frames, on="k").collect()
    }
    assert got == set(model.items())


@given(rows=st.lists(st.text(alphabet="ab ", min_size=0, max_size=20), max_size=20))
@settings(**SETTINGS)
def test_exact_dedup_conserves_rows(spark, rows):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)] or [(0, "x")], "id long, txt string"
    )
    out = exact_dedup(df, "id", "txt").collect()
    # conservation: copies sum to input rows; keepers are distinct contents
    assert sum(r.n_copies for r in out) == df.count()
    assert len(out) == df.select("txt").distinct().count()
    # keeper is the MIN id of its content group
    by_content = {}
    for i, t in enumerate(rows or ["x"]):
        by_content.setdefault(t, []).append(i)
    assert {r.keeper_id for r in out} == {min(v) for v in by_content.values()}


@given(
    line=st.text(alphabet="abc-|", min_size=0, max_size=24),
    nfields=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS)
def test_field_selection_matches_cut_model(spark, line, nfields):
    """field_selection("0-<n>") == Python split-and-slice (the cut(1)
    contract of FieldSelectionMapReduce)."""
    df = spark.createDataFrame([(line,)], "line string")
    out = rowops.field_selection(df, "line", f"0-{nfields}", separator="|").collect()[0][0]
    expected = "|".join(line.split("|")[0 : nfields + 1])
    assert out == expected


@given(rows=st.lists(st.integers(min_value=-1000, max_value=1000), max_size=40))
@settings(**SETTINGS)
def test_global_sort_is_ordered_and_conserving(spark, rows):
    """SortValidator's two invariants (order + count/checksum
    conservation through the shuffle) on random inputs."""
    df = spark.createDataFrame([(v,) for v in rows] or [(0,)], "v int")
    out = [r.v for r in df.orderBy("v").collect()]
    assert out == sorted([r[0] for r in (rows and [(v,) for v in rows] or [(0,)])])
    assert sum(out) == sum(v for v, in (rows and [(v,) for v in rows] or [(0,)]))


ts_vals = st.integers(min_value=0, max_value=20)


@given(
    left=st.lists(st.tuples(keys, ts_vals), max_size=15),
    right=st.lists(st.tuples(keys, ts_vals, vals), max_size=15),
)
@settings(**SETTINGS)
def test_asof_join_matches_naive_model(spark, left, right):
    """as_of_join (union+window linear form) == the naive model: for each
    left row, the right row with the same key, max ts <= left ts; ties on
    ts broken by greatest payload (the operator's documented rule)."""
    ldf = spark.createDataFrame(
        [(k, t) for k, t in left] or [(None, None)], "k int, lts int"
    ).filter(F.col("k").isNotNull())
    rdf = spark.createDataFrame(
        [(k, t, v) for k, t, v in right] or [(None, None, None)],
        "k int, rts int, payload int",
    ).filter(F.col("k").isNotNull())
    got = {
        (r.k, r.lts, r.payload)
        for r in joins.as_of_join(ldf, rdf, "k", "lts", "rts").collect()
    }
    expected = set()
    for k, lt in left:
        cands = [(rt, v) for rk, rt, v in right if rk == k and rt <= lt]
        if cands:
            best_ts = max(rt for rt, _ in cands)
            best = max(v for rt, v in cands if rt == best_ts)
            expected.add((k, lt, best))
        else:
            expected.add((k, lt, None))
    assert got == expected


@given(
    left=st.lists(st.tuples(keys, vals), max_size=15),
    right=st.lists(st.tuples(keys, vals, vals), max_size=15),
)
@settings(**SETTINGS)
def test_range_join_matches_cross_filter_model(spark, left, right):
    ldf = spark.createDataFrame(
        [(k, p) for k, p in left] or [(None, None)], "k int, p int"
    ).filter(F.col("k").isNotNull())
    rdf = spark.createDataFrame(
        [(k, lo, hi) for k, lo, hi in right] or [(None, None, None)],
        "k int, lo int, hi int",
    ).filter(F.col("k").isNotNull())
    got = {
        (r.k, r.p, r.lo, r.hi)
        for r in joins.range_join(
            ldf, rdf, "k", (F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi"))
        ).collect()
    }
    expected = {
        (k, p, lo, hi)
        for k, p in left
        for rk, lo, hi in right
        if rk == k and lo <= p < hi
    }
    assert got == expected


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1, max_size=8
    ),
    n=st.integers(min_value=1, max_value=4),
)
def test_ngrams_let_binding_matches_python_model(spark, texts, n):
    """functions.ngrams (let-bound sliding window) must equal the plain
    Python n-gram model on arbitrary whitespace text — guards the
    let()/lambda-variable rewrite against off-by-ones at the edges
    (empty docs, docs shorter than n, repeated separators)."""
    from hadoop_20_spark.functions import ngrams

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    got = {
        r["id"]: r["ng"]
        for r in df.select("id", ngrams("t", n).alias("ng")).collect()
    }

    def model(text: str) -> list[str]:
        toks = [w for w in text.split() if w]
        upper = max(len(toks) - n, 0)
        return [" ".join(toks[i : i + n]) for i in range(upper + 1)]

    for i, t in enumerate(texts):
        assert got[i] == model(t), (t, n)


rgb = st.tuples(
    st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
)


@given(data=st.data())
@settings(**SETTINGS)
def test_png_unfilter_matches_ppm_model(data):
    """Random pixel grids encoded with RANDOM per-scanline PNG filters
    (None/Sub/Up/Average/Paeth) and optional alpha must decode to
    exactly the features of the equivalent uncompressed PPM — the
    unfiltering algebra, fuzzed."""
    from hadoop_20_spark.operators import multimodal
    from tests.test_sources_pipe_multimodal import _make_png, _make_ppm

    w = data.draw(st.integers(1, 8))
    h = data.draw(st.integers(1, 6))
    rows = [[data.draw(rgb) for _ in range(w)] for _ in range(h)]
    filters = [data.draw(st.integers(0, 4)) for _ in range(h)]
    alpha = data.draw(st.one_of(st.none(), st.integers(0, 255)))
    got = multimodal._decode_bytes(
        _make_png(w, h, rows, filters=filters, alpha=alpha), fake=False
    )
    want = multimodal._decode_bytes(_make_ppm(w, h, rows), fake=False)
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ex_texts=st.lists(
        st.text(alphabet="abc de", min_size=1, max_size=30), min_size=1, max_size=6
    ),
    ba_texts=st.lists(
        st.text(alphabet="cde fg", min_size=1, max_size=30), min_size=1, max_size=6
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_incremental_jaccard_matches_python_model(spark, ex_texts, ba_texts, threshold):
    """Two-relation prefix-filtered Jaccard vs a brute-force Python
    model on random corpora — partially-disjoint alphabets force the
    batch-only-shingle path (corpus frequency 0, rarest rank), the
    part the fixture's shared vocabulary barely exercises."""
    from hadoop_20_spark.operators import dedup

    ex = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ex_texts)], "doc_id long, text string"
    )
    ba = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(ba_texts)], "doc_id long, text string"
    )
    got = {
        (r["batch_id"], r["existing_id"])
        for r in dedup.incremental_jaccard_pairs(
            ex, ba, "doc_id", "text", threshold=threshold
        ).collect()
    }
    expected = set()
    ex_sets = {i: {w for w in t.split() if w} for i, t in enumerate(ex_texts)}
    ba_sets = {1000 + i: {w for w in t.split() if w} for i, t in enumerate(ba_texts)}
    for b, bs in ba_sets.items():
        for e, es in ex_sets.items():
            union = bs | es
            if union and len(bs & es) / len(union) >= threshold:
                expected.add((b, e))
    assert got == expected


# --- containment join (directed) --------------------------------------------

_doc_text = st.lists(
    st.sampled_from([f"t{i}" for i in range(8)]), min_size=2, max_size=12
).map(" ".join)


@given(texts=st.lists(_doc_text, min_size=2, max_size=10))
@settings(**SETTINGS)
def test_containment_pairs_match_model(spark, texts):
    """Prefix-filtered containment == brute-force model on ANY corpus
    (the lossless-prefix theorem, fuzzed)."""
    from itertools import permutations

    from hadoop_20_spark.operators.dedup import containment_pairs

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            df, "doc_id", "text", threshold_num=3, threshold_den=4, shingle=2
        ).collect()
    }

    def sh(text, n=2):
        toks = text.split()
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh(t) for i, t in docs}
    expect = {}
    for a, b in permutations(sets, 2):
        inter = len(sets[a] & sets[b])
        if 4 * inter >= 3 * len(sets[a]):
            expect[(a, b)] = round(inter / len(sets[a]), 6)
    assert got == expect


# --- count-min sketch --------------------------------------------------------

@given(
    tokens=st.lists(
        st.sampled_from([f"w{i}" for i in range(30)]), min_size=1, max_size=120
    )
)
@settings(**SETTINGS)
def test_cms_estimate_never_undercounts(spark, tokens):
    """CMS one-sided error on arbitrary token streams: for EVERY token,
    min-over-rows of its bucket sums >= its true count (with equality
    unless it collides in all D rows)."""
    from hadoop_20_spark.functions import md5_long

    D, W = 4, 16  # tiny W forces collisions
    df = spark.createDataFrame([(t,) for t in tokens], ["w"])
    rows = F.array(*[F.lit(r) for r in range(D)])
    bucket = (
        md5_long(F.concat(F.col("w"), F.lit("#"), F.col("r").cast("string"))) % W
    ).alias("bucket")
    sketch = (
        df.select("w", F.explode(rows).alias("r"))
        .select("r", bucket)
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("sc"))
    )
    cnt = df.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    est = {
        r["w"]: (r["est"], r["c"])
        for r in cnt.select("w", "c", F.explode(rows).alias("r"))
        .select("w", "c", "r", bucket)
        .join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("w", "c")
        .agg(F.min("sc").alias("est"))
        .collect()
    }
    import collections

    true = collections.Counter(tokens)
    assert set(est) == set(true)
    for w, (e, c) in est.items():
        assert c == true[w]
        assert e >= c, (w, e, c)


# --- sweep-line concurrency ---------------------------------------------------

_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),    # user_id
        st.integers(min_value=0, max_value=2),    # day offset
        st.integers(min_value=0, max_value=86399),  # second of day
    ),
    min_size=1,
    max_size=40,
)


@given(evs=_events)
@settings(**SETTINGS)
def test_peak_concurrency_sweep_matches_model(spark, evs):
    """Day-partitioned sweep == plain-Python interval overlap count on
    arbitrary event sets (ties, single-event spans, multi-day users)."""
    import datetime as dt
    import os
    import tempfile

    from hadoop_20_spark.queries import REGISTRY

    base = dt.datetime(2024, 5, 1)
    rows = [
        (
            i,
            base + dt.timedelta(days=d, seconds=sec),
            uid,
            "view",
            0.0,
            "{}",
        )
        for i, (uid, d, sec) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    tmp = tempfile.mkdtemp(prefix="sweep_prop_")
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    got = {
        str(r["day"]): (r["n_sessions"], r["peak_concurrent"])
        for r in REGISTRY["peak_concurrency_daily"].fn(spark, tmp).collect()
    }
    spans: dict = {}
    for _i, ts, uid, *_ in rows:
        key = (ts.date(), uid)
        s, e = spans.get(key, (ts, ts))
        spans[key] = (min(s, ts), max(e, ts))
    by_day: dict = {}
    for (day, _uid), (s, e) in spans.items():
        by_day.setdefault(day, []).append((s, e))
    expect = {}
    for day, items in by_day.items():
        pts = [(s, 0) for s, _ in items] + [(e, 1) for _, e in items]
        pts.sort()  # starts (0) before ends (1) at equal instants
        cur = peak = 0
        for _, kind in pts:
            cur += 1 if kind == 0 else -1
            peak = max(peak, cur)
        expect[str(day)] = (len(items), peak)
    assert got == expect


words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
docs_texts = st.lists(
    st.lists(words, min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=docs_texts, w=st.sampled_from([2, 3]))
@settings(**SETTINGS)
def test_paragraph_dedup_matches_python_model(spark, texts, w):
    """Block-mode paragraph dedup vs an independent Python model:
    segment into W-word blocks, keep the global first (doc, pos)
    occurrence of each normalized block, rebuild each doc."""
    from hadoop_20_spark.operators.dedup import paragraph_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    out = {
        r[0]: r
        for r in paragraph_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "doc_id",
            "text",
            block_words=w,
        )
        .select("doc_id", "n_paras", "n_paras_removed", "text_dedup")
        .collect()
    }

    seen: set[str] = set()
    for doc_id, text in rows:
        toks = text.split(" ")
        paras = [
            " ".join(toks[i * w : (i + 1) * w])
            for i in range((len(toks) + w - 1) // w)
        ]
        kept = []
        removed = 0
        for p in paras:
            key = " ".join(p.lower().strip().split())
            if key in seen:
                removed += 1
            else:
                seen.add(key)
                kept.append(p)
        r = out[doc_id]
        assert r["n_paras"] == len(paras), (doc_id, paras)
        assert r["n_paras_removed"] == removed, (doc_id, paras)
        assert r["text_dedup"] == " ".join(kept), (doc_id, paras)


# Alphabet exercising every normalization path: ASCII, combining accents
# (NFC composition), control chars, zero-width chars, mojibake lead
# bytes, and ASCII whitespace.  Unicode-exotic WHITESPACE is excluded on
# purpose: Java/RE2 \s is the ASCII class (both engines agree), so the
# Python model below pins re.ASCII to match the engine contract.
_norm_alphabet = st.sampled_from(
    list("abc XY.,!") + ["é", "́", "\x07", "\x00", "​",
                         "﻿", "Ã", "Â", "é", "\t", "\n"]
)
_norm_texts = st.lists(
    st.lists(_norm_alphabet, min_size=0, max_size=20).map("".join),
    min_size=1,
    max_size=6,
)


@given(texts=_norm_texts)
@settings(**SETTINGS)
def test_normalize_text_matches_unicodedata_model(spark, texts):
    """normalize_text vs an independent Python model: NFC composition,
    ASCII control/zero-width strip, ASCII-class whitespace collapse,
    and mojibake lead-byte counting all agree on randomized text."""
    import re
    import unicodedata

    from hadoop_20_spark.operators.text import normalize_text

    rows = [(i, t) for i, t in enumerate(texts)]
    out = {
        r["doc_id"]: r
        for r in normalize_text(
            spark.createDataFrame(rows, "doc_id long, text string"), "text"
        ).collect()
    }

    ctrl = re.compile(
        "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f​-‍﻿]"
    )
    for doc_id, t in rows:
        expect = unicodedata.normalize("NFC", t)
        expect = ctrl.sub("", expect)
        expect = re.sub(r"\s+", " ", expect, flags=re.ASCII).strip()
        assert out[doc_id]["text_norm"] == expect, repr(t)
        assert out[doc_id]["mojibake_hits"] == t.count("Ã") + t.count("Â"), repr(t)


# round-8 operators: exact-substring spans + postings delta merge -----------

doc_words = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=20
)
doc_sets = st.lists(doc_words, min_size=1, max_size=6)


def _span_model(docs: list[tuple[int, str]], w: int) -> dict:
    """Independent Python model of duplicate_spans: windowed
    fingerprints, global keep-first by (doc, pos), equal-length-interval
    island merge."""
    occ: dict[str, list[tuple[int, int]]] = {}
    toks = {i: t.split() if t else [] for i, t in docs}
    for i, t in toks.items():
        for p in range(1, len(t) - w + 2):
            occ.setdefault(" ".join(t[p - 1 : p - 1 + w]), []).append((i, p))
    dup_starts: dict[int, list[int]] = {}
    for sites in occ.values():
        if len(sites) > 1:
            first = min(sites)
            for s in sites:
                if s != first:
                    dup_starts.setdefault(s[0], []).append(s[1])
    spans = {}
    for i, starts in dup_starts.items():
        starts.sort()
        merged = []
        for p in starts:
            if merged and p - merged[-1][1] < w:
                merged[-1][1] = p
            else:
                merged.append([p, p])
        spans[i] = sorted((a, b - a + w) for a, b in merged)
    return spans


@given(docs=doc_sets)
@settings(**SETTINGS)
def test_duplicate_spans_matches_model(spark, docs):
    """Random tiny corpora (incl. empty docs, docs shorter than W,
    all-same-token degenerates): the Spark spans must equal the
    independent Python model exactly."""
    from hadoop_20_spark.operators.dedup import duplicate_spans

    W = 3
    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got: dict[int, list] = {}
    for r in duplicate_spans(df, "doc_id", "text", window_tokens=W).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_toks"]))
    got = {k: sorted(v) for k, v in got.items()}
    exp = _span_model([(i, " ".join(t)) for i, t in enumerate(docs)], W)
    assert got == exp, (got, exp, rows)


@given(docs=doc_sets, upd_mask=st.lists(st.booleans(), min_size=6, max_size=6))
@settings(**SETTINGS)
def test_merge_postings_matches_rebuild_random(spark, docs, upd_mask):
    """Random corpora + random re-index subsets (with changed text):
    merge_postings(base, delta) row-equals a from-scratch rebuild over
    the effective corpus — including delta docs that DROP all tokens."""
    from hadoop_20_spark.operators.invindex import (
        inverted_postings,
        merge_postings,
    )

    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    updated = [
        (i, " ".join(reversed(t)) + (" zz" if i % 2 == 0 else ""))
        for i, t in enumerate(docs)
        if upd_mask[i % len(upd_mask)]
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    base = inverted_postings(df, "doc_id", "text")
    if not updated:
        return
    delta = inverted_postings(
        spark.createDataFrame(updated, "doc_id int, text string"),
        "doc_id",
        "text",
    )
    merged = merge_postings(base, delta, "doc_id")
    upd_ids = {i for i, _ in updated}
    eff = [(i, t) for i, t in rows if i not in upd_ids] + updated
    rebuilt = inverted_postings(
        spark.createDataFrame(eff, "doc_id int, text string"), "doc_id", "text"
    )
    key = lambda r: (r["term"], r["doc_id"], tuple(r["positions"]), r["tf"])
    assert sorted(map(key, merged.collect())) == sorted(
        map(key, rebuilt.collect())
    )


@settings(**SETTINGS)
@given(
    iv=st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 800)),
        min_size=0,
        max_size=25,
    ),
    width=st.sampled_from([30, 60, 240, 3600]),
)
def test_interval_overlap_join_equals_brute_force(spark, iv, width):
    """Grid-decomposed overlap join == brute force for ANY interval set
    and grid width (coarser and finer than the intervals): same pairs,
    each exactly once."""
    import itertools

    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.joins import interval_overlap_join

    ivs = [(s, s + d) for s, d in iv]
    if not ivs:
        return
    df = spark.createDataFrame(
        [(i, s, e) for i, (s, e) in enumerate(ivs)], "id long, st long, en long"
    ).select(
        "id",
        F.col("st").cast("timestamp").alias("st"),
        F.col("en").cast("timestamp").alias("en"),
    )
    out = interval_overlap_join(df, df, bucket_seconds=width).filter(
        "l_id < r_id"
    )
    got = sorted((r["l_id"], r["r_id"]) for r in out.collect())
    model = sorted(
        (a, b)
        for (a, (s1, e1)), (b, (s2, e2)) in itertools.combinations(
            enumerate(ivs), 2
        )
        if s1 <= e2 and s2 <= e1
    )
    assert got == model, (got, model, width)
    assert len(got) == len(set(got))  # exactly-once attribution


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.integers(-(10**9), 10**9), min_size=1, max_size=120
    ),
    width=st.sampled_from([4, 64, 256]),
)
def test_exact_order_statistics_equals_sorted_index(spark, vals, width):
    """Range-refinement selection == sorted-list indexing for ANY int64
    data (duplicates, negatives, huge ranges) and ANY bucket width,
    probing first/last/middle ranks together."""
    from hadoop_20_spark.operators.sort import exact_order_statistics

    df = spark.createDataFrame([(v,) for v in vals], "c long")
    ordered = sorted(vals)
    n = len(vals)
    ks = sorted({1, n, (n + 1) // 2, max(1, (9 * n + 9) // 10)})
    got, rounds = exact_order_statistics(df, "c", ks, width=width)
    for k in ks:
        assert got[k] == ordered[k - 1], (k, got[k], ordered[k - 1], width)
    assert rounds <= 16


triples = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=8),
    ),
    min_size=1,
    max_size=25,
)


@given(rows=triples, parts=st.sampled_from([1, 3, 7]))
@settings(**SETTINGS)
def test_pareto_skyline_matches_brute_force(spark, rows, parts):
    """Two-pass distributed skyline == brute-force dominance filter, for
    any mix of maximize/minimize dims, any partitioning, with ties
    (duplicate vectors must BOTH survive)."""
    from hadoop_20_spark.operators.skyline import pareto_skyline

    df = spark.createDataFrame(
        rows, "x long, y long, z long"
    ).repartition(parts)
    got = sorted(
        tuple(r)
        for r in pareto_skyline(df, maximize=["x", "y"], minimize=["z"]).collect()
    )

    def dominated(a):
        return any(
            b[0] >= a[0] and b[1] >= a[1] and b[2] <= a[2]
            and (b[0] > a[0] or b[1] > a[1] or b[2] < a[2])
            for b in rows
        )

    want = sorted(t for t in rows if not dominated(t))
    assert got == want


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=1,
    max_size=25,
)


@given(edges=edge_lists)
@settings(**SETTINGS)
def test_star_cc_matches_union_find(spark, edges):
    """Star-contraction components == an independent union-find model,
    for arbitrary small graphs (self-loops dropped, parallel edges,
    arbitrary shapes — not just the chain fixtures)."""
    from hadoop_20_spark.operators.graph import connected_components_star

    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return
    df = spark.createDataFrame(real, "src long, dst long")
    labels, _ = connected_components_star(df)
    got = {r["id"]: r["component"] for r in labels.collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for a, b in real:
        for n in (a, b):
            want[n] = find(n)
    assert got == want


def test_pareto_skyline_rejects_float_objectives(spark):
    """Float objectives would be silently truncated by the int64 kernel
    — must fail loud with the pre-scale instruction."""
    import pytest

    from hadoop_20_spark.operators.skyline import pareto_skyline

    df = spark.createDataFrame([(1, 1.5)], "a long, b double")
    with pytest.raises(TypeError, match="integer-typed"):
        pareto_skyline(df, maximize=["a", "b"])
    with pytest.raises(ValueError, match="no such column"):
        pareto_skyline(df, maximize=["a", "zzz"])
