

def test_winnowing_shared_substring_guarantee(spark):
    """The winnowing guarantee (SIGMOD'03): any shared token run of at
    least k + window - 1 tokens yields at least one shared fingerprint."""
    from hadoop_20_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = k+w-1 (3+4-1)
    df = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"nine eight seven {shared} six"),
            (3, "totally different words with no common run at all here"),
        ],
        ["doc_id", "text"],
    )
    fps = winnowing_fingerprints(df, "doc_id", "text", k=3, window=4)
    d = {}
    for r in fps.collect():
        d.setdefault(r["doc_id"], set()).add(r["fp"])
    assert d[1] & d[2], "docs sharing a 6-token run must share a fingerprint"
    # compression: fewer fingerprints than k-grams
    n_grams = len(df.collect()[0]["text"].split()) - 2
    assert len(d[1]) <= n_grams


def test_winnowing_deterministic_under_repartition(spark, tables):
    from hadoop_20_spark.operators.text import winnowing_fingerprints

    docs = tables["documents"].select("doc_id", "text")
    a = sorted(map(tuple, winnowing_fingerprints(docs, "doc_id", "text").collect()))
    b = sorted(
        map(
            tuple,
            winnowing_fingerprints(docs.repartition(13), "doc_id", "text").collect(),
        )
    )
    assert a == b


def test_label_outliers_deterministic_and_ranked(spark, tables):
    from hadoop_20_spark.operators.similarity import label_centroid_outliers

    emb = tables["embeddings"]
    a = label_centroid_outliers(emb, k=3).collect()
    b = label_centroid_outliers(emb.repartition(17), k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_label = {}
    for r in a:
        by_label.setdefault(r["label"], []).append(r)
    for rows in by_label.values():
        rows.sort(key=lambda r: r["outlier_rank"])
        assert [r["outlier_rank"] for r in rows] == list(range(1, len(rows) + 1))
        # ranks follow ascending centroid cosine (least central first)
        cos = [r["centroid_cos"] for r in rows]
        assert cos == sorted(cos)


def test_cdc_chunks_shift_resistant(spark):
    """Content-defined chunking: inserting tokens at the FRONT of a
    document only changes the chunk containing the edit — every chunk
    after the first content boundary hashes identically (fixed-width
    chunking would shift and re-hash everything)."""
    from hadoop_20_spark.operators.text import cdc_chunks

    base = " ".join(f"tok{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, "inserted words " + base)], ["doc_id", "text"]
    )
    rows = cdc_chunks(df, "doc_id", "text", boundary_bits=3).collect()
    h = {}
    for r in rows:
        h.setdefault(r["doc_id"], set()).add(r["chunk_hash"])
    shared = h[1] & h[2]
    # all base chunks except (at most) the first survive the front edit
    assert len(shared) >= len(h[1]) - 1
    assert len(shared) >= 2  # the fixture yields several chunks


def test_cdc_chunks_cover_document(spark, tables):
    """Chunks tile the document: per-doc token counts sum to the doc's
    token count, and chunk_idx is gapless from 1."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.text import cdc_chunks
    from hadoop_20_spark.functions import tokens

    docs = tables["documents"].select("doc_id", "text").limit(50)
    chunks = cdc_chunks(docs, "doc_id", "text")
    got = {
        r["doc_id"]: (r["nt"], r["nchunks"], r["maxidx"])
        for r in chunks.groupBy("doc_id")
        .agg(
            F.sum("n_tokens").alias("nt"),
            F.count(F.lit(1)).alias("nchunks"),
            F.max("chunk_idx").alias("maxidx"),
        )
        .collect()
    }
    exp = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.size(tokens("text")).alias("n")).collect()
    }
    assert set(got) == set(exp)
    for d, (nt, nchunks, maxidx) in got.items():
        assert nt == exp[d], d
        assert nchunks == maxidx, d


def _bpe_model(corpus_words, n_merges):
    """Plain-Python reference BPE (Sennrich et al. 2016): distinct-word
    freq table, greedy left-to-right list-walk merge."""
    from collections import Counter

    freq = Counter()
    for w in corpus_words:
        freq[tuple(w)] += 1
    merges = []
    for idx in range(1, n_merges + 1):
        pairs = Counter()
        for syms, f in freq.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        # max n, tie-break pair text ascending (l + ' ' + r)
        (l, r), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
        merges.append((idx, f"{l} {r}", l + r, n))
        new_freq = Counter()
        for syms, f in freq.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_freq[tuple(out)] += f
        freq = new_freq
    return merges


def test_bpe_merges_n_matches_python_model(spark, tmp_path):
    """The 5-merge sequence from the Spark framed-replace loop must
    equal the greedy list-walk model — including on adversarial runs of
    identical characters (where a naive space-separated replace picks
    the WRONG positions on odd runs >= 5)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_20_spark.queries import REGISTRY

    texts = [
        "aaaaa bbbbbbb abababab",       # odd/even runs, alternations
        "the cat sat on the mat",
        "aaaaa aaaa aaa aa a",
        "lower lowest low slower slow newest new wider wide",
        "the the the cat cat mat",
    ]
    tbl = pa.table(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "source": ["t"] * len(texts),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = [
        (r["merge_idx"], r["pair"], r["merged"], r["n"])
        for r in REGISTRY["bpe_merges_n"].fn(spark, str(tmp_path)).collect()
    ]
    words = [w for t in texts for w in t.lower().split()]
    assert got == _bpe_model(words, 5)


def test_neardup_split_isolates_planted_near_duplicates(spark, tmp_path):
    """Two documents that are NEAR-duplicates (one token changed — so
    exact-text md5 grouping would NOT catch them) must land in the same
    train/val/test split, and every near-dup cluster must map to
    exactly one split."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_20_spark.queries.text_curation import _neardup_split_assignment
    from hadoop_20_spark.queries import REGISTRY

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain falls softly on the quiet village roofs tonight")
    near = base.replace("softly", "gently")  # 1 of 20 tokens differs
    fillers = [
        f"completely unrelated document number {i} about spark shuffles "
        f"partitions and broadcast joins in distributed engines {i * 17}"
        for i in range(30)
    ]
    texts = [base, near] + fillers
    tbl = pa.table(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "source": ["t"] * len(texts),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    assign = _neardup_split_assignment(spark, str(tmp_path))
    splits = {r["doc_id"]: r["split"] for r in assign.collect()}
    assert splits[0] == splits[1], "planted near-dups straddle splits"

    # the pair is a NEAR dup (different md5), and the cluster oracle
    # really linked them (0 is 1's representative)
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_clusters"].fn(spark, str(tmp_path)).collect()
    }
    assert clusters.get(1) == 0 and clusters.get(0) == 0

    # corpus-wide invariant: one split per cluster
    from pyspark.sql import functions as F

    clu = REGISTRY["dedup_clusters"].fn(spark, str(tmp_path))
    per_cluster = (
        assign.join(clu, "doc_id")
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("k"))
        .collect()
    )
    assert per_cluster and all(r["k"] == 1 for r in per_cluster)


def test_heavy_hitter_sketch_equals_naive_groupby(spark):
    """The two-pass candidate+recount result must be IDENTICAL to the
    naive full groupBy-HAVING at any partitioning (superset property +
    exact recount)."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.functions import tokens
    from hadoop_20_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        (r["w"], r["n_occurrences"])
        for r in REGISTRY["heavy_hitter_tokens"].fn(spark, sf).collect()
    }
    from hadoop_20_spark import load_table

    tok = load_table(spark, "documents", sf).select(
        F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    n = tok.count()
    naive = {
        (r["w"], r["n"])
        for r in tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") * 50 > n)
        .collect()
    }
    assert got == naive and len(got) > 0


def test_normalize_text_planted_unicode(spark):
    """NFC composes combining sequences, control/zero-width chars are
    stripped, whitespace collapses, mojibake lead bytes are counted on
    the ORIGINAL text — cross-checked against a Python unicodedata
    model of the same pipeline."""
    import re
    import unicodedata

    from hadoop_20_spark.operators.text import normalize_text

    cases = [
        (1, "café society"),          # decomposed é → composed
        (2, "tab\x07bell\x00 and​zw"),  # control + zero-width
        (3, "   spaced\t\tout\n\nlines  "),  # whitespace collapse+trim
        (4, "mojibake Ã© and Â« here"),      # 2 lead-byte hits
        (5, "plain ascii stays put"),
    ]
    df = spark.createDataFrame(cases, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in normalize_text(df, "text").collect()}

    def model(s: str) -> str:
        s = unicodedata.normalize("NFC", s)
        s = re.sub(
            "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f​-‍﻿]", "", s
        )
        return re.sub(r"\s+", " ", s).strip()

    for doc_id, text in cases:
        assert out[doc_id]["text_norm"] == model(text), doc_id
    assert out[1]["text_norm"] == "café society"
    assert len(out[1]["text_norm"]) == len("café society")  # composed
    assert out[2]["text_norm"] == "tabbell andzw"
    assert out[3]["text_norm"] == "spaced out lines"
    assert [out[i]["mojibake_hits"] for i in (1, 2, 3, 4, 5)] == [0, 0, 0, 2, 0]


def test_normalize_then_dedup_catches_unicode_twins(spark):
    """The chain-order rationale: the same text under two unicode
    spellings dedups ONLY after normalization."""
    from hadoop_20_spark.operators import dedup
    from hadoop_20_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [(1, "café menu"), (2, "café menu")], ["doc_id", "text"]
    )
    raw = dedup.exact_dedup(df, "doc_id", "text")
    assert raw.count() == 2  # unnormalized: two "distinct" docs
    normed = dedup.exact_dedup(
        normalize_text(df, "text"), "doc_id", "text_norm"
    )
    assert normed.count() == 1  # normalized: one


def test_phrase_match_planted_and_overlapping(spark):
    """Positional phrase retrieval: finds planted phrases (including
    overlapping occurrences and phrase-at-end), rejects docs with the
    terms present but not adjacent, and repeated-term phrases work."""
    from hadoop_20_spark.operators.invindex import (
        inverted_postings,
        phrase_match,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d"),          # one occurrence of 'b c'
            (2, "b c b c b"),        # two occurrences of 'b c'
            (3, "c b a"),            # terms present, wrong order
            (4, "x y b c"),          # phrase at end
            (5, "b b b"),            # repeated-term phrase 'b b' x2
        ],
        ["doc_id", "text"],
    )
    p = inverted_postings(df, "doc_id", "text")
    bc = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match(p, ["b", "c"]).collect()
    }
    assert bc == {1: 1, 2: 2, 4: 1}
    bb = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match(p, ["b", "b"]).collect()
    }
    assert bb == {5: 2}  # overlapping occurrences both count


def test_bm25_ranking_sanity(spark):
    """BM25 invariants on a tiny planted corpus: a doc matching all
    query terms outranks a doc matching one; higher tf (same length)
    ranks higher; scores are positive and non-increasing."""
    from hadoop_20_spark.queries import REGISTRY

    rows = REGISTRY["bm25_topk"].fn(spark, "/root/testdata/sf0.001").collect()
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    assert len(rows) == len({r["doc_id"] for r in rows})


def test_merge_postings_equals_rebuild(spark):
    """merge_postings must be ROW-IDENTICAL to a from-scratch rebuild
    over the effective corpus — including doc-level replacement: a
    re-indexed doc whose revision DROPPED a term must not keep that
    term's stale base posting (the bug a per-(term,doc) upsert would
    have)."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.operators.invindex import (
        inverted_postings,
        merge_postings,
    )

    rows = [
        (1, "a b c a"),
        (2, "b c d"),
        (3, "e f"),
        (4, "a e"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    base = inverted_postings(docs, "doc_id", "text")
    # revision of docs 2 and 4: doc 2 drops 'd' entirely, doc 4 adds 'z'
    upd_rows = [(2, "b c c"), (4, "a e z")]
    upd = spark.createDataFrame(upd_rows, ["doc_id", "text"])
    delta = inverted_postings(upd, "doc_id", "text")
    merged = merge_postings(base, delta, "doc_id")

    eff = spark.createDataFrame(
        [r for r in rows if r[0] not in (2, 4)] + upd_rows, ["doc_id", "text"]
    )
    rebuilt = inverted_postings(eff, "doc_id", "text")
    assert merged.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(merged).count() == 0
    # the stale-posting trap, explicitly
    assert (
        merged.where((F.col("term") == "d") & (F.col("doc_id") == 2)).count() == 0
    )


def test_interval_coalesce_nested_and_chained(spark, monkeypatch, tmp_path):
    """The running-max island rule must merge an interval that overlaps
    an interval BEFORE its immediate predecessor (nested case lag(e)
    gets wrong): [0,100], [10,20], [90,150] is ONE island of 150s."""
    import pandas as pd

    from hadoop_20_spark.queries.events import interval_coalesce

    rows = pd.DataFrame({
        "user_id": [1, 1, 1, 2],
        "ts": pd.to_datetime([0, 10_000_000, 90_000_000, 10**9], unit="us", utc=True),
        "event_id": [1, 2, 3, 4],
    })
    # stage a one-off events.parquet whose 5-min windows produce:
    # user 1: [0,300],[10,310],[90,390] -> one island, 390 s
    # user 2: [1000,1300] -> one island, 300 s
    p = tmp_path / "events.parquet"
    rows.to_parquet(p)
    out = {r["n_users"]: r for r in interval_coalesce(spark, str(tmp_path)).collect()}
    r = out[2]
    assert r["total_intervals"] == 2
    assert r["total_covered_s"] == 390 + 300
