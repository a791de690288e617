"""Round-13 pins: straggler-audit overflow guard, containment_topk
cache hygiene, plan-smell sweep wiring."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hadoop_20_spark.queries import REGISTRY


def test_straggler_audit_raises_before_decimal_overflow(spark, tmp_path):
    """Past n_tasks * max_rate_ppm >= 1e19 Spark's non-ANSI DECIMAL(38,0)
    products return NULL and the LATE filter silently DROPS tasks, while
    the DuckDB oracle's HUGEINT raises — the one divergence the gate
    can't see (ADVICE r12).  The per-job envelope check must turn the
    silent drop into a designed raise BEFORE the predicate overflows."""
    q = REGISTRY["speculative_straggler_audit"].fn
    base = 1_700_000_000_000_000  # µs epoch

    def write_events(n_users: int) -> str:
        # each user: 2 events 1 µs apart -> rate = 2*3.6e15 ppm/h
        rows = []
        for u in range(n_users):
            rows.append(("jobA", u, base))
            rows.append(("jobA", u, base + 1))
        sf = str(tmp_path / f"sf_{n_users}")
        os.makedirs(sf, exist_ok=True)
        (
            spark.createDataFrame(rows, "event_type string, user_id long, ts long")
            .withColumn("ts", F.timestamp_micros("ts"))
            .write.mode("overwrite")
            .parquet(os.path.join(sf, "events.parquet"))
        )
        return sf

    # under the envelope: runs clean (identical rates -> variance 0 ->
    # nothing speculatable, and crucially NO raise)
    assert q(spark, write_events(100)).count() == 0
    # over it: 1400 * 7.2e15 = 1.008e19 >= 1e19 -> designed raise, not
    # a silent NULL-drop
    with pytest.raises(Exception, match="overflow to NULL"):
        q(spark, write_events(1400)).count()


def test_containment_topk_releases_postings_cache(spark, tables):
    """containment_topk persists the fat shingle-postings relation while
    it works; it must NOT leak it for the session lifetime (ADVICE r12:
    every bench/probe invocation stacked cached blocks).  After the call
    returns, at most the one small (<= n*k rows) result cache remains."""
    from hadoop_20_spark.operators import dedup

    docs = tables["documents"].select("doc_id", "text").limit(300)
    jsc = spark.sparkContext._jsc.sc()

    def n_cached() -> int:
        # materialized cached relations only (storage blocks present)
        return len(jsc.getRDDStorageInfo())

    docs.count()  # materialize the fixture's own table cache first
    start = n_cached()
    out1 = dedup.containment_topk(docs, "doc_id", "text", k=2)
    assert out1.count() >= 0
    after1 = n_cached()
    assert after1 <= start + 1, "postings cache leaked past the call"
    # second invocation releases the first result's cache
    dedup.containment_topk(docs, "doc_id", "text", k=2).count()
    assert n_cached() <= start + 1, "result caches accumulate across calls"


def _clustered_corpus(spark, n_clusters=300, per_cluster=6, dim=12):
    """Well-separated synthetic clusters: cluster j's members are the
    j-th basis-ish direction plus tiny deterministic jitter, so the
    nearest centroid is unambiguous and flat-vs-two-level agreement
    must be EXACT (no boundary ties for the probe to miss)."""
    rows = []
    for j in range(n_clusters):
        for m in range(per_cluster):
            base = [0.05] * dim
            base[j % dim] = 10.0 + (j // dim) * 3.0
            base[(j + 5) % dim] += (j % 7) * 1.3
            base[(j + 2) % dim] += 0.001 * m  # jitter within the cluster
            rows.append((j * per_cluster + m, base))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_two_level_assignment_matches_flat_on_separated_clusters(spark):
    """The OPT-IN two-level path is approximate-by-design (and measured
    at 0.438 agreement on structureless corpora — why it is opt-in),
    but on well-separated clusters the coarse probe cannot miss the
    true cell, so it must reproduce the flat argmax EXACTLY — and be
    deterministic run-over-run."""
    from hadoop_20_spark.operators import similarity as sim

    df = _clustered_corpus(spark)
    k = 300
    assert k >= sim.ASSIGN_GEMM_MIN_K
    cents = sim.kmeans_centroids(df, k=k, iterations=1)
    flat = (
        sim.assign_cells(df, cents, "_id", "_vec")
        .select("_id", "cell").toPandas().set_index("_id")["cell"].sort_index()
    )
    two = (
        sim.assign_cells(
            df, cents, "_id", "_vec", n_centroids=k, strategy="two_level"
        )
        .select("_id", "cell").toPandas().set_index("_id")["cell"].sort_index()
    )
    again = (
        sim.assign_cells(
            df, cents, "_id", "_vec", n_centroids=k, strategy="two_level"
        )
        .select("_id", "cell").toPandas().set_index("_id")["cell"].sort_index()
    )
    assert len(two) == len(flat)
    assert (two == flat).all(), "two-level missed the unambiguous argmax"
    assert (two == again).all(), "two-level assignment is nondeterministic"


def test_gemm_assignment_matches_flat_exactly(spark):
    """The DEFAULT big-k strategy (auto past ASSIGN_GEMM_MIN_K) is the
    flat argmax as a numpy GEMM — same 4dp HALF-UP rounding, same
    cent_id tie-break — so on ANY corpus (structureless gaussian
    included, the two-level worst case) it must match the JVM flat
    path exactly, for nprobe=1 and as a probe SET for nprobe=3."""
    import numpy as np

    from hadoop_20_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    n, dim, k = 2000, 16, 300
    vecs = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = sim.kmeans_centroids(df, k=k, iterations=1)
    flat = (
        sim.assign_cells(df, cents, "_id", "_vec")
        .select("_id", "cell").toPandas().set_index("_id")["cell"].sort_index()
    )
    gemm = (
        sim.assign_cells(df, cents, "_id", "_vec", n_centroids=k)
        .select("_id", "cell").toPandas().set_index("_id")["cell"].sort_index()
    )
    assert len(gemm) == len(flat) == n
    assert (gemm == flat).all(), "GEMM diverged from the flat argmax"
    f3 = (
        sim.assign_cells(df, cents, "_id", "_vec", nprobe=3)
        .select("_id", "cell").toPandas()
        .groupby("_id")["cell"].apply(frozenset).sort_index()
    )
    g3 = (
        sim.assign_cells(df, cents, "_id", "_vec", nprobe=3, n_centroids=k)
        .select("_id", "cell").toPandas()
        .groupby("_id")["cell"].apply(frozenset).sort_index()
    )
    assert (f3 == g3).all(), "GEMM nprobe>1 probe set diverged"


def test_assignment_flat_below_swap_point(spark, tables):
    """Below TWO_LEVEL_ASSIGN_MIN_K a known n_centroids must NOT change
    the plan or the result — gate-scale oracles spell the flat argmax,
    so the swap point is what keeps them bit-exact."""
    from hadoop_20_spark.operators import similarity as sim

    emb = tables["embeddings"].select("vec_id", "embedding").limit(400)
    cents = emb.filter(F.col("vec_id") < 16).selectExpr(
        "vec_id AS cent_id", "embedding AS c_vec"
    )
    a = sim.assign_cells(emb, cents, "_id", "_vec")
    b = sim.assign_cells(emb, cents, "_id", "_vec", n_centroids=16)
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ivf_near_dups_sound_and_subset_of_brute(spark, tables):
    """embedding_near_dups_ivf is the runnable pairs path past the SRP
    guard: precision must be EXACT (every emitted cosine equals the
    brute-force cosine for that pair and clears the threshold) and the
    pair set must be a SUBSET of the brute-force qualifying set —
    recall is the approximate half, precision never is.  Each pair is
    emitted ONCE even when it shares both probed cells (nprobe=2)."""
    from hadoop_20_spark.operators import similarity as sim

    emb = tables["embeddings"].select("vec_id", "embedding").limit(600)
    ivf = sim.embedding_near_dups_ivf(emb, threshold=0.3, nprobe=2).toPandas()
    brute = sim.embedding_near_dups(
        emb, threshold=0.3, method="brute"
    ).toPandas()
    bmap = {
        (int(r.id_a), int(r.id_b)): float(r.cosine_sim)
        for _, r in brute.iterrows()
    }
    assert len(ivf) == len(ivf.drop_duplicates(["id_a", "id_b"])), (
        "a pair sharing both probed cells was emitted twice"
    )
    for _, r in ivf.iterrows():
        key = (int(r.id_a), int(r.id_b))
        assert key in bmap, f"{key} not a true qualifying pair"
        assert float(r.cosine_sim) == bmap[key]
        assert float(r.cosine_sim) >= 0.3
        assert key[0] < key[1]


def test_ivf_near_dups_volume_guard_on_degenerate_corpus(spark):
    """All-identical vectors collapse into one Voronoi cell, making the
    candidate join quadratic — the histogram pre-flight must raise with
    the measured bound BEFORE the join runs (the house volume-guard
    discipline), and max_candidate_pairs=None must consciously run it."""
    import pytest as _pytest

    from hadoop_20_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(i, [1.0] + [0.0] * 7) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="candidate-pair volume"):
        sim.embedding_near_dups_ivf(
            df, n_centroids=4, nprobe=1, max_candidate_pairs=1000
        ).count()
    out = sim.embedding_near_dups_ivf(
        df, n_centroids=4, nprobe=1, max_candidate_pairs=None, threshold=0.99
    )
    assert out.count() == 200 * 199 // 2  # all pairs are exact dups


def test_ivf_near_dups_pretrained_centroids_skip_training(spark, tables):
    """centroids= (the production train-once shape) must skip training
    and reproduce the trained-in-line result given the same model."""
    from hadoop_20_spark.operators import similarity as sim

    emb = tables["embeddings"].select("vec_id", "embedding").limit(400)
    cents = sim.kmeans_centroids(
        emb, k=16, iterations=3, train_sample_mod=sim.kmeans_train_mod(400)
    )
    inline = sim.embedding_near_dups_ivf(
        emb, threshold=0.3, n_centroids=16, nprobe=2
    )
    pre = sim.embedding_near_dups_ivf(
        emb, threshold=0.3, nprobe=2, centroids=cents, n_centroids=16
    )
    assert inline.exceptAll(pre).count() == 0
    assert pre.exceptAll(inline).count() == 0


def test_ensure_parallelism_sees_through_fat_row_groups(spark, tmp_path):
    """Partition COUNT lies about row balance: a single parquet file
    with ONE fat row group plans into many byte-range splits of which
    only one carries rows — the sf100de probe measured 2 tasks grinding
    the SRP explode for 40+ minutes while 30 finished empty.  When the
    scan reads few files, ensure_parallelism must consult the footers
    and repartition; row content must be unharmed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_20_spark.functions import ensure_parallelism

    path = str(tmp_path / "fat.parquet")
    n = 40_000
    pq.write_table(
        pa.table({
            "id": pa.array(range(n), pa.int64()),
            "v": pa.array([float(i) for i in range(n)]),
        }),
        path,
        row_group_size=n,  # ONE fat row group
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", 16384)
    try:
        df = spark.read.parquet(path)
        parts = df.rdd.getNumPartitions()
        target = spark.sparkContext.defaultParallelism
        assert parts > target, "fixture did not reproduce the fat-split lie"
        fixed = ensure_parallelism(df)
        assert fixed.rdd.getNumPartitions() == target
        per_part = fixed.rdd.mapPartitions(
            lambda it: [sum(1 for _ in it)]
        ).collect()
        assert sum(per_part) == n
        assert max(per_part) < n, "rows still concentrated in one task"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_ensure_parallelism_no_op_on_many_files(spark, tmp_path):
    """The 100 TB contract: with more input files than cores the footer
    check is skipped entirely and the plan is returned unchanged (no
    shuffle added)."""
    from hadoop_20_spark.functions import ensure_parallelism

    out = str(tmp_path / "many")
    spark.range(10_000).repartition(
        2 * spark.sparkContext.defaultParallelism
    ).write.parquet(out)
    df = spark.read.parquet(out)
    assert ensure_parallelism(df) is df


def test_soft_dedup_weights_unit_mass_per_cluster(spark):
    """soft_dedup_weights keeps every doc exactly once and gives each
    content unit ~unit total mass: Σ weight over a cluster = 1 (up to
    the 6dp rounding), singletons get weight exactly 1.0, and the
    cluster partition agrees with dedup_clusters' labels."""
    import os

    from tests.conftest import SF_DIR

    from hadoop_20_spark.catalog import load_table

    out = REGISTRY["soft_dedup_weights"].fn(spark, SF_DIR).toPandas()
    n_docs = load_table(spark, "documents", SF_DIR).count()
    assert len(out) == out.doc_id.nunique() == n_docs
    # per-cluster mass: multiplicity * round(1/m, 6) within 6dp slack
    mass = out.groupby("cluster_id")["weight"].sum()
    assert ((mass - 1.0).abs() < 1e-3).all()
    singles = out[out.multiplicity == 1]
    assert (singles.weight == 1.0).all()
    assert (singles.cluster_id == singles.doc_id).all()
    labels = REGISTRY["dedup_clusters"].fn(spark, SF_DIR).toPandas()
    merged = labels.merge(out, on="doc_id", suffixes=("_cc", "_w"))
    assert (merged.cluster_id_cc == merged.cluster_id_w).all()


def test_oracle_round_sites_normalize_negative_zero():
    """DuckDB's ROUND keeps IEEE sign (ROUND(-1e-9, 6) = -0.0, CSV
    '-0.000000') while Spark's round goes through BigDecimal (no signed
    zero, always +0.0) — the gate's value-hash diverges on any rounded
    double that realizes a tiny negative.  sf100de caught it live:
    dsir_importance_sample's iw_logratio hit -0.0 on 5 of 250k selected
    docs at 5M-doc scale after 13 rounds of green gates below it.

    Two pins: (1) the live engine repro (flags if a DuckDB upgrade
    changes the semantics); (2) a paren-aware static audit that EVERY
    SQL ROUND( site in every oracle is wrapped `(ROUND(...) + 0)` —
    IEEE +0 normalization, a no-op except -0.0 → +0.0 — so a new query
    can't reintroduce the class."""
    import glob
    import re

    import duckdb

    con = duckdb.connect()
    v = con.execute("SELECT ROUND(-0.000000001::DOUBLE, 6)").fetchone()[0]
    import math

    assert math.copysign(1.0, v) == -1.0, (
        "DuckDB ROUND no longer emits -0.0 — the +0 normalization is "
        "now redundant (keep or drop consciously)"
    )
    v2 = con.execute("SELECT ROUND(-0.000000001::DOUBLE, 6) + 0").fetchone()[0]
    assert math.copysign(1.0, v2) == 1.0

    def find_matching(s, open_idx):
        depth = 0
        for i in range(open_idx, len(s)):
            if s[i] == "(":
                depth += 1
            elif s[i] == ")":
                depth -= 1
                if depth == 0:
                    return i
        raise ValueError("unbalanced")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    offenders = []
    for path in sorted(
        glob.glob(os.path.join(repo, "hadoop_20_spark", "queries", "*.py"))
    ):
        src = open(path).read()
        for m in re.finditer(r"(?<![A-Za-z0-9_.])ROUND\(", src):
            close = find_matching(src, m.start() + len("ROUND"))
            if not src[close + 1:close + 6].startswith(" + 0"):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{os.path.basename(path)}:{line}")
    assert not offenders, (
        "oracle ROUND( sites missing the `+ 0` negative-zero "
        f"normalization: {offenders}"
    )
