"""Embedding similarity search (north-star extension).

No reference analog (hadoop-20 predates vector workloads); the closest
architectural ancestor is the replicated-join idiom (DistributedCache) —
which is exactly how the brute-force path ships the query set to every
partition of the corpus.

Two tiers, mirroring ANN practice:

- ``cosine_topk`` — exact brute force: broadcast the (small) query set,
  score every corpus vector, per-query top-k.  The 100 TB plan: corpus
  never shuffles; scoring is map-side; top-k is TakeOrdered-per-group
  (partial per-partition heaps via the window-over-candidates pattern).
- ``lsh_topk`` — random-hyperplane LSH (SRP): bucket corpus and queries
  by sign-pattern of projections onto deterministic pseudo-random
  hyperplanes; score only same-bucket pairs (with multiple tables to
  bound recall loss).  Trades recall for a corpus-sized scan with tiny
  joins — the scale path when the query set is large.

Dot products are pure ``zip_with``/``aggregate`` expressions over
``array<float>`` cast to double — deterministic element order, hence
engine-comparable to the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_20_spark import catalog
from hadoop_20_spark.functions import ensure_parallelism, let as _let, md5_long

# RETIRED in r13 (kept for external callers' reference): the mean pass
# used to be one groupBy with ``dim`` decimal-sum expressions, chunked
# past this width because codegen/planning cost grows superlinearly in
# the expression count.  The r13 loop instead posexplodes to a narrow
# (cell, pos) aggregate whose plan is dim-independent — same single
# exchange, same decimal-exact values, no wide-codegen cliff.
KMEANS_MEAN_CHUNK = 256

#: target mean cell occupancy for corpus-scaled k-means cluster counts.
#: SemDeDup's in-cell verify work is quadratic in occupancy, so the
#: cluster count must grow WITH the corpus (cells ≈ n / occupancy keeps
#: per-cell pair volume flat and total within-cell work linear in n).
#: 128 reproduces the historical k=16 at the 2k-vector bench fixture
#: and was sized so a cell's pair block (~8k pairs) is trivially
#: executor-resident at any corpus size.
AUTO_CELL_OCCUPANCY = 128


def auto_n_centroids(n_rows: int, occupancy: int = AUTO_CELL_OCCUPANCY) -> int:
    """Corpus-scaled k-means cluster count: ``max(16, n // occupancy)``.

    The round-11 sf1 sweep measured the cost of NOT scaling k: with 16
    centroids pinned at every scale, 10× the vectors made every cell 10×
    fatter and the within-cell quadratic verify 100× heavier — ×23.6
    wall for ×10 data.  Deriving k from the corpus count keeps occupancy
    (hence per-cell work) constant, the same
    partition-count-scales-with-data discipline as
    ``mapred/lib/TotalOrderPartitioner.java`` (R grows with the corpus;
    bucket size stays fixed).  The floor of 16 preserves the historical
    small-fixture behavior, so oracle gates at sf ≤ 0.1 are unchanged.
    """
    return max(16, n_rows // occupancy)


#: k-means training-sample target.  Lloyd iterations over the FULL
#: corpus cost n·k cosines per pass, and with corpus-scaled k (∝ n)
#: that term is Θ(n²/occupancy) — the sf10 probe measured it: ×49 wall
#: for ×10 vectors AFTER the k fix (training dominated; the prune and
#: the final assignment were fine).  Training on a ~25k-vector
#: deterministic sample caps the per-iteration cost at sample·k while
#: centroid QUALITY is statistically unchanged (k-means means converge
#: in sample size; 25k ≥ 16 vectors/cell at the largest auto-k this
#: box reaches).  25_000 ≥ every gate fixture (sf0.1 has 20k vectors),
#: so sampling is INERT — bit-for-bit — at every oracle-gate scale.
KMEANS_TRAIN_SAMPLE = 25_000


#: driver-hosted Lloyd-loop bounds (r14).  At bench scale the
#: distributed Lloyd iteration is pure fixed cost — measured 1.0-1.1 s
#: per iteration at sf0.1 of which ~0.9 s is job/stage scheduling and
#: AQE waves over a 2k-row sample (the r13 "Catalyst analysis" theory
#: re-measured: analysis is ~2 ms; execution floor is the cost) — so a
#: BOUNDED training relation is better iterated on the driver with the
#: provably bit-exact numpy kernels (operators/exact_np.py), zero Spark
#: jobs per iteration.  The bound is enforced by a LIMIT probe
#: (CollectLimit reads O(1) partitions at any corpus size): more than
#: KMEANS_DRIVER_MAX_ROWS rows, non-finite/ragged/zero-norm vectors, or
#: work past the ceilings falls back to the distributed expression
#: loop, which computes the identical model (test-pinned md5 equality).
KMEANS_DRIVER_MAX_ROWS = 4 * KMEANS_TRAIN_SAMPLE
KMEANS_DRIVER_MAX_WORK = 50_000_000  # sample_rows × k ceiling
KMEANS_DRIVER_MAX_MODEL = 1_000_000  # k × dim ceiling (exact-mean loop)
#: kill switch: False forces the distributed Lloyd loop (the reference
#: path the path-equality tests compare the driver loop against)
KMEANS_DRIVER_LLOYD = True
#: GEMM-class distributed Lloyd assignment (exact numpy kernel per
#: Arrow batch past ASSIGN_GEMM_MIN_K — never at an oracle-gate scale)
KMEANS_ASSIGN_KERNEL = True


def kmeans_train_mod(n_rows: int, sample: int = KMEANS_TRAIN_SAMPLE) -> int:
    """Deterministic training-sample modulus: keep vectors whose
    ``md5_long('kmtrain_' || id) % mod == 0`` — mod = ceil(n/sample),
    so the kept sample is ~``sample`` rows, row-local, engine-portable
    (the md5 gate of ``sample_percent_deterministic``), and == 1 (keep
    everything) whenever the corpus already fits the budget."""
    if n_rows <= 0:
        return 1
    return (n_rows + sample - 1) // sample


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ in doubles with deterministic (sequential) addition order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


#: designed ceiling on the broadcast-side row count of the exact
#: brute-force top-k: per-corpus-row work is |queries|, so a
#: corpus-sized query set turns the scan into an unguarded n² nested
#: loop (knn_label_agreement passes the WHOLE corpus as queries — fine
#: at the 20k-vector sf1, a 4e10-pair loop at 200k).  Past the cap the
#: raise names the bucketed generators; the swap point was documented
#: since round 8, now it is enforced.
QUERY_BROADCAST_MAX_ROWS = 100_000

#: pre-flight count memo for :func:`cosine_topk`, keyed by
#: :func:`_plan_key`: the guard's ``queries.count()`` is one extra
#: Spark job per invocation, which the r12 bench measured as +52% on
#: b9b (the guard dominated the guarded work).  Same analyzed plan over
#: the same file versions → same count, so repeated invocations — bench
#: timing passes, probe loops — pay the job once, while a table
#: rewritten at the same path (same plan, new files) is counted again.
#: Guard-only state: a stale entry can only mis-time the RAISE of a
#: designed error, never corrupt a result.
_QUERY_COUNT_MEMO: dict[tuple, int] = {}
_QUERY_COUNT_MEMO_MAX = 64


def _plan_key(df: DataFrame) -> tuple | None:
    """Memo key for a result of ``df``: its analyzed plan's semanticHash
    plus the version of every file it reads (``catalog.files_version``;
    the semanticHash alone is blind to a table rewritten at the same
    path).  ``None`` when a file's version cannot be told: then nothing
    is memoized."""
    files = catalog.files_version(df.inputFiles())
    if files is None:
        return None
    return df._jdf.queryExecution().analyzed().semanticHash(), files


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_broadcast_queries: int | None = QUERY_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Physical plan: BroadcastNestedLoopJoin (queries broadcast — the
    DistributedCache pattern), map-side scoring, then per-query top-k via
    row_number window.  Excludes self-matches.  Ties broken by neighbor
    id (SURVEY §7.4 determinism rule).

    Pre-flight: per-corpus-row work is |queries|, so the query count is
    measured and raises past ``max_broadcast_queries`` — beyond ~10⁵
    queries swap the candidate generator for ``srp_candidate_pairs``
    (same downstream scoring) or the IVF cell path; ``None`` opts out
    consciously.  The count is memoized by the query plan and the
    versions of the files it reads (``_QUERY_COUNT_MEMO``) so repeated
    invocations over the same data — bench timing passes — pay the
    guard job once, not once per call (the measured b9b +52% of r12).

    Norms are precomputed ONCE PER VECTOR in each side's projection
    (row-local; the higher-order expression is non-cheap so
    CollapseProject leaves it materialized), so per-pair work is a
    single dot product instead of dot + two norms — 3× fewer
    interpreted lambda aggregates on the |corpus|×|queries| hot path.
    Values are bit-identical: same dot, same norms, same
    ``n_q * n_c`` multiplication order as ``cosine()``."""
    if max_broadcast_queries is not None:
        key = _plan_key(queries)
        n_q = _QUERY_COUNT_MEMO.get(key)
        if n_q is None:
            n_q = queries.count()
            if key is not None:
                if len(_QUERY_COUNT_MEMO) >= _QUERY_COUNT_MEMO_MAX:
                    _QUERY_COUNT_MEMO.clear()
                _QUERY_COUNT_MEMO[key] = n_q
        if n_q > max_broadcast_queries:
            raise ValueError(
                f"cosine_topk: {n_q:,} query vectors exceed "
                f"max_broadcast_queries={max_broadcast_queries:,} — the "
                "broadcast nested-loop scan does |queries| dot products "
                "per corpus row, quadratic when the query set tracks the "
                "corpus.  Swap the candidate generator for "
                "srp_candidate_pairs (same scoring downstream) or the "
                "IVF cell path, or pass max_broadcast_queries=None to "
                "consciously run this volume."
            )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("_nq", norm(F.col("q_vec")))
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("_nc", norm(F.col("c_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("_nq") * F.col("_nc")),
                4,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _srp_signs(dim: int, n_planes: int, table_id: int) -> list[list[float]]:
    """±1 hyperplane coefficients from md5 of (table, plane, coordinate) —
    computed once in Python (hashlib) and embedded as literals, so the
    per-row work is just the dot products; reproducible everywhere, no
    stored model."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"srp_{table_id}_{p}_{i}".encode()).hexdigest()[:15], 16)
            % 2
            == 0
            else -1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def _srp_bucket(vec: Column, dim: int, n_planes: int, table_id: int) -> Column:
    """Signed-random-projection bucket id: sign pattern of ``n_planes``
    deterministic hyperplanes."""
    signs = _srp_signs(dim, n_planes, table_id)
    bucket = F.lit(0)
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(s) for s in signs[p]]),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 3,
) -> DataFrame:
    """Approximate top-k: score only pairs sharing an SRP bucket in any of
    ``n_tables`` hash tables.  Recall grows with tables; cost per table is
    one narrow projection + an equi-join on (table, bucket) — a real join
    Catalyst can shuffle-hash, vs. the brute-force cross product."""

    def with_buckets(df: DataFrame, role: str) -> DataFrame:
        tables = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    _srp_bucket(F.col(vec_col), dim, n_planes, t).alias("bkt"),
                )
                for t in range(n_tables)
            ]
        )
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.col(vec_col).alias(f"{role}_vec"),
            # per-vector norm before the bucket explode/join (r13):
            # interpreted array folds run once per vector, not per
            # candidate pair — bit-identical arithmetic
            norm(F.col(vec_col)).alias(f"{role}_nrm"),
            F.explode(tables).alias("tb"),
        ).select(
            f"{role}_id", f"{role}_vec", f"{role}_nrm", "tb.tbl", "tb.bkt"
        )

    c = with_buckets(ensure_parallelism(corpus), "neighbor")
    q = with_buckets(queries, "query")
    cand = (
        c.join(q, ["tbl", "bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", "query_vec", "neighbor_vec",
            "query_nrm", "neighbor_nrm",
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("query_vec"), F.col("neighbor_vec"))
            / (F.col("query_nrm") * F.col("neighbor_nrm")),
            4,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


#: assignment-strategy swap point.  Below this centroid count the flat
#: JVM broadcast argmax (n·k higher-order-expression cosines) is both
#: cheap and the exact quantizer contract the DuckDB oracles spell;
#: at/above it ``assign_cells`` switches to the GEMM strategy — the
#: SAME flat argmax, evaluated as one numpy float64 (batch×dim)@(dim×k)
#: matmul per Arrow batch against the driver-collected centroid model,
#: with the identical 4dp HALF-UP rounding and cent_id tie-break.  The
#: semantics are the flat contract (same candidate set, same ranking
#: rule); the only divergence channel is float summation order inside
#: a dot product (numpy pairwise vs the expression fold), which 4dp
#: rounding absorbs except on exact rounding boundaries — measured
#: agreement 1.0 at the sf10 probe.  With corpus-scaled k (∝ n) the
#: assignment is still Θ(n²/occupancy) FLOPs, but at BLAS constants
#: (~50× less CPU than the expression fan-out, the r12-measured 569 s
#: assignment term) — the crossover where asymptotics beat constants
#: moves out past the fourth decade, and past it the opt-in two-level
#: strategy below is the named path.  Every oracle-gate fixture
#: resolves auto-k to 16, so gate plans and results are bit-for-bit
#: the JVM flat path.
ASSIGN_GEMM_MIN_K = 256
#: driver-side centroid-model ceiling for the GEMM strategy (k×dim
#: float64 collect + broadcast; 200k×64 ≈ 100 MB).  Past it the call
#: raises with the two_level/flat remediation — fail loud, never an
#: unbounded driver pull.
ASSIGN_GEMM_MAX_K = 200_000
#: coarse cells probed per row by the OPT-IN two-level strategy.  NOT a
#: default: on the house synthetic fixtures (random unit vectors — no
#: cluster structure, the coarse quantizer's worst case) the sf10 probe
#: measured only 0.438 agreement with the flat argmax at 4/√k probing,
#: which silently cost semantic_dedup 22% of its reported duplicates.
#: Use strategy="two_level" only for corpora with real cluster
#: structure, and validate agreement first (the probe's
#: two_level_assignment_agreement entry is the template).
TWO_LEVEL_COARSE_NPROBE = 4
# back-compat alias (r13 interim name for the swap point)
TWO_LEVEL_ASSIGN_MIN_K = ASSIGN_GEMM_MIN_K


def _assign_cells_gemm(
    x: DataFrame,
    cent: DataFrame,
    id_alias: str,
    vec_alias: str,
    nprobe: int = 1,
) -> DataFrame:
    """The flat argmax as an Arrow-batched numpy GEMM (see
    ASSIGN_GEMM_MIN_K).  The centroid table is a trained MODEL, not
    data: it is collected once (bounded by ASSIGN_GEMM_MAX_K — fail
    loud past ~100 MB) and shipped as a spark broadcast; each batch
    computes all batch×k rounded cosines in one float64 matmul and
    ranks with the house rule — HALF-UP 4dp rounding (sign-aware
    floor(|x|·1e4+0.5), matching Spark's BigDecimal HALF_UP, NOT
    numpy's banker's round) and stable argsort on -sim so equal sims
    keep ascending cent_id order.  Zero shuffles: the per-id window of
    the expression path collapses into the row-local ranking."""
    import numpy as np

    rows = cent.orderBy("cent_id").collect()
    k = len(rows)
    if k > ASSIGN_GEMM_MAX_K:
        raise ValueError(
            f"assign_cells: {k:,} centroids exceed ASSIGN_GEMM_MAX_K="
            f"{ASSIGN_GEMM_MAX_K:,} (driver model ceiling) — pass "
            "strategy='two_level' (cluster-structured corpora; validate "
            "agreement first) or strategy='flat'"
        )
    c_ids = np.array([r["cent_id"] for r in rows], dtype=np.int64)
    c_mat = np.stack(
        [np.asarray(r["c_vec"], dtype=np.float64) for r in rows]
    )
    c_norm = np.linalg.norm(c_mat, axis=1)
    spark = x.sparkSession
    bc = spark.sparkContext.broadcast((c_ids, c_mat.T.copy(), c_norm))
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(x.schema.fields) + [StructField("cell", LongType())]
    )

    def part(batches):
        import numpy as np
        import pandas as pd

        ids, ct, cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_alias]]
            )
            vn = np.linalg.norm(V, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (V @ ct) / np.outer(vn, cn)
            # HALF-UP at 4dp, sign-aware (Spark round() semantics)
            sims = np.sign(sims) * np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4
            # stable sort on -sim: ties keep ascending cent_id order
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            n = len(pdf)
            rep = pd.DataFrame(
                {
                    id_alias: pdf[id_alias].to_numpy().repeat(nprobe),
                    vec_alias: pdf[vec_alias].to_numpy().repeat(nprobe),
                    "cell": ids[order].reshape(-1),
                }
            )
            yield rep

    return x.mapInPandas(part, out_schema)


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_alias: str,
    vec_alias: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    n_centroids: int | None = None,
    strategy: str | None = None,
    coarse_nprobe: int = TWO_LEVEL_COARSE_NPROBE,
) -> DataFrame:
    """Nearest-centroid assignment — THE one place that encodes the
    quantizer contract every DuckDB oracle replicates: argmax of the
    4dp-ROUNDED cosine with cent_id tie-break, ``nprobe`` cells per
    input row.  Centroids broadcast; assignment is map-side except the
    per-id ranking window.  Shared by ivf_topk (corpus cells + query
    probes), build_ivf_index, query_ivf_index, and semantic_dedup, so
    the rounding/tie-break rules cannot drift between them.

    ``strategy`` (default auto):

    - ``"flat"`` — the JVM expression argmax, the oracle contract.
      Auto-chosen when ``n_centroids`` is None (caller holds a trained
      table of unknown size; correctness-preserving, merely slower at
      big k) or below ``ASSIGN_GEMM_MIN_K``.
    - ``"gemm"`` — the same flat argmax as one numpy matmul per Arrow
      batch (see ASSIGN_GEMM_MIN_K); auto-chosen at/above the swap
      point.  Exact-same ranking rule; sf10-measured agreement 1.0.
    - ``"two_level"`` — OPT-IN Θ(n·√k) coarse→fine probing; see the
      TWO_LEVEL_COARSE_NPROBE warning (0.438 agreement on
      structureless corpora — cluster-structured data only)."""
    cent = centroids.select("cent_id", "c_vec")
    x = df.select(F.col(id_col).alias(id_alias), F.col(vec_col).alias(vec_alias))
    w = Window.partitionBy(id_alias).orderBy(F.col("sim").desc(), "cent_id")
    if strategy is None:
        strategy = (
            "flat"
            if n_centroids is None or n_centroids < ASSIGN_GEMM_MIN_K
            else "gemm"
        )
    if strategy == "flat":
        # The whole centroid model as ONE 1-row array column (the
        # two-level path's coarse_arr pattern): ranking is then a
        # row-local array expression — the crossJoin×k fan-out, the
        # per-id hash Exchange and the row_number sort it used to feed
        # all disappear (r13 optimization; guide §2.4 "remove shuffles
        # outright").  Ranking rule bit-identical to the old window:
        # sim desc with cent_id tie-break, where sim compare uses the
        # SQL double ordering (NaN greatest and equal to itself, ±0.0
        # equal) in BOTH forms.
        # Per-vector norm hoisting (r13, same discipline as the
        # pair-scoring paths): cosine(v, c) spelled per centroid paid k
        # interpreted norm(v) folds and k norm(c) folds per row where 1
        # and 0 suffice.  Centroid norms ride the broadcast struct
        # (same norm() expression, evaluated once per centroid at the
        # collect_list); the row norm is let-bound once per row (the
        # lambda-CSE rule — Catalyst re-evaluates outer expressions
        # referenced from per-element lambda bodies).  sim is
        # bit-identical: dot/(nv*nc) is the exact operation tree
        # cosine() produced, with the same sequential folds and the
        # same multiplication order, only evaluated per vector.
        cent_arr = cent.agg(
            F.collect_list(
                F.struct(
                    "cent_id", "c_vec", norm(F.col("c_vec")).alias("c_nrm")
                )
            ).alias("_cents")
        )
        scored = _let(
            norm(F.col(vec_alias)),
            lambda nv: F.transform(
                F.col("_cents"),
                lambda g: F.struct(
                    F.round(
                        dot(F.col(vec_alias), g["c_vec"]) / (nv * g["c_nrm"]),
                        4,
                    ).alias("sim"),
                    (-g["cent_id"]).alias("_neg"),
                    g["cent_id"].alias("cid"),
                ),
            ),
        )
        if nprobe == 1:
            # argmax = array_max of (sim, -cent_id) — same lexicographic
            # struct ordering as the window's (sim desc, cent_id asc)
            return x.crossJoin(F.broadcast(cent_arr)).select(
                id_alias,
                vec_alias,
                F.array_max(scored)["cid"].alias("cell"),
            )
        # top-nprobe: ascending sort key (-sim, cent_id); NaN sims map
        # to -2.0 (< every finite -sim of a cosine) so they rank FIRST,
        # exactly where the desc window put them (Spark NaN = greatest)
        ranked = _let(
            norm(F.col(vec_alias)),
            lambda nv: F.transform(
                F.col("_cents"),
                lambda g: _let(
                    F.round(
                        dot(F.col(vec_alias), g["c_vec"]) / (nv * g["c_nrm"]),
                        4,
                    ),
                    lambda sim: F.struct(
                        F.when(F.isnan(sim), F.lit(-2.0))
                        .otherwise(-sim)
                        .alias("_k"),
                        g["cent_id"].alias("cid"),
                    ),
                ),
            ),
        )
        return x.crossJoin(F.broadcast(cent_arr)).select(
            id_alias,
            vec_alias,
            F.explode(
                F.transform(
                    F.slice(F.array_sort(ranked), 1, nprobe),
                    lambda s: s["cid"],
                )
            ).alias("cell"),
        )
    if strategy == "gemm":
        return _assign_cells_gemm(
            x, cent, id_alias, vec_alias, nprobe=nprobe
        )
    if strategy != "two_level":
        raise ValueError(f"assign_cells: unknown strategy {strategy!r}")
    # ---- two-level path (OPT-IN; see TWO_LEVEL_COARSE_NPROBE) ----
    if n_centroids is None:
        raise ValueError(
            "assign_cells: strategy='two_level' needs n_centroids (the "
            "coarse model is sized ~sqrt(k))"
        )
    n_coarse = max(16, math.isqrt(n_centroids))
    coarse = kmeans_centroids(
        cent.select(
            F.col("cent_id").alias("vec_id"), F.col("c_vec").alias("embedding")
        ),
        k=n_coarse,
        iterations=2,
    ).select(F.col("cent_id").alias("coarse_id"), F.col("c_vec").alias("g_vec"))
    # 1-row scalar attach: the whole coarse model as ONE array column,
    # so coarse ranking is a row-local expression (no window, no extra
    # shuffle).  √k structs of dim doubles — a few hundred KB broadcast.
    coarse_arr = coarse.agg(
        F.collect_list(
            F.struct(
                "coarse_id", "g_vec", norm(F.col("g_vec")).alias("g_nrm")
            )
        ).alias("_coarse")
    )

    def _neg_sims(vec: Column) -> Column:
        # struct(-sim, coarse_id): ascending struct order == sim DESC
        # with coarse_id tie-break — the house ranking rule, row-local.
        # Norm hoisting as the flat path: coarse norms ride the
        # broadcast struct, the probe vector's norm is let-bound once
        # per row instead of re-folded per coarse centroid.
        return _let(
            norm(vec),
            lambda nv: F.transform(
                F.col("_coarse"),
                lambda g: F.struct(
                    (
                        -F.round(
                            dot(vec, g["g_vec"]) / (nv * g["g_nrm"]), 4
                        )
                    ).alias("_neg"),
                    g["coarse_id"].alias("coarse_id"),
                ),
            ),
        )

    # fine -> coarse group map: argmin over the coarse array (k rows,
    # one tiny job); checkpointed so both it and its join below don't
    # re-derive the Lloyd training lineage
    grouped = (
        cent.crossJoin(F.broadcast(coarse_arr))
        .select(
            "cent_id",
            "c_vec",
            # fine-centroid norm computed once here, INSIDE the
            # checkpoint, so the verify join below never re-folds it
            norm(F.col("c_vec")).alias("c_nrm"),
            F.array_min(_neg_sims(F.col("c_vec")))["coarse_id"].alias(
                "coarse_id"
            ),
        )
        .localCheckpoint()
    )
    probes = x.crossJoin(F.broadcast(coarse_arr)).select(
        id_alias,
        vec_alias,
        F.explode(
            F.transform(
                F.slice(
                    F.array_sort(_neg_sims(F.col(vec_alias))),
                    1,
                    coarse_nprobe,
                ),
                lambda s: s["coarse_id"],
            )
        ).alias("coarse_id"),
    ).withColumn("_nv", norm(F.col(vec_alias)))
    return (
        probes.join(F.broadcast(grouped), "coarse_id")
        .select(
            id_alias,
            vec_alias,
            "cent_id",
            F.round(
                dot(F.col(vec_alias), F.col("c_vec"))
                / (F.col("_nv") * F.col("c_nrm")),
                4,
            ).alias("sim"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= nprobe)
        .select(id_alias, vec_alias, F.col("cent_id").alias("cell"))
    )


def _lloyd_assign_kernel(c: DataFrame, model: dict[int, list], dim: int):
    """Distributed Lloyd assignment at GEMM-class k via the bit-exact
    numpy kernel (exact_np.lloyd_assign) per Arrow batch: identical
    sequential folds, identical shortest-repr HALF_UP rounding (decimal
    fixup), identical (sim desc, cent_id) tie-break — so the assignment
    is the expression argmax's, at vectorized speed.  Engaged only past
    ASSIGN_GEMM_MIN_K (never at an oracle-gate scale; md5-equality of
    the whole trained model is probe-verified at k=1024).  Degenerate
    inputs fail loud (the expression plan raises there too: ANSI
    DIVIDE_BY_ZERO on zero norms, round() on non-finite sims)."""
    import numpy as np

    spark = c.sparkSession
    ids = sorted(model)
    C = np.asarray([model[cid] for cid in ids], dtype=np.float64)
    bc = spark.sparkContext.broadcast((np.asarray(ids, np.int64), C))

    def part(batches):
        import numpy as np
        import pandas as pd

        from hadoop_20_spark.operators import exact_np

        cid_arr, cmat = bc.value
        k, d = cmat.shape
        # cap the per-block sims matrix at ~160 MB of doubles
        block = max(1, int(2e7 // max(k, 1)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = list(pdf["_vec"])
            if any(v is None or len(v) != d for v in vecs):
                raise ValueError(
                    "kmeans_centroids: ragged or NULL training vector at "
                    f"dim {d} — the GEMM-class Lloyd kernel requires "
                    "uniform-width finite vectors (the expression plan "
                    "degenerates to NULL sims here; fail loud instead)"
                )
            V = np.asarray(vecs, dtype=np.float64)
            cells = np.empty(len(V), dtype=np.int64)
            for s in range(0, len(V), block):
                W = V[s : s + block]
                if not np.isfinite(W).all():
                    raise ValueError(
                        "kmeans_centroids: non-finite training vector — "
                        "round() on a non-finite similarity raises in "
                        "the expression plan; fail loud instead"
                    )
                if (exact_np.seq_norm(W) == 0).any():
                    raise ValueError(
                        "kmeans_centroids: zero-norm training vector — "
                        "cosine is an ANSI DIVIDE_BY_ZERO; fail loud"
                    )
                cells[s : s + block] = exact_np.lloyd_assign(
                    W, cid_arr, cmat
                )
            yield pd.DataFrame({"_vec": pdf["_vec"], "cell": cells})

    return c.select("_vec").mapInPandas(
        part, "_vec array<double>, cell bigint"
    )


def _lloyd_driver(
    sample_rows, model: dict[int, list], dim: int, iterations: int
) -> dict[int, list] | None:
    """Driver-hosted Lloyd iterations over a BOUNDED, pre-collected
    training sample — bit-identical to the distributed expression loop
    (operators/exact_np.py documents each arithmetic identity: the
    sequential dot/norm folds, the shortest-repr HALF_UP roundings, the
    decimal(30,10) mean sums as exact int64 arithmetic), with zero
    Spark jobs per iteration.  Returns the trained model dict, or None
    when the inputs fall outside the provable regime (ragged vectors,
    non-finite values, |x| ≥ 1e6, or a zero norm — the expression path
    raises ANSI DIVIDE_BY_ZERO there, so the caller falls back and the
    designed error surfaces from the real plan)."""
    import numpy as np

    from hadoop_20_spark.operators import exact_np

    vecs = [r["_vec"] for r in sample_rows]
    if any(v is None or len(v) != dim for v in vecs):
        return None
    try:
        V = np.asarray(vecs, dtype=np.float64)
    except (TypeError, ValueError):  # e.g. NULL elements
        return None
    if V.ndim != 2 or not np.isfinite(V).all() or (
        V.size and np.abs(V).max() >= 1e6
    ):
        return None
    vn = exact_np.seq_norm(V) if len(V) else np.zeros(0)
    if (vn == 0).any():
        return None
    work = dict(model)
    ids_sorted = None
    for _ in range(iterations):
        ids = sorted(work)
        C = np.asarray([work[cid] for cid in ids], dtype=np.float64)
        if (
            C.shape[1] != dim
            or not np.isfinite(C).all()
            or np.abs(C).max() >= 1e6
            or (exact_np.seq_norm(C) == 0).any()
        ):
            return None
        if len(V) == 0:
            return work  # no members: every cell keeps its centroid
        try:
            cells = exact_np.lloyd_assign(V, np.asarray(ids, np.int64), C)
        except ValueError:
            return None  # pathological sims: let the expression plan rule
        # decimal(30,10) mean sums as exact scaled-int64 arithmetic
        Y = exact_np.to_scaled_int(V)
        present, inv = np.unique(cells, return_inverse=True)
        sums = np.zeros((len(present), dim), dtype=np.int64)
        np.add.at(sums, inv, Y)
        counts = np.bincount(inv, minlength=len(present))
        fresh: dict[int, list] = {}
        for ci, cid in enumerate(present):
            cnt = int(counts[ci])
            fresh[int(cid)] = [
                exact_np.decimal_mean(int(sums[ci, p]), cnt)
                for p in range(dim)
            ]
        work.update(fresh)
    return work


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iterations: int = 3,
    train_sample_mod: int | None = None,
) -> DataFrame:
    """Lloyd's k-means for IVF coarse quantization, fully deterministic:

    - init: the ``k`` corpus vectors with smallest ids (the seed sample
      ``ivf_topk`` used as centroids directly);
    - fixed ``iterations`` (no data-dependent convergence test), each =
      one assignment pass (broadcast centroids, argmax cosine with
      4dp rounding + cent_id tie-break) and one mean pass;
    - means are computed per (cell, coordinate) with DECIMAL(30,10)
      sums (exact, partial-agg friendly, order-independent) divided as
      doubles and rounded to 8dp — so the centroid table is
      bit-identical in any engine and under any partitioning;
    - a cell that loses all members keeps its previous centroid.

    The mean pass is one posexplode → (cell, pos) decimal-mean
    aggregate per iteration — a single corpus-wide exchange whose plan
    is a fixed handful of expressions regardless of ``dim`` (the r12
    form spelled ``dim`` wide aggregate columns instead: same exchange,
    same values, but ~1.2 s of fresh Catalyst analysis/codegen per
    iteration at dim 64, and a chunking path past 256 coordinates —
    both retired in r13).  Arrays are rebuilt on the driver, which
    already holds the model.

    The model lives on the DRIVER between iterations (r13): the old
    loop already collected the whole model every iteration (the
    broadcast side), but kept a distributed twin that cost a
    localCheckpoint job, a left join, and a coalesce per round — under
    AQE that was 7 scheduler jobs per iteration, ~2 s of fixed cost at
    bench scale for a 16-row model.  Now each iteration is exactly ONE
    Spark action (the mean-pass collect over ≤ k·dim cells): the model
    ships out as a 1-row local-relation broadcast (no job — a
    LocalTableScan collects driver-side), the row-local argmax assigns
    cells, the decimal mean aggregate comes back, and the update merge
    (a cell that loses all members keeps its previous centroid) is a
    driver dict merge.  Driver footprint is k·dim doubles — the SAME
    footprint the broadcast always had; the fail-loud ceiling for
    driver-collected models is documented at ASSIGN_GEMM_MAX_K.
    Returns ``(cent_id, c_vec)`` as a local relation — drop-in for
    ``ivf_topk(centroids=...)``, and downstream broadcasts of it cost
    no cluster job at all.
    """
    spark = corpus.sparkSession
    if k > ASSIGN_GEMM_MAX_K:
        # the seed collect below pulls k rows to the driver — same
        # model-size ceiling as the GEMM strategy, enforced here too
        # (fail loud, never an unbounded driver pull)
        raise ValueError(
            f"kmeans_centroids: k={k:,} exceeds ASSIGN_GEMM_MAX_K="
            f"{ASSIGN_GEMM_MAX_K:,} (driver model ceiling)"
        )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vec")
    )
    # Lloyd passes run on the md5-gated training sample (seeds below
    # stay the full-corpus lowest-k ids, so mod == 1 reproduces the
    # historical training bit-for-bit).  See KMEANS_TRAIN_SAMPLE for
    # why: with corpus-scaled k the full-corpus assignment inside the
    # loop is the Θ(n²) term the sf10 probe caught.
    if train_sample_mod is not None and train_sample_mod > 1:
        c = c.filter(
            md5_long(
                F.concat(F.lit("kmtrain_"), F.col("_vid").cast("string"))
            )
            % F.lit(train_sample_mod)
            == 0
        )
    # Bounded-sample probe (r14): CollectLimit reads O(1) input
    # partitions at any corpus size (scale-up-factor incremental
    # execution), so asking for MAX_ROWS+1 vectors is one cheap job.
    # When the whole training relation fits, the Lloyd loop runs on
    # the DRIVER with the bit-exact numpy kernels — zero Spark jobs
    # per iteration (the distributed iteration was measured as ~1 s of
    # pure scheduling at bench scale).  When it does not fit — or the
    # vectors are ragged/non-finite/zero-norm — fall back to the
    # distributed expression loop below, which computes the identical
    # model (md5-equality test-pinned).
    sample_rows = None
    if KMEANS_DRIVER_LLOYD:
        if train_sample_mod is not None:
            # sampled contract: the relation is ~KMEANS_TRAIN_SAMPLE
            # rows by construction, so collect directly (one job); the
            # LIMIT caps the pull if a caller's mod under-samples
            probe = (
                c.select("_vec").limit(KMEANS_DRIVER_MAX_ROWS + 1).collect()
            )
            if (
                len(probe) <= KMEANS_DRIVER_MAX_ROWS
                and len(probe) * k <= KMEANS_DRIVER_MAX_WORK
            ):
                sample_rows = probe
        else:
            # unbounded contract: probe the size FIRST with a
            # rows-never-collected limit+count (CollectLimit reads O(1)
            # partitions at any corpus size), and only then pull the
            # vectors — a failed probe costs one tiny job, not a 50 MB
            # collect
            n_probe = c.limit(KMEANS_DRIVER_MAX_ROWS + 1).count()
            if (
                n_probe <= KMEANS_DRIVER_MAX_ROWS
                and n_probe * k <= KMEANS_DRIVER_MAX_WORK
            ):
                sample_rows = c.select("_vec").collect()
    if sample_rows is None and train_sample_mod is not None:
        # Materialize the training sample ONCE (r13): every Lloyd
        # iteration re-derived it — at 100 TB that is `iterations` full
        # corpus scans + md5 gates where one suffices (guide §6).  Only
        # on the sampled-contract path: kmeans_train_mod bounds the
        # relation to ~KMEANS_TRAIN_SAMPLE rows (mod=1 only when the
        # corpus itself is under the cap), so this is an entity-bounded
        # materialization, not a corpus-sized persist; the checkpoint
        # blocks are reclaimed by the ContextCleaner when the model is
        # returned (nothing downstream references the sample).  Values
        # bit-identical — same rows, and the decimal mean sums are
        # order-independent under any partitioning (test-pinned).
        c = c.localCheckpoint()
    # seed collect: the k corpus vectors with smallest ids (one job —
    # replaces the old first() shape probe; same rows, same job count).
    model: dict[int, list] = {
        r["cent_id"]: list(r["c_vec"])
        for r in corpus.filter(F.col(id_col) < k)
        .select(
            F.col(id_col).cast("long").alias("cent_id"),
            F.col(vec_col).cast("array<double>").alias("c_vec"),
        )
        .collect()
    }
    if not model:
        raise ValueError(
            "kmeans_centroids: empty centroid seed (empty corpus, or no "
            f"rows with {id_col} < k={k}) — cannot infer vector dim"
        )
    dim = len(next(iter(model.values())))
    cent_schema = "cent_id bigint, c_vec array<double>"
    if sample_rows is not None:
        driven = (
            _lloyd_driver(sample_rows, model, dim, iterations)
            if len(model) * dim <= KMEANS_DRIVER_MAX_MODEL
            else None
        )
        if driven is not None:
            return spark.createDataFrame(
                [(cid, driven[cid]) for cid in sorted(driven)], cent_schema
            )
        # validation failed (ragged/non-finite/zero-norm input, or an
        # oversized model): the sampled-contract materialization was
        # skipped above, so restore it before the distributed loop
        if train_sample_mod is not None:
            c = c.localCheckpoint()
    arr_schema = "_cents array<struct<cent_id:bigint,c_vec:array<double>>>"

    # argmax(sim DESC, cent_id ASC) as a ROW-LOCAL array_max — same
    # lexicographic (sim, -cent_id) struct ordering the historical
    # groupBy-max used; no per-_vid shuffle, no join back.  Built ONCE:
    # the Column trees are iteration-independent (they only reference
    # the _cents/_vec columns), so re-building them per iteration paid
    # pure py4j expression-construction overhead.  Norm hoisting as in
    # assign_cells: centroid norms are attached to the broadcast array
    # by a Project on the 1-row local relation (k norm() folds per
    # broadcast build, not per row), and the sample vector's norm is
    # let-bound once per row — sim stays the exact cosine() operation
    # tree (same folds, same multiplication order), so the assignment
    # is bit-identical.
    with_nrm = F.transform(
        F.col("_cents"),
        lambda g: F.struct(
            g["cent_id"].alias("cent_id"),
            g["c_vec"].alias("c_vec"),
            norm(g["c_vec"]).alias("c_nrm"),
        ),
    ).alias("_cents")
    argmax_cell = _let(
        norm(F.col("_vec")),
        lambda nv: F.array_max(
            F.transform(
                F.col("_cents"),
                lambda g: F.struct(
                    F.round(
                        dot(F.col("_vec"), g["c_vec"]) / (nv * g["c_nrm"]), 4
                    ).alias("sim"),
                    (-g["cent_id"]).alias("_neg"),
                    g["cent_id"].alias("cid"),
                ),
            )
        )["cid"],
    ).alias("cell")
    # past the GEMM swap point the per-row k-fold interpreted argmax is
    # the iteration's dominant term (the r13 corpus-scaled-k probe:
    # ~9 s/iteration at k=1024 over a 100k sample) — evaluate the SAME
    # argmax as the bit-exact numpy kernel per Arrow batch instead
    # (exact_np.lloyd_assign: identical folds, identical HALF_UP
    # rounding with the decimal fixup, identical tie-break), with
    # fail-loud raises where the expression plan would raise too
    # (ANSI divide-by-zero on zero norms, round() on non-finite).
    use_kernel = KMEANS_ASSIGN_KERNEL and len(model) >= ASSIGN_GEMM_MIN_K
    for _ in range(iterations):
        if use_kernel:
            asg = _lloyd_assign_kernel(c, model, dim)
        else:
            # the model as ONE 1-row local relation: broadcast
            # materializes driver-side (LocalTableScan.executeCollect —
            # no Spark job)
            cent_arr = spark.createDataFrame(
                [([(cid, model[cid]) for cid in sorted(model)],)],
                arr_schema,
            ).select(with_nrm)
            asg = c.crossJoin(F.broadcast(cent_arr)).select(
                "_vid", "_vec", argmax_cell
            )
        # mean pass: posexplode → ONE narrow (cell, pos) decimal-mean
        # aggregate → collect ≤ k·dim cells, arrays rebuilt on the
        # driver.  Same single corpus-wide exchange as the old 64-wide
        # positional aggregate and the identical decimal-exact values
        # (order-independent sums; positions a ragged vector lacks emit
        # no row, exactly the try_element_at non-null-count semantics),
        # but the plan is a FIXED handful of expressions: the old form
        # re-paid ~1.2 s of Catalyst analysis/codegen for 64·4 fresh
        # aggregate expressions on every iteration (driver-side, the
        # dominant training cost at bench scale — measured: same-plan
        # re-collect 0.63 s vs fresh-plan 1.8 s).  This also retires
        # the KMEANS_MEAN_CHUNK wide-codegen chunking path: the narrow
        # plan is dim-independent.
        mean_rows = (
            asg.select("cell", F.posexplode("_vec").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(
                F.round(
                    F.sum(
                        F.col("val").cast("double").cast("decimal(30,10)")
                    ).cast("double")
                    / F.count("val"),
                    8,
                ).alias("m")
            )
            .collect()
        )
        # update merge: cells with members move to their mean; a cell
        # that lost all members keeps its previous centroid (identical
        # to the old coalesce-left-join semantics).  Coordinates past
        # the seed dim are ignored, as before.
        fresh: dict[int, list] = {}
        for r in mean_rows:
            if r["pos"] < dim:
                fresh.setdefault(r["cell"], [None] * dim)[r["pos"]] = r["m"]
        model.update(fresh)
    return spark.createDataFrame(
        [(cid, model[cid]) for cid in sorted(model)], cent_schema
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into
    ``n_centroids`` Voronoi cells (coarse quantizer), probe the
    ``nprobe`` nearest cells per query, score exactly within them.

    Deterministic "training": by default centroids are the corpus
    vectors with the ``n_centroids`` smallest ids (a fixed seed sample)
    — no stored model, so the DuckDB oracle reproduces the index
    bit-for-bit.  Pass ``centroids=kmeans_centroids(corpus)`` for real
    Lloyd's centroids (also deterministic) — same plan, better recall.

    Scale plan (100 TB corpus): centroids broadcast; cell assignment is
    map-side (BroadcastNestedLoopJoin + per-vector argmax window over
    ``n_centroids`` rows); the inverted file is the corpus hash-
    partitioned by ``cell`` — the probe join is an equi-join on cell, so
    only ``nprobe/n_centroids`` of the corpus is scored per query.  All
    similarities are rounded before ranking (engine-stable ties, broken
    by id)."""
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("c_vec")
        )
    cells = assign_cells(
        ensure_parallelism(corpus), centroids, "neighbor_id", "n_vec",
        id_col, vec_col, n_centroids=n_centroids,
    )
    qcells = assign_cells(
        queries, centroids, "query_id", "q_vec", id_col, vec_col,
        nprobe=nprobe, n_centroids=n_centroids,
    )
    # per-vector norms before the probe join (r13): one interpreted
    # fold per pair instead of three, bit-identical arithmetic
    cells = cells.withColumn("_nn", norm(F.col("n_vec")))
    qcells = qcells.withColumn("_qn", norm(F.col("q_vec")))
    scored = (
        cells.join(qcells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("_qn") * F.col("_nn")),
                4,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> None:
    """Persist the IVF inverted file: corpus rows with their cell
    assignment, written ``partitionBy("cell")`` — the on-disk layout IS
    the index (one directory per Voronoi cell; MapFileOutputFormat's
    sorted-index idea, directory-granular).  Build once, query many:
    at 100 TB the assignment pass runs once instead of per query batch,
    and queries read only ``nprobe`` of ``n_centroids`` directories via
    partition pruning."""
    centroids = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("c_vec")
    )
    cells = assign_cells(
        corpus, centroids, "neighbor_id", "n_vec", id_col, vec_col,
        n_centroids=n_centroids,
    )
    cells.write.mode("overwrite").partitionBy("cell").parquet(path)


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k against a persisted IVF index: probe cells are computed from
    the (broadcast) centroids, then the index scan filters
    ``cell IN (probes)`` — a partition-column filter, so Spark lists and
    reads ONLY the probed directories (static partition pruning; check
    PartitionFilters in the scan).  Scoring and ranking match
    ``ivf_topk`` exactly."""
    centroids = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("c_vec")
    )
    qcells = assign_cells(
        queries, centroids, "query_id", "q_vec", id_col, vec_col,
        nprobe=nprobe, n_centroids=n_centroids,
    )
    index = spark.read.parquet(path)
    # per-vector norms before the probe join (r13, as ivf_topk)
    qcells = qcells.withColumn("_qn", norm(F.col("q_vec")))
    scored = (
        index.withColumn("_nn", norm(F.col("n_vec")))
        .join(F.broadcast(qcells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("_qn") * F.col("_nn")),
                4,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


#: designed ceiling on the SRP candidate equi-join's pre-distinct row
#: volume.  Sized from measurement, not hope: the 20k-vector sf1 fixture
#: measures ~3.3e9 with the recall-first defaults (k=4, d=2) and runs in
#: ~5 min on 32 local threads; 1e10 is the "minutes on a cluster, an
#: hour on this box" line.  One decade up (200k vectors) the bound is
#: ~3.3e11 and the guard raises BY DESIGN — the same posture as
#: ``dedup.jaccard_pairs`` at sf1.
SRP_MAX_CANDIDATE_PAIRS = 10_000_000_000


def _srp_volume_guard(
    a: DataFrame,
    b: DataFrame,
    cap: int | None,
    n_planes: int,
    multiprobe: int,
    context: str,
) -> None:
    """Fail-loud pre-flight bound for the SRP candidate join: the
    equi-join of the probe-exploded side ``a`` with the exact-bucket
    side ``b`` on (tbl, bkt) produces exactly Σ n_a(tbl,bkt)·n_b(tbl,bkt)
    pre-distinct rows — computed by joining the two (table, bucket)
    histograms (≤ n_tables·2^n_planes rows each) BEFORE the join ever
    runs.  DECIMAL(38,0) arithmetic so the bound itself cannot overflow.

    This is the enforcement half of ``srp_bucket_stats``: with few
    planes the probe set covers most of bucket space (k=4, d=2 probes
    11/16 buckets), so on a random corpus per-bucket occupancy — hence
    the join's fan-out — grows quadratically with corpus size, and
    unlike MinHash-LSH (hard ``max_bucket`` cap) nothing else stops it.
    Same measure-the-histogram-first discipline as
    ``dedup._pair_volume_guard`` and the ``InputSampler``-style
    pre-sampling idiom (public hadoop-20 ``mapred/lib/InputSampler.java``).
    """
    if cap is None:
        return
    ha = a.groupBy("tbl", "bkt").agg(F.count(F.lit(1)).alias("__na"))
    hb = b.groupBy("tbl", "bkt").agg(F.count(F.lit(1)).alias("__nb"))
    est = (
        ha.join(hb, ["tbl", "bkt"])
        .agg(
            F.sum(
                (
                    F.col("__na").cast("decimal(38,0)")
                    * F.col("__nb").cast("decimal(38,0)")
                ).cast("decimal(38,0)")
            ).alias("pairs")
        )
        .collect()[0]["pairs"]
    )
    est = int(est or 0)
    if est > cap:
        cover = sum(
            math.comb(n_planes, j) for j in range(min(multiprobe, n_planes) + 1)
        )
        raise ValueError(
            f"{context}: SRP candidate-join volume bound Σ n_a·n_b = "
            f"{est:,} exceeds max_candidate_pairs={cap:,} (n_planes="
            f"{n_planes}, multiprobe={multiprobe}: the probe set covers "
            f"{cover}/{2**n_planes} of each table's bucket space).  "
            "Raise n_planes so buckets split this corpus (each extra "
            "plane roughly halves occupancy; keep "
            "Σ_{j<=multiprobe} C(k,j)/2^k << 1), lower multiprobe, use "
            "the IVF/semantic_dedup cell path for moderate thresholds, "
            "or pass max_candidate_pairs=None to consciously run this "
            "volume."
        )


def srp_candidate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 12,
    multiprobe: int = 2,
    max_candidate_pairs: int | None = SRP_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """Candidate pairs (``id_a < id_b``) sharing an SRP bucket in ANY of
    ``n_tables`` hash tables — the bucketed candidate generator for
    embedding near-dup detection.  Cost: ``n_tables`` narrow projection
    passes + one equi-join on (table, bucket), whose pre-distinct volume
    is MEASURED before the join runs (:func:`_srp_volume_guard`) and
    raises past ``max_candidate_pairs``.

    **Honest scale accounting** (the k=4 defaults are recall-first, not
    occupancy-first): with ``n_planes=4, multiprobe=2`` the probe set
    covers 11 of 16 buckets per table, so on a random corpus (cos ≈ 0,
    per-table collision ≈ 11/16) an unrelated pair collides in ≥1 of 12
    tables with probability ≈ 1-(5/16)^12 — candidate generation is
    effectively quadratic with an 11× explode fan-out, sane ONLY while
    Σ n_a·n_b fits the cap (the 20k-vector sf1 fixture measures ~3.3e9;
    one decade up the guard raises by design).  Results stay exact
    regardless (the verify step filters), but at corpus scale you must
    raise ``n_planes`` so buckets actually split the data — and that
    trades recall at LOW thresholds: matching pairs at sim t differ on
    ~k·θ/π planes, so d=2 probing loses them once k >> 2π/θ.  SRP
    bucket-then-verify is the scale path for HIGH thresholds (θ small:
    at sim 0.95, k=16, d=2, 12 tables the per-pair miss is ~1e-8 with
    137/65536 bucket coverage); for moderate thresholds (~0.5) use the
    IVF cell path (``semantic_dedup``) whose occupancy is controlled by
    a corpus-scaled cluster count instead.

    ``multiprobe=d`` probes every bucket within Hamming distance ``d``
    on ONE side of the join — a pair disagreeing on at most ``d`` planes
    in a table still collides.  Per-table recall with p = 1-θ/π,
    k = n_planes: ``Σ_{{j<=d}} C(k,j) p^(k-j) (1-p)^j`` — at sim 0.5
    (p = 2/3, k = 4) that is 0.20 exact / 0.59 at d=1 / 0.89 at d=2,
    i.e. a 12-table miss probability of 2e-5 at d=1 but 4e-12 at d=2.
    The default is d=2 because d=1 MEASURABLY broke one decade up: at
    the sf1 fixture (20k vectors, 2,205 true pairs ≥ 0.5) exactly one
    pair — cos 0.523, Hamming ≥ 2 in ALL 12 tables — fell through,
    while d=2 recovers the full set (verified pair-by-pair in numpy).
    Probe fan-out per row is ``1 + k + C(k,2)`` = 11 (was 5): recall
    from probes instead of more corpus passes, the classic multiprobe
    trade.  ``multiprobe=0`` probes exact buckets only."""
    def exploded(role: str, probe: bool) -> DataFrame:
        per_table = []
        for t in range(n_tables):
            bkt = _srp_bucket(F.col(vec_col), dim, n_planes, t)
            probes = [bkt]
            if probe and multiprobe >= 1:
                probes += [bkt.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
            if probe and multiprobe >= 2:
                probes += [
                    bkt.bitwiseXOR(F.lit((1 << p) | (1 << q)))
                    for p in range(n_planes)
                    for q in range(p + 1, n_planes)
                ]
            per_table += [
                F.struct(F.lit(t).alias("tbl"), pb.alias("bkt")) for pb in probes
            ]
        return (
            ensure_parallelism(df)
            .select(F.col(id_col).alias(f"id_{role}"), F.explode(F.array(*per_table)).alias("tb"))
            .select(f"id_{role}", "tb.tbl", "tb.bkt")
        )

    a = exploded("a", probe=True)
    b = exploded("b", probe=False)
    _srp_volume_guard(
        a, b, max_candidate_pairs, n_planes, multiprobe, "srp_candidate_pairs"
    )
    # one-sided probing covers both orientations (Hamming-1 is
    # symmetric), so normalize the pair order after the join.
    return (
        a.join(b, ["tbl", "bkt"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )


def embedding_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine for the given candidate ``pairs`` (columns ``id_a``,
    ``id_b``): two hash joins on vector id — linear in |pairs|.

    Norms are precomputed per VECTOR on the side relations (r13, the
    semantic_dedup ``_nrm`` discipline): higher-order array folds are
    interpreted (no codegen), so computing ``cosine`` whole per pair
    paid three folds per candidate where one suffices — the per-pair
    work is now a single dot + one division, bit-identical
    (``dot/(norm_a*norm_b)`` with the same sequential folds, just
    evaluated per vector instead of per pair)."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
                4,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


#: brute-force guard: refuse the O(n²) cross join beyond this many rows.
BRUTE_FORCE_MAX_ROWS = 100_000


def srp_bucket_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 12,
) -> DataFrame:
    """Per-table SRP bucket occupancy — the observability hook for the
    approximate path (the SRP analog of ``dedup.lsh_bucket_stats``):
    rows, distinct buckets, and the largest bucket per hash table.
    A max bucket near the table's row count means the planes aren't
    splitting this corpus (degenerate vectors) and candidate-join
    fan-out will approach all-pairs; near-singleton buckets mean
    recall comes from multiprobe/tables, not co-bucketing."""
    per_table = [
        F.struct(
            F.lit(t).alias("tbl"),
            _srp_bucket(F.col(vec_col), dim, n_planes, t).alias("bkt"),
        )
        for t in range(n_tables)
    ]
    return (
        df.select(F.explode(F.array(*per_table)).alias("tb"))
        .groupBy("tb.tbl", "tb.bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("tbl")
        .agg(
            F.sum("n").alias("rows"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
        )
        .orderBy("tbl")
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 12,
    multiprobe: int = 2,
    brute_force: bool = False,
    method: str | None = None,
    max_candidate_pairs: int | None = SRP_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (``id_a < id_b``, sim ≥ t).

    ``method`` names the path explicitly at call sites:

    - ``"srp"`` (the default) — bucket-then-verify: SRP candidates with
      Hamming-≤2 multiprobe (:func:`srp_candidate_pairs`; the depth-2
      default is a round-11 measurement, not a guess — depth 1 missed
      exactly one of 2,205 true pairs at the 20k-vector sf1 fixture) →
      exact cosine verify (:func:`embedding_verify`).  Emitted
      similarities are exact; **recall is probabilistic by
      construction** — a qualifying pair is found iff it lands within
      ``multiprobe`` plane-flips of a shared bucket in ≥1 of
      ``n_tables`` deterministic tables: per-table probability
      ``Σ_{j<=d} C(k,j) p^(k-j) (1-p)^j`` with ``p = 1-θ/π``,
      ``k = n_planes`` (≈0.89/table at sim 0.5 with the defaults;
      12-table miss ≈ 4e-12 per pair).  The planes are md5-seeded
      constants, so recall on a given corpus is deterministic and
      testable, not a per-run coin flip; :func:`srp_bucket_stats`
      reports bucket occupancy for coverage monitoring, and the
      candidate join's pre-distinct volume is MEASURED up front
      (:func:`_srp_volume_guard`) and raises past
      ``max_candidate_pairs`` with the observed bound — the k=4
      defaults keep recall at moderate thresholds but make candidate
      generation effectively quadratic, so past the cap you must raise
      ``n_planes`` (high thresholds) or switch to the
      ``semantic_dedup`` cell path (moderate thresholds); see
      :func:`srp_candidate_pairs` for the full accounting.
    - ``"brute"`` — the exact all-pairs cross join, guarded by
      :data:`BRUTE_FORCE_MAX_ROWS` (the count is one cheap action) so
      the O(n²) path can never silently run on a 100 TB corpus.

    ``brute_force=True`` is the legacy spelling of ``method="brute"``.
    """
    if method is None:
        method = "brute" if brute_force else "srp"
    if method not in ("srp", "brute"):
        raise ValueError(f"method must be 'srp' or 'brute', got {method!r}")
    if method == "srp":
        cand = srp_candidate_pairs(
            df,
            id_col,
            vec_col,
            dim,
            n_planes,
            n_tables,
            multiprobe,
            max_candidate_pairs=max_candidate_pairs,
        )
        return embedding_verify(df, cand, id_col, vec_col, threshold)

    n = df.count()
    if n > BRUTE_FORCE_MAX_ROWS:
        raise ValueError(
            f"embedding_near_dups(brute_force=True) on {n} rows would cross-join "
            f"{n*(n-1)//2} pairs; limit is {BRUTE_FORCE_MAX_ROWS} rows — use the "
            "default SRP bucket-then-verify path at scale"
        )
    # per-vector norms precomputed on each side (r13, the
    # embedding_verify discipline): one interpreted fold per pair
    # instead of three, bit-identical arithmetic
    a = ensure_parallelism(df).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
                4,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# Previous invocation's persisted result (embedding_near_dups_ivf /
# semantic_dedup) — released at the START of the next invocation, the
# containment_topk pattern: bounds the session cache to one result per
# operator while guaranteeing no cross-invocation cache reuse.  Swaps
# are guarded by _LAST_RESULT_LOCK (two concurrent invocations must not
# race the release), and a stale unpersist tolerates a stopped session
# (r14, advisor items).
_LAST_IVF_PAIRS_RESULT: DataFrame | None = None
_LAST_SEMANTIC_DEDUP_RESULT: DataFrame | None = None

import threading as _threading

_LAST_RESULT_LOCK = _threading.Lock()


def _release_last(df: DataFrame | None) -> None:
    """unpersist a previous invocation's cached result, tolerating a
    stopped owning session (unpersist raises there; the blocks died
    with the session, so there is nothing to release)."""
    if df is None:
        return
    try:
        df.unpersist(blocking=True)
    except Exception:
        pass

#: semantic_dedup one-pass-assignment swap point.  The within-cell
#: self-join consumes the cell assignment on BOTH sides; persisting it
#: trades ONE n·k argmax pass (the corpus-scaled-k dominant term —
#: sf10: 569 s/pass) for one corpus-wide (id, vec, cell, nrm)
#: materialization.  That trade only wins once the per-row assignment
#: work is heavy — the same regime ASSIGN_GEMM_MIN_K marks — so the
#: persist engages at the identical threshold.  Below it (every
#: gate/bench fixture: auto-k = 16) the house persist rule stands: two
#: re-derives of a cheap row-local pass beat caching fact-sized state
#: (sf0.1, k=16, 7-rep medians: 1.86 s re-derive vs 1.93 s persisted).
SEMANTIC_ONE_PASS_MIN_K = ASSIGN_GEMM_MIN_K


def embedding_near_dups_ivf(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    n_centroids: int | None = None,
    iterations: int = 3,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    max_candidate_pairs: int | None = SRP_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """IVF-bucketed near-duplicate PAIRS — the runnable answer to "and
    then what" past :func:`embedding_near_dups`'s SRP volume guard.

    The SRP path's guard raises by design once per-bucket occupancy
    makes its candidate join quadratic (measured Σ n_a·n_b ≈ 3.3e11 at
    200k vectors, two decades past the 1e10 cap at 2M) and its message
    names this cell path as the moderate-threshold remediation; this is
    that remediation as a first-class operator.  Bucket by nearest
    Voronoi cell (the :func:`semantic_dedup` quantizer: corpus-scaled
    ``k = max(16, n//128)`` via :func:`auto_n_centroids`, ~25k-sample
    Lloyd training via :func:`kmeans_train_mod`, argmax of the
    4dp-rounded cosine with cent_id tie-break), assign every vector to
    its top-``nprobe`` cells, take same-cell id-ordered pairs as
    candidates, then verify with the exact cosine
    (:func:`embedding_verify`).  Emitted similarities are exact;
    **recall is approximate by construction** — a qualifying pair is
    found iff the two vectors share ≥1 of their ``nprobe`` probed
    cells (the standard IVF trade; ``nprobe=2`` roughly squares the
    co-bucketing chance at 4× the candidate volume).  Measure recall on
    planted structure before trusting it (the sf100de probe records it
    against the fixture's boundary-cosine pairs).

    Scale plan (100 TB): with occupancy-constant k the candidate
    volume is Σ_cell C(n_cell, 2) ≈ n·occupancy·nprobe²/2 — LINEAR in
    n, the whole point.  Candidates carry only (id_a, id_b): the
    self-join runs on an (id, cell) projection and vectors re-attach
    in the verify's two hash joins, so the pair shuffle never ships
    vector payloads.  A degenerate corpus (every vector in one cell)
    would still go quadratic, so the same measure-the-histogram-first
    discipline as :func:`_srp_volume_guard` applies: Σ C(n_cell, 2) is
    computed from the assignment histogram (DECIMAL(38,0)) BEFORE the
    join and raises past ``max_candidate_pairs`` with the observed
    bound.  Pass ``centroids=`` (a trained ``(cent_id, c_vec)`` table)
    to skip training — the production train-once shape.

    Output: (id_a, id_b, cosine_sim) with ``id_a < id_b``, one row per
    pair (a pair sharing several probed cells is emitted once).
    """
    if centroids is not None:
        cents = centroids
    else:
        n = corpus.count()
        if n_centroids is None:
            n_centroids = auto_n_centroids(n)
        cents = kmeans_centroids(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            k=n_centroids,
            iterations=iterations,
            train_sample_mod=kmeans_train_mod(n),
        )
    # ONE assignment pass (r13): the guard histogram, the candidate
    # join's a-side AND its b-side all consumed the assignment
    # structurally, so the n·k argmax — the family's dominant term with
    # corpus-scaled k — ran three times per invocation.  The (_id,
    # cell) projection is NARROW (two longs × nprobe per row), so it is
    # persisted for the invocation and released before returning — the
    # containment_topk lifecycle: materialize the bounded result
    # eagerly, unpersist the corpus-scaled intermediate, and release
    # the previous invocation's result cache FIRST so the CacheManager
    # can never serve one invocation's plan from another's cache (every
    # call computes from the parquet inputs).
    cells = assign_cells(
        ensure_parallelism(corpus), cents, "_id", "_vec", id_col, vec_col,
        nprobe=nprobe, n_centroids=n_centroids,
    ).select("_id", "cell").persist()
    try:  # always release the corpus-keyed persist (r14, advisor item)
        if max_candidate_pairs is not None:
            hist = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("__n"))
            est = (
                hist.agg(
                    F.sum(
                        (
                            F.col("__n").cast("decimal(38,0)")
                            * (F.col("__n") - 1).cast("decimal(38,0)")
                            / 2
                        ).cast("decimal(38,0)")
                    ).alias("pairs")
                ).collect()[0]["pairs"]
            )
            est = int(est or 0)
            if est > max_candidate_pairs:
                raise ValueError(
                    f"embedding_near_dups_ivf: cell candidate-pair volume "
                    f"bound Σ C(n_cell, 2) = {est:,} exceeds "
                    f"max_candidate_pairs={max_candidate_pairs:,} "
                    f"(nprobe={nprobe}).  With corpus-scaled k this means "
                    "cell occupancy is degenerate (vectors collapsing into "
                    "few cells) — raise n_centroids / lower the "
                    "auto_n_centroids occupancy so cells split this corpus, "
                    "lower nprobe, or pass max_candidate_pairs=None to "
                    "consciously run this volume."
                )
        a = cells.select(F.col("cell"), F.col("_id").alias("id_a"))
        b = cells.select(
            F.col("cell").alias("cell2"), F.col("_id").alias("id_b")
        )
        # Candidate dedup moved PAST the verify filter (r14): with
        # nprobe=2 only pairs sharing BOTH probed cells repeat (measured
        # ~4% at sf0.1: 499k combos vs 481k distinct), so the pre-verify
        # .distinct() exchanged the full candidate volume to save 4% of
        # the dot products.  Scoring is deterministic per pair, so
        # deduping the FILTERED output — sized by the near-duplicate
        # count, not the candidate count — yields identical rows at
        # output-linear cost (guide §2.3: shuffle fewer bytes; the
        # post-filter relation is the smallest thing in the pipeline).
        cand = a.join(
            b, (a.cell == b.cell2) & (F.col("id_a") < F.col("id_b"))
        ).select("id_a", "id_b")
        out = embedding_verify(
            corpus, cand, id_col, vec_col, threshold
        ).distinct()
        global _LAST_IVF_PAIRS_RESULT
        with _LAST_RESULT_LOCK:
            _release_last(_LAST_IVF_PAIRS_RESULT)
            _LAST_IVF_PAIRS_RESULT = None
        out = out.persist()
        out.count()
        with _LAST_RESULT_LOCK:
            _LAST_IVF_PAIRS_RESULT = out
        return out
    finally:
        cells.unpersist(blocking=True)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization per vector: ``scale = max(|x|)``,
    ``q_i = round(x_i / scale * 127)`` — the 4× storage/bandwidth cut
    applied to embedding tables before they ship to ANN serving or
    training at 100 TB.  Row-local pure expressions (zero shuffle);
    zero vectors quantize to zeros with scale 0.  Dequantization is
    ``q_i * scale / 127``; max absolute error is ``scale/254``.

    Output: (id, scale rounded 6dp, qvec array<int> in [-127, 127]).
    """
    base = ensure_parallelism(df).select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        F.array_max(
            F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
        ).alias("_scale"),
    )
    q = F.when(
        F.col("_scale") > 0,
        F.transform(
            F.col("_v"),
            lambda x: F.round(x.cast("double") / F.col("_scale") * 127).cast("int"),
        ),
    ).otherwise(F.transform(F.col("_v"), lambda x: F.lit(0)))
    return base.select(
        id_col,
        F.round(F.col("_scale"), 6).alias("scale"),
        q.alias("qvec"),
    )


def label_centroid_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Per-label outlier detection: cosine of every vector against its
    label's mean centroid, lowest ``k`` per label — the embedding-space
    curation op (mislabeled / off-distribution examples surface as the
    least-central members of their own class).

    Plan shape: posexplode to (label, pos, val) → one partial-agg'd
    groupBy for centroids (decimal-exact sums, so centroids are
    identical under any partitioning) → rejoin on (label, pos) →
    per-vector dot/norm aggregation → WindowGroupLimit top-k per label.
    Everything is positional arithmetic on narrow rows; the vectors are
    never rebuilt into arrays and nothing driver-side touches the data.
    At 100 TB both shuffles key on (label, pos) / (vec_id) — high
    cardinality, no skew beyond label imbalance (salt the centroid agg
    if one label dominates)."""
    pos = df.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    cent = (
        pos.groupBy("lbl", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
    )
    # decimal partial sums: dot/norms exact under any partitioning
    scored = (
        pos.join(cent, ["lbl", "pos"])
        .groupBy("vid", "lbl")
        .agg(
            F.sum((F.col("val") * F.col("c")).cast("decimal(38,18)"))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("val") * F.col("val")).cast("decimal(38,18)"))
            .cast("double")
            .alias("nv"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(38,18)"))
            .cast("double")
            .alias("nc"),
        )
        .withColumn(
            "centroid_cos",
            F.round(F.col("dot") / (F.sqrt("nv") * F.sqrt("nc")), 6),
        )
    )
    w = Window.partitionBy("lbl").orderBy("centroid_cos", "vid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("vid").alias(id_col),
            F.col("lbl").alias(label_col),
            "centroid_cos",
            F.col("rk").alias("outlier_rank"),
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_centroids: int | None = None,
    iterations: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with deterministic
    k-means, then mark every vector that has a SAME-CLUSTER neighbor
    with cosine ≥ ``threshold`` and a smaller id as a semantic
    duplicate of that neighbor (keep-lowest-id policy).  Returns one
    row per dropped vector: (vec_id, cell, keeper_id, cosine_sim) where
    keeper is the most-similar lower-id cluster-mate (ties by id).

    Scale plan (100 TB): the quadratic step is confined WITHIN Voronoi
    cells — cost Σ|cell|², never n² — and the cluster count MUST grow
    with the corpus so |cell| stays bounded.  ``n_centroids=None`` (the
    default) enforces that rule instead of documenting it: k is derived
    from the corpus count as :func:`auto_n_centroids` (one cheap count
    action; ``max(16, n // 128)`` — occupancy-constant, so within-cell
    work is LINEAR in n).  The round-11 sf1 sweep measured what a
    pinned k costs: ×23.6 wall for ×10 data at k=16.  Pass an explicit
    ``n_centroids`` to override.  Centroids broadcast, cell assignment
    is map-side, and the only data shuffle is the equi-join on cell.

    With k ∝ n the flat n·k assignment is itself Θ(n²/occupancy) — the
    r12 sf10 probe measured it as the dominant term (569 s) after the
    training fix.  Past ``ASSIGN_GEMM_MIN_K`` (k ≥ 256; never at an
    oracle-gate scale, where auto-k = 16) :func:`assign_cells`
    therefore evaluates the SAME flat argmax as an Arrow-batched numpy
    GEMM (sf10-measured agreement 1.0, ~50× less CPU than the
    expression fan-out); the within-cell dedup semantics are unchanged
    (a vector is still compared exactly against every cluster-mate).
    The Θ(n·√k) two-level scheme stays opt-in — it measured 0.438
    argmax agreement on this fixture's structureless random vectors
    and silently cost 22% of reported duplicates when it was briefly
    the default (see TWO_LEVEL_COARSE_NPROBE).

    Pass ``centroids=`` (a trained ``(cent_id, c_vec)`` table) to skip
    training — used by the bench to time the prune path separately from
    the fixed-job-count k-means loop, and the natural production shape
    (train once, dedup many shards against the same model)."""
    if centroids is not None:
        cents = centroids
    else:
        n = corpus.count()
        if n_centroids is None:
            n_centroids = auto_n_centroids(n)
        cents = kmeans_centroids(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            k=n_centroids,
            iterations=iterations,
            # cap the Lloyd passes at ~25k training vectors: with
            # corpus-scaled k the full-corpus loop is Θ(n²/occupancy)
            # (sf10: 1630 s, training-dominated); inert (mod=1) at
            # every gate fixture
            train_sample_mod=kmeans_train_mod(n),
        )
    # per-vector norm materialized ONCE after assignment (row-local,
    # non-cheap so CollapseProject keeps it) — the within-cell pair
    # scoring below then does one dot per pair, not dot + two norms
    # n_centroids is known on the auto/trained path; with corpus-scaled
    # k it is what flips the assignment to two-level past the swap
    # point (the r12-deferred n·k term).  A caller-supplied centroid
    # table without n_centroids stays on the flat exact path.
    # ONE assignment pass at corpus-scaled k (r13): the within-cell
    # self-join consumes the assignment subtree on BOTH sides, running
    # the n·k argmax — the operator's measured dominant term at
    # corpus-scaled k (sf10: 569 s) — twice per invocation.  Past
    # SEMANTIC_ONE_PASS_MIN_K the assignment is persisted for the
    # invocation with the containment_topk release lifecycle (eager
    # bounded result, corpus-scaled relation unpersisted before
    # returning, previous result released first so no invocation can
    # serve another's cache).  Below the swap point the historical
    # two-derive shape is kept unchanged — see the constant's note for
    # the measured trade.  Row values are identical on both paths (the
    # persist is a materialization boundary, not a plan change;
    # test-pinned by monkeypatching the threshold).
    one_pass = (
        n_centroids is not None and n_centroids >= SEMANTIC_ONE_PASS_MIN_K
    )
    cells = assign_cells(
        ensure_parallelism(corpus), cents, "_id", "_vec", id_col, vec_col,
        n_centroids=n_centroids,
    ).withColumn("_nrm", norm(F.col("_vec")))
    if one_pass:
        cells = cells.persist()
    hi = cells.select(
        F.col("cell"),
        F.col("_id").alias("vec_id"),
        F.col("_vec").alias("_v_hi"),
        F.col("_nrm").alias("_n_hi"),
    )
    lo = cells.select(
        F.col("cell").alias("cell2"),
        F.col("_id").alias("keeper_id"),
        F.col("_vec").alias("_v_lo"),
        F.col("_nrm").alias("_n_lo"),
    )
    pairs = (
        hi.join(lo, (hi.cell == lo.cell2) & (F.col("vec_id") > F.col("keeper_id")))
        .select(
            "vec_id",
            "cell",
            "keeper_id",
            F.round(
                dot(F.col("_v_hi"), F.col("_v_lo"))
                / (F.col("_n_hi") * F.col("_n_lo")),
                4,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    w_keep = Window.partitionBy("vec_id").orderBy(
        F.col("cosine_sim").desc(), F.col("keeper_id")
    )
    out = (
        pairs.withColumn("_rk", F.row_number().over(w_keep))
        .filter(F.col("_rk") == 1)
        .select("vec_id", "cell", "keeper_id", "cosine_sim")
        .orderBy("vec_id")
    )
    if not one_pass:
        return out
    try:  # always release the corpus-keyed persist (r14, advisor item)
        global _LAST_SEMANTIC_DEDUP_RESULT
        with _LAST_RESULT_LOCK:
            _release_last(_LAST_SEMANTIC_DEDUP_RESULT)
            _LAST_SEMANTIC_DEDUP_RESULT = None
        out = out.persist()
        out.count()
        with _LAST_RESULT_LOCK:
            _LAST_SEMANTIC_DEDUP_RESULT = out
        return out
    finally:
        cells.unpersist(blocking=True)


def covariance_sufficient_stats(q: DataFrame, dim: int = 64) -> DataFrame:
    """ALL covariance sufficient statistics from ONE Arrow-batched pass
    over a micro-quantized (BIGINT component) embedding relation ``q``
    (single array column ``q``): per batch of vectors Q, one int64
    Gram product QᵀQ yields every pairwise Σqᵢqⱼ (i<j) AND the
    diagonal Σqᵢ² — plus column sums Σqᵢ and the row count — emitted as
    (di, dj, p) partials:

      di <  dj : Σ qᵢ·qⱼ  (the covariance numerator's cross term)
      di == dj : Σ qᵢ²
      dj == -1 : Σ qᵢ
      (-1, -1) : batch row count

    EXACT integer arithmetic end-to-end: numpy int64 matmul of the
    already-quantized components is the same multiset of products the
    Catalyst expression fan-out sums, and integer addition is
    order-free, so the downstream DECIMAL(38,0) aggregate is
    bit-identical to the expression form at every scale — this kernel
    is a pure physical swap (the r12 verdict's named optimization: the
    2,016-product-per-row expression fan-out cost ~13× DuckDB's
    vectorized scan at 200k×64).  Per-batch partials are emitted
    without cross-batch accumulation so the int64 envelope is
    provable: |component| ≤ 1e6 ⇒ |product| ≤ 1e12, and the kernel
    asserts batch_rows ≤ 1e6 ⇒ |partial| ≤ 1e18 < 2⁶³ (Arrow batches
    default to 10k rows; the assert turns a silent wrap into a loud
    failure if someone raises maxRecordsPerBatch past the envelope).
    Shuffle volume: ≤ (dim²/2 + 3·dim/2 + 1) rows per batch —
    corpus-size-free, the map-side-combine economics of the expression
    form preserved.

    This is one of the repo's documented Arrow-batched exceptions to
    the builtins-first rule (a GEMM is exactly what expression codegen
    cannot vectorize across columns)."""

    def part(batches):
        import numpy as np
        import pandas as pd

        iu0, iu1 = np.triu_indices(dim)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            assert n <= 1_000_000, (
                "covariance_sufficient_stats: arrow batch of "
                f"{n:,} rows exceeds the 1e6 int64-overflow envelope"
            )
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            G = Q.T @ Q
            sx = Q.sum(axis=0)
            di = np.concatenate(
                [iu0, np.arange(dim), np.array([-1])]
            ).astype(np.int32)
            dj = np.concatenate(
                [iu1, np.full(dim, -1), np.array([-1])]
            ).astype(np.int32)
            p = np.concatenate([G[iu0, iu1], sx, np.array([n])]).astype(
                np.int64
            )
            yield pd.DataFrame({"di": di, "dj": dj, "p": p})

    return q.select("q").mapInPandas(part, "di int, dj int, p long")


# --- product quantization (IVF-PQ's compression half) -----------------------

def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 4,
    k: int = 16,
    iterations: int = 2,
) -> tuple[list[DataFrame], int]:
    """Product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and train an independent deterministic k-means
    codebook (``kmeans_centroids`` — lowest-id seeds, 4dp-rounded
    cosine argmax, decimal-exact means) in each.  Returns the list of
    per-subspace centroid tables and the subspace width.

    This is the compression half of FAISS-style IVF-PQ: a vector is
    represented by m small codes (here m=4 codes of 4 bits each — a
    64-float vector becomes 2 bytes, 128x smaller), and retrieval
    scores against RECONSTRUCTIONS assembled from codebook entries, so
    the query path never touches the original vectors.  Cosine is used
    as the subspace metric for consistency with the rest of the
    similarity family (IP-family PQ)."""
    seed = corpus.select(vec_col).first()
    if seed is None:
        raise ValueError("pq_codebooks: empty corpus")
    dim = len(seed[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for s in range(m):
        sliced = corpus.select(
            id_col, F.slice(vec_col, s * sub + 1, sub).alias(vec_col)
        )
        # localCheckpoint the k-row codebook: PQ consumers broadcast
        # every book several times (encode + reconstruct = 2m broadcast
        # subtrees per query), and a raw local-relation book re-pays
        # plan embedding/serialization per broadcast — measured 2-3x on
        # the b19 timed path (~1.0 s checkpointed vs 2.1-3.4 s inline).
        # One tiny eager job per book, off the recurring path.
        books.append(
            kmeans_centroids(
                sliced, id_col, vec_col, k=k, iterations=iterations
            ).localCheckpoint()
        )
    return books, sub


def pq_encode(
    corpus: DataFrame,
    books: list[DataFrame],
    sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` codebook ids (``code0..code{m-1}``)
    — per subspace, the same 4dp-rounded cosine argmax (cent_id
    tie-break) as ``assign_cells``.

    Physical strategy (r14): past ``ASSIGN_GEMM_MIN_K`` — the regime
    where the m·k interpreted folds per row are the encode's dominant
    term (the bottleneck class the assignment GEMM already solved) —
    the codebooks are collected once (MODELS, bounded by
    ``ASSIGN_GEMM_MAX_K``; oversized books fall back) and all ``m``
    codes are computed in ONE Arrow-batched pass through the bit-exact
    assignment kernel (``exact_np.lloyd_assign``: provably identical
    sequential folds, shortest-repr HALF_UP rounding, (sim DESC,
    cent_id ASC) tie-break), with zero exchanges and zero joins —
    the aggregate form pays one per-id combine exchange plus one id
    equi-join PER SUBSPACE.  Below the swap point (every gate/bench
    fixture: k=16) the r13 aggregate form is kept — a 6-rep A/B at
    sf0.1 measured the joinless row-local expression rewrite LOSING
    (1.3-1.4 s vs 1.0-1.1 s noop: interpreted array-lambda overhead
    exceeds the exchange cost at tiny k), the same honest trade as
    semantic_dedup's gated one-pass persist.  The kernel path encodes
    per ROW; ids are expected unique (a PQ index is keyed by id — the
    aggregate form collapses duplicate ids)."""
    if not books:
        return _pq_encode_agg(corpus, books, sub, id_col, vec_col)
    # strategy probe, memoized like _QUERY_COUNT_MEMO (by plan and file
    # versions; a stale entry could only pick between two exact
    # strategies) — repeated encodes against the same trained books pay
    # the probe job once
    key = _plan_key(books[0])
    n0 = _PQ_BOOK_PROBE_MEMO.get(key)
    if n0 is None:
        n0 = books[0].limit(ASSIGN_GEMM_MIN_K).count()
        if key is not None:
            if len(_PQ_BOOK_PROBE_MEMO) >= _QUERY_COUNT_MEMO_MAX:
                _PQ_BOOK_PROBE_MEMO.clear()
            _PQ_BOOK_PROBE_MEMO[key] = n0
    if n0 >= ASSIGN_GEMM_MIN_K:
        book_rows = []
        for cb in books:
            rows = cb.orderBy("cent_id").limit(ASSIGN_GEMM_MAX_K + 1).collect()
            if len(rows) > ASSIGN_GEMM_MAX_K:
                return _pq_encode_agg(corpus, books, sub, id_col, vec_col)
            book_rows.append(rows)
        return _pq_encode_kernel(corpus, book_rows, sub, id_col, vec_col)
    return _pq_encode_agg(corpus, books, sub, id_col, vec_col)


#: pq_encode strategy-probe memo (``_plan_key`` of the book → limited
#: count); see pq_encode — strategy-only state, keyed like
#: _QUERY_COUNT_MEMO
_PQ_BOOK_PROBE_MEMO: dict[tuple, int] = {}


def _pq_encode_kernel(
    corpus: DataFrame, book_rows: list, sub: int, id_col: str, vec_col: str
) -> DataFrame:
    """All-m-subspace PQ encode as ONE Arrow-batched pass through the
    bit-exact assignment kernel — engaged past ASSIGN_GEMM_MIN_K, never
    at an oracle-gate scale.  Degenerate inputs fail loud exactly like
    the Lloyd kernel (the expression plan raises there too)."""
    import numpy as np

    spark = corpus.sparkSession
    payload = []
    for rows in book_rows:
        ids = np.asarray([r["cent_id"] for r in rows], dtype=np.int64)
        C = np.asarray([list(r["c_vec"]) for r in rows], dtype=np.float64)
        payload.append((ids, C))
    bc = spark.sparkContext.broadcast((payload, sub))
    id_field = corpus.select(id_col).schema.fields[0]
    out_schema = f"`{id_field.name}` {id_field.dataType.simpleString()}, " + ", ".join(
        f"code{s} bigint" for s in range(len(book_rows))
    )

    def part(batches):
        import numpy as np
        import pandas as pd

        from hadoop_20_spark.operators import exact_np

        books_np, width = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = list(pdf[vec_col])
            need = width * len(books_np)
            if any(v is None or len(v) < need for v in vecs):
                raise ValueError(
                    "pq_encode: NULL or short vector — the kernel "
                    "requires full-width finite vectors (the expression "
                    "plan degenerates to NULL sims here; fail loud)"
                )
            V = np.asarray([v[:need] for v in vecs], dtype=np.float64)
            if not np.isfinite(V).all():
                raise ValueError(
                    "pq_encode: non-finite vector — round() on a "
                    "non-finite similarity raises in the expression plan"
                )
            data = {id_field.name: pdf[id_field.name]}
            for s, (cid_arr, cmat) in enumerate(books_np):
                W = V[:, s * width : (s + 1) * width]
                if (exact_np.seq_norm(W) == 0).any() or (
                    exact_np.seq_norm(cmat) == 0
                ).any():
                    raise ValueError(
                        "pq_encode: zero-norm subvector/codebook entry — "
                        "cosine is an ANSI DIVIDE_BY_ZERO; fail loud"
                    )
                data[f"code{s}"] = exact_np.lloyd_assign(W, cid_arr, cmat)
            yield pd.DataFrame(data)

    return corpus.select(id_col, vec_col).mapInPandas(part, out_schema)


def _pq_encode_agg(
    corpus: DataFrame,
    books: list[DataFrame],
    sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The r13 aggregate form (per-subspace broadcast crossJoin +
    max(struct) combine + id join-back) — retained as the fallback for
    codebooks too large to collect under ASSIGN_GEMM_MAX_K."""
    out = corpus.select(id_col)
    for s, cb in enumerate(books):
        sv = F.slice(vec_col, s * sub + 1, sub)
        # Norm hoisting (r13): the subvector's norm is a projection
        # below the crossJoin (one fold per row, not per code) and the
        # codebook entries carry theirs on the broadcast side (one fold
        # per entry at broadcast build) — sim is the exact cosine()
        # operation tree, evaluated with hoisted norms.
        a = (
            corpus.select(
                F.col(id_col),
                sv.alias("_sv"),
                norm(sv).alias("_nv"),
            )
            .crossJoin(
                F.broadcast(
                    cb.select(
                        "cent_id",
                        "c_vec",
                        norm(F.col("c_vec")).alias("c_nrm"),
                    )
                )
            )
            .select(
                id_col,
                "cent_id",
                F.round(
                    dot(F.col("_sv"), F.col("c_vec"))
                    / (F.col("_nv") * F.col("c_nrm")),
                    4,
                ).alias("sim"),
            )
            .groupBy(id_col)
            .agg(
                F.max(
                    F.struct(F.col("sim"), (-F.col("cent_id")).alias("_neg"))
                ).alias("_best")
            )
            .select(id_col, (-F.col("_best._neg")).alias(f"code{s}"))
        )
        out = out.join(a, id_col)
    return out


def pq_reconstruct(
    codes: DataFrame, books: list[DataFrame], id_col: str = "vec_id"
) -> DataFrame:
    """Assemble each coded vector's reconstruction by concatenating its
    m codebook entries — m broadcast joins against 16-row codebooks;
    the original vectors are never read (the index IS codes +
    codebooks)."""
    rec = codes
    parts = []
    for s, cb in enumerate(books):
        rec = rec.join(
            F.broadcast(
                cb.select(
                    F.col("cent_id").alias(f"code{s}"),
                    F.col("c_vec").alias(f"_cv{s}"),
                )
            ),
            f"code{s}",
        )
        parts.append(F.col(f"_cv{s}"))
    return rec.select(F.col(id_col), F.concat(*parts).alias("recon"))


def truncation_recall_audit(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32, 64),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncation study: recall@k of PREFIX-TRUNCATED
    cosine retrieval vs the full-dimension exact top-k, one row per
    truncation width.

    The operating question for a 100 TB embedding store: how many
    leading coordinates must the scan actually read (column-pruned
    prefix, 8× less I/O at dim 8) before ranking quality collapses?
    The last entry of ``dims`` is the full dimension and serves as the
    baseline — its recall row is the 1.0 sanity anchor.

    Plan: queries broadcast (DistributedCache idiom, as cosine_topk);
    the per-pair product array is materialized ONCE per candidate pair
    and each truncated dot is a prefix ``slice`` of it — 1 zip_with +
    len(dims) cheap prefix aggregates instead of len(dims) full dot
    products, and norms are per-vector side-local projections.  The
    dims axis explodes only AFTER scoring, so the corpus-sized scan is
    paid once; the (dim, query) top-k window shuffles candidate rows
    |dims|× — at 100 TB cut that with per-partition partial top-k
    exactly as cosine_topk documents.  Determinism: sequential-order
    double sums, 4dp rounding, neighbor-id tie-break (SURVEY §7.4)."""
    full = dims[-1]
    assert full == max(dims), "last dims entry must be the full dimension"

    def _norms(df: DataFrame, vec: str, pfx: str) -> DataFrame:
        for d in dims:
            df = df.withColumn(f"_{pfx}{d}", norm(F.slice(F.col(vec), 1, d)))
        return df

    q = _norms(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "q_vec",
        "nq",
    )
    c = _norms(
        ensure_parallelism(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_vec",
        "nc",
    )
    prods = F.zip_with(
        F.col("q_vec"), F.col("c_vec"), lambda x, y: x.cast("double") * y.cast("double")
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_p", prods)
    )
    sim_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("dim"),
                F.round(
                    F.aggregate(
                        F.slice(F.col("_p"), 1, d), F.lit(0.0), lambda a, v: a + v
                    )
                    / (F.col(f"_nq{d}") * F.col(f"_nc{d}")),
                    4,
                ).alias("cosine_sim"),
            )
            for d in dims
        ]
    )
    scored = pairs.select(
        "query_id", "neighbor_id", F.explode(sim_structs).alias("e")
    ).select("query_id", "neighbor_id", "e.dim", "e.cosine_sim")
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    # topk feeds TWO consumers (the full-dim baseline and the overlap
    # join); persisted so the expensive score-everything subtree runs
    # once — it is |dims| * |queries| * k rows, trivially cacheable.
    topk = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("dim", "query_id", "neighbor_id")
        .persist()
    )
    base = (
        topk.filter(F.col("dim") == full)
        .select("query_id", "neighbor_id")
        .withColumn("_in_full", F.lit(1))
    )
    # LEFT join + indicator (not a semi join) so a truncation width with
    # ZERO overlap still emits its row — the oracle's LEFT JOIN shape.
    return (
        topk.join(F.broadcast(base), ["query_id", "neighbor_id"], "left")
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("topk_pairs"),
            F.sum(F.coalesce(F.col("_in_full"), F.lit(0))).cast("long").alias("_hits"),
        )
        .select(
            F.col("dim").alias("trunc_dim"),
            "topk_pairs",
            F.col("_hits").alias("overlap_with_full"),
            F.round(F.col("_hits") * F.lit(1.0) / F.col("topk_pairs"), 4).alias(
                "recall_at_k"
            ),
        )
        .orderBy("trunc_dim")
    )
