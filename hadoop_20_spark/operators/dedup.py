"""Deduplication for training-data pipelines (north-star extension).

Reference analogs: the distinct idiom (SURVEY §2.5), MD5Hash
(core/io/MD5Hash.java) for content fingerprints, bloom filters
(core/util/bloom/) for approximate membership.  The near-dup family
(MinHash-LSH, SimHash, n-gram Jaccard) is new surface, built
Spark-first:

- signatures are pure built-in expressions (codegen; no UDFs, no shuffle);
- candidate generation is a band-bucket shuffle (groupBy band signature),
  the standard LSH trick that avoids the O(n²) all-pairs join;
- verification joins only candidate pairs.

Scale posture at 100 TB: signature computation is embarrassingly
parallel; the only shuffles are (a) the band-bucket groupBy, whose skew
(a band shared by millions of docs) is handled by capping bucket size,
and (b) the verify join, which is tiny relative to the corpus.
All hashing is engine-portable md5 (see functions.md5_long) so every
deterministic stage is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_20_spark.functions import (
    MERSENNE31,
    ensure_parallelism,
    hash_coeffs,
    md5_long,
    tokens,
)


# --- exact dedup ------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct content, keeping
    the minimum id (deterministic keeper) and the duplicate count.

    Hash-groupBy with map-side partial agg — the combiner-backed distinct
    idiom.  Hashing the content (md5) instead of grouping raw text keeps
    shuffle rows small at 100 TB (32-byte keys, not document bodies)."""
    return (
        df.select(F.md5(F.col(content_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --- minhash ----------------------------------------------------------------
#
# The MinHash, LSH-banding and paragraph-dedup plans are built as SQL
# expression strings: one parse per expression instead of py4j round
# trips per Column node (a single ``F.col`` costs ~13), which took a
# ``minhash_lsh_candidates`` build from ~2,400 round trips to ~70 and a
# ``paragraph_dedup`` build from ~650 to ~100.  Caller-supplied column
# names are quoted with ``_ident``; lambda variables are ``__``-prefixed
# so they never shadow a column.

def _ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _str_lit(s: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _shingles_sql(text: str, shingle: int) -> str:
    """Word ``shingle``-grams of column ``text`` (whitespace tokens, empty
    tokens dropped), at least one per row.  The token array is let-bound
    once per row (``transform(array(e), v -> body)[0]``, the lambda-CSE
    rule of ``functions.let``): referencing the tokenizer from the
    per-position lambda would re-tokenize per shingle position."""
    toks = rf"filter(split({_ident(text)}, '\\s+'), __w -> __w != '')"
    return (
        f"transform(array({toks}), __t -> transform("
        f"sequence(1, greatest(size(__t) - {shingle} + 1, 1)), "
        f"__i -> array_join(slice(__t, __i, {shingle}), ' ')))[0]"
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle: int = 3
) -> DataFrame:
    """Per-doc MinHash signature table ``(id, mh0..mh{k-1})`` —
    deterministic and oracle-checkable (hash_coeffs reproduces the family
    in any engine).

    Two-phase select so the md5 pass runs once, not k×: the base hash
    array is ``md5_long(shingle) mod 2^31-1`` per word-shingle, and all k
    minhash functions derive from it with two multiplications — the
    universal-hashing construction of Broder's minwise permutations (one
    hash per element, k cheap (a·h+b) mod p rehashes), which cuts
    signature cost k-fold.

    The signature pass is CPU-bound (md5 per shingle) with lambda
    subtrees Spark's subexpression elimination skips, so parallelism
    must not be hostage to the input split count — ``ensure_parallelism``
    round-robins small inputs across all cores (no-op at scale)."""
    idq = _ident(id_col)
    hs = ensure_parallelism(df).selectExpr(
        idq,
        f"transform({_shingles_sql(text_col, shingle)}, "
        f"__s -> CAST(conv(substring(md5(__s), 1, 15), 16, 10) AS BIGINT)"
        f" % {MERSENNE31}) AS _hs",
    )
    return hs.selectExpr(
        idq,
        *[
            f"array_min(transform(_hs, __h -> (__h * {a} + {b}) % {MERSENNE31})) AS mh{i}"
            for i, (a, b) in enumerate(hash_coeffs(num_hashes))
        ],
    )


def _band_keys(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, bands: int, shingle: int
) -> DataFrame:
    """``(id, band_key)``: one row per document and band, ``band_key`` =
    ``struct(band, h0..h{k/bands-1})`` — the band's slice of the MinHash
    signature, tagged with its band number."""
    rows_per_band = num_hashes // bands
    keys = ", ".join(
        "named_struct('band', {}, {})".format(
            b,
            ", ".join(
                f"'h{r}', mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle)
    return sig.selectExpr(_ident(id_col), f"explode(array({keys})) AS band_key")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding: split the k-wide signature into ``bands`` bands of
    k/bands rows; docs agreeing on any whole band become candidate pairs.

    Plan shape: signatures (narrow) → explode bands (k/bands-tuple key) →
    groupBy band-key collect ids → emit intra-bucket pairs.  ``max_bucket``
    caps degenerate buckets (boilerplate/empty docs) — the LSH analog of
    skew-salting; dropped buckets are reported upstream rather than
    silently exploding into O(b²) pairs at 100 TB.
    """
    buckets = (
        _band_keys(df, id_col, text_col, num_hashes, bands, shingle)
        .groupBy("band_key")
        .agg(F.expr(f"sort_array(collect_list({_ident(id_col)})) AS ids"))
    )
    return (
        buckets.where(f"size(ids) >= 2 AND size(ids) <= {max_bucket}")
        .selectExpr(
            "explode(flatten(transform(ids, (__a, __i) -> transform("
            "slice(ids, __i + 2, size(ids)), "
            "__b -> named_struct('id_a', __a, 'id_b', __b))))) AS p"
        )
        .selectExpr("p.id_a AS id_a", "p.id_b AS id_b")
        .distinct()
    )


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Observability for the ``max_bucket`` cap: per-band bucket-size
    distribution plus how many buckets (and ids) the candidate pass will
    DROP as degenerate.  SCALE.md's contract is that capped drops are
    observable, not silent — run this beside ``minhash_lsh_candidates``
    with the same parameters and alert on ``n_dropped_buckets``."""
    sizes = (
        _band_keys(df, id_col, text_col, num_hashes, bands, shingle)
        .groupBy("band_key")
        .agg(F.expr("count(1) AS sz"))
    )
    return sizes.selectExpr(
        "count(1) AS n_buckets",
        "CAST(sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_candidate_buckets",
        f"CAST(sum(CASE WHEN sz > {max_bucket} THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_dropped_buckets",
        f"CAST(sum(CASE WHEN sz > {max_bucket} THEN sz ELSE 0 END) AS BIGINT)"
        " AS n_dropped_ids",
        "max(sz) AS max_bucket_size",
    )


# --- n-gram / token Jaccard (exact verify) ----------------------------------

def _shingle_col(text_col: str, shingle: int) -> Column:
    """Whitespace tokens of ``text_col`` (``shingle`` = 1) or its word
    ``shingle``-grams."""
    if shingle > 1:
        return F.expr(_shingles_sql(text_col, shingle))
    return tokens(text_col)


def _shingle_postings(df: DataFrame, id_col: str, text_col: str, shingle: int) -> DataFrame:
    """Exploded (did, sh) postings, one row per distinct shingle per doc."""
    return ensure_parallelism(df).select(
        F.col(id_col).alias("did"),
        F.explode(F.array_distinct(_shingle_col(text_col, shingle))).alias("sh"),
    )


# Default ceiling on the pre-flight candidate-pair bound of the exact
# Jaccard joins (Σ C(bucket, 2) over the join-key histogram).  2e9 pairs
# is already far past anything a verifier should materialize; the point
# is a DESIGNED error with the measured estimate, not an executor OOM.
JACCARD_MAX_CANDIDATE_PAIRS = 2_000_000_000


def _pair_volume_guard(
    postings: DataFrame, cap: int | None, context: str
) -> None:
    """Fail-loud pre-flight bound for self-join pair volume: the join of
    postings with itself on ``sh`` produces exactly Σ C(n_sh, 2)
    unordered candidate pairs (counted with multiplicity across
    shingles), a quantity ONE cheap aggregate over the bucket histogram
    computes without running the join.  The exact-Jaccard verifiers'
    OUTPUT is quadratic in duplicate-cluster size (this corpus: ~92k
    pairs at 500 docs → 8.9M at 5k → ~1e9 at 50k), so past the cap the
    join dies by executor OOM rather than by design — the same
    house rule as ``BRUTE_FORCE_MAX_ROWS`` (similarity.py) and the
    interval-join over-long guard.  The sum rides DECIMAL(38,0) so the
    bound itself cannot overflow at any corpus size.

    Reference anchor (public hadoop-20): the fan-out-bounding idiom of
    per-bucket caps in ``mapred/lib/InputSampler.java``-style
    pre-sampling — measure the histogram BEFORE committing to the
    shuffle, never after."""
    if cap is None:
        return
    est = (
        postings.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(
                F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1) div 2").cast(
                    "decimal(38,0)"
                )
            ).alias("pairs")
        )
        .collect()[0]["pairs"]
    )
    est = int(est or 0)
    if est > cap:
        raise ValueError(
            f"{context}: candidate-pair volume bound Σ C(bucket,2) = "
            f"{est:,} exceeds max_candidate_pairs={cap:,} — the exact "
            "pair join's OUTPUT would be quadratic in duplicate-cluster "
            "size at this corpus.  Use the MinHash-LSH / SimHash "
            "bucket-then-verify path (bounded buckets) or raise the cap "
            "consciously if you really mean to materialize this many "
            "pairs."
        )


def _pair_volume_guard_cross(
    postings_a: DataFrame,
    postings_b: DataFrame,
    cap: int | None,
    context: str,
    hint: str = (
        "Use a bucket-capped approximate path (MinHash-LSH) or raise "
        "the cap consciously."
    ),
) -> None:
    """Two-relation twin of :func:`_pair_volume_guard`: the equi-join of
    two postings relations on ``sh`` produces exactly Σ n_a(sh)·n_b(sh)
    candidate rows — computed by joining the two per-shingle histograms
    (each a bounded aggregate) before the join itself ever runs.  Same
    DECIMAL(38,0) arithmetic, same designed ValueError over the cap.
    ``hint`` names the path that still works past the cap."""
    if cap is None:
        return
    ha = postings_a.groupBy("sh").agg(F.count(F.lit(1)).alias("__na"))
    hb = postings_b.groupBy("sh").agg(F.count(F.lit(1)).alias("__nb"))
    est = (
        ha.join(hb, "sh")
        .agg(
            F.sum(F.expr("CAST(__na AS DECIMAL(38,0)) * __nb")).alias("pairs")
        )
        .collect()[0]["pairs"]
    )
    est = int(est or 0)
    if est > cap:
        raise ValueError(
            f"{context}: cross-side candidate volume bound Σ n_a·n_b = "
            f"{est:,} exceeds max_candidate_pairs={cap:,} — the postings "
            "join would materialize a quadratic candidate set on this "
            f"corpus.  {hint}"
        )


def jaccard_verify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame,
    threshold: float,
    shingle: int = 1,
) -> DataFrame:
    """EXACT Jaccard for the given candidate ``pairs`` (columns ``id_a``,
    ``id_b``): join each side to its distinct-shingle SET and intersect
    arrays — |pairs| rows through two hash joins on doc id, no shingle
    self-join at all.  This is the verifier stage of every
    bucket-then-verify pipeline (MinHash-LSH / SimHash / DF-pruned
    candidates); cost is linear in the candidate count regardless of how
    hot any shingle is."""
    sets = (
        _shingle_postings(df, id_col, text_col, shingle)
        .groupBy("did")
        .agg(F.sort_array(F.collect_set("sh")).alias("shs"))
    )
    a = sets.select(F.col("did").alias("id_a"), F.col("shs").alias("_shs_a"))
    b = sets.select(F.col("did").alias("id_b"), F.col("shs").alias("_shs_b"))
    inter = F.size(F.array_intersect(F.col("_shs_a"), F.col("_shs_b")))
    # Threshold the UNROUNDED ratio (integer intersection vs t*union):
    # prefix pruning only guarantees candidates for true J >= t, so
    # filtering on a rounded value would admit pairs in [t-5e-7, t)
    # that pruning is free to drop.  Round only the emitted column.
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .withColumn("_i", inter)
        .withColumn("_u", F.size("_shs_a") + F.size("_shs_b") - F.col("_i"))
        .filter(F.col("_i") >= F.lit(float(threshold)) * F.col("_u"))
        .withColumn("jaccard", F.round(F.col("_i") / F.col("_u"), 6))
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle: int = 1,
    allow_full_self_join: bool = False,
    max_candidate_pairs: int | None = JACCARD_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """EXACT Jaccard-similar pairs (``id_a < id_b``, similarity ≥
    ``threshold``) over distinct token/shingle sets.

    Default path is **prefix filtering** (the PPJoin-family similarity
    join): shingles are totally ordered by (document frequency, value) —
    rarest first — and each doc indexes only its first
    ``s - ceil(t*s) + 1`` shingles in that order.  Any pair with
    J ≥ t shares ≥ ``ceil(t*max(|A|,|B|))`` shingles, which provably
    forces a shared *prefix* shingle, so joining prefix postings yields
    every qualifying pair while keeping stopword n-grams (which sort
    last) out of the join — the hot-shingle quadratic blowup of the
    naive self-join never happens.  Candidates are then verified over
    FULL shingle sets via :func:`jaccard_verify`; the result is
    bit-identical to brute force on ANY corpus, by construction.

    ``allow_full_self_join=True`` selects the naive all-pairs self-join
    instead — comparison/debug only; it is quadratic in the hottest
    shingle's document frequency and must never be the 100 TB path.

    Both paths run the :func:`_pair_volume_guard` pre-flight: even a
    LOSSLESS prefix filter cannot shrink the OUTPUT, which is itself
    quadratic in duplicate-cluster size, so past ``max_candidate_pairs``
    (Σ C(bucket, 2) over the join-key histogram — one cheap aggregate)
    the call raises with the measured estimate instead of OOMing an
    executor.  Pass ``max_candidate_pairs=None`` to skip consciously.
    """
    base = _shingle_postings(df, id_col, text_col, shingle)
    if not allow_full_self_join:
        from pyspark.sql import Window

        freq = base.groupBy("sh").agg(F.count(F.lit(1)).alias("_fr"))
        w = Window.partitionBy("did").orderBy("_fr", "sh")
        ranked = base.join(freq, "sh").select(
            "did",
            "sh",
            F.row_number().over(w).alias("_pos"),
            F.count(F.lit(1)).over(Window.partitionBy("did")).alias("_sz"),
        )
        prefix = ranked.filter(
            F.col("_pos")
            <= F.col("_sz") - F.ceil(F.lit(float(threshold)) * F.col("_sz")) + 1
        )
        if max_candidate_pairs is not None:
            # the guard is an extra action over `prefix` — persist so the
            # candidate join reuses the ranked postings instead of
            # re-running both windows
            prefix = prefix.persist()
            _pair_volume_guard(prefix, max_candidate_pairs, "jaccard_pairs")
        a = prefix.select(F.col("did").alias("id_a"), "sh")
        b = prefix.select(F.col("did").alias("id_b"), "sh")
        cand = (
            a.join(b, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        return jaccard_verify(df, id_col, text_col, cand, threshold, shingle)

    if max_candidate_pairs is not None:
        base = base.persist()
        _pair_volume_guard(base, max_candidate_pairs, "jaccard_pairs(full self-join)")
    sizes = base.groupBy("did").agg(F.count(F.lit(1)).alias("sz"))
    a = base.select(F.col("did").alias("id_a"), "sh")
    b = base.select(F.col("did").alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("did").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("did").alias("id_b"), F.col("sz").alias("sz_b"))
    # Same exact-threshold convention as jaccard_verify: filter on the
    # unrounded ratio, round only the emitted column.
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_u", F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
        .filter(F.col("n_common") >= F.lit(float(threshold)) * F.col("_u"))
        .withColumn("jaccard", F.round(F.col("n_common") / F.col("_u"), 6))
        .select("id_a", "id_b", "jaccard")
    )


def incremental_jaccard_pairs(
    existing: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle: int = 1,
    max_candidate_pairs: int | None = JACCARD_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """EXACT Jaccard matches of each NEW (batch) doc against the
    EXISTING corpus only — the incremental-ingest dedup path: returns
    ``(batch_id, existing_id, jaccard)`` for every cross-side pair with
    similarity ≥ ``threshold``.  Intra-side pairs are never generated
    (dedup the batch against itself separately with
    :func:`jaccard_pairs` if needed).

    Same lossless prefix-filter theorem as :func:`jaccard_pairs`, in the
    two-relation form: both sides rank their shingles by ONE shared
    total order (CORPUS document frequency, rarest first, batch-only
    shingles treated as rarest — any shared total order preserves the
    guarantee; corpus DF keeps the order a pure function of the corpus),
    each doc keeps its first ``s - ceil(t*s) + 1`` shingles,
    and candidates come from the cross-side equi-join of the prefix
    postings; verification over full shingle sets makes the result
    bit-identical to brute force.

    Scale plan (100 TB corpus, per-ingest batches): the corpus-side
    postings/prefix index depends only on (corpus, threshold) and is
    persisted once per corpus version, so each ingest pays only the
    batch's shingling plus an equi-join against the indexed prefixes —
    plain ``jaccard_pairs(existing ∪ batch)`` would re-generate every
    corpus-internal candidate pair on every ingest.  The join key is the
    shingle, so hot-shingle fan-out is bounded exactly as in the
    one-relation form (stopword shingles sort last and fall out of the
    prefixes).

    Doc ids must be unique ACROSS the two relations (the verifier keys
    shingle sets by id over their union).

    Pre-flight: :func:`_pair_volume_guard_cross` bounds the candidate
    join (Σ n_batch(sh)·n_corpus(sh) from the two prefix histograms) and
    raises over ``max_candidate_pairs`` — on a heavy-overlap corpus the
    cross-side candidate set is quadratic even though the OUTPUT
    (best-match-per-new-doc) is batch-bounded."""
    ex = _shingle_postings(existing, id_col, text_col, shingle)
    ba = _shingle_postings(batch, id_col, text_col, shingle)
    # Frequency — hence the shared shingle order — comes from the
    # CORPUS ALONE, so the (postings, freq, prefix) index really is a
    # function of (corpus, threshold) and persists unchanged across
    # ingests.  Batch-only shingles default to frequency 0 (rarest):
    # still one fixed total order on (freq, sh), which is all the
    # prefix theorem needs.
    freq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("_fr"))

    def prefix(postings: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy("did").orderBy("_fr", "sh")
        ranked = postings.join(freq, "sh", "left").fillna({"_fr": 0}).select(
            "did",
            "sh",
            F.row_number().over(w).alias("_pos"),
            F.count(F.lit(1)).over(Window.partitionBy("did")).alias("_sz"),
        )
        return ranked.filter(
            F.col("_pos")
            <= F.col("_sz") - F.ceil(F.lit(float(threshold)) * F.col("_sz")) + 1
        )

    pre_ba, pre_ex = prefix(ba), prefix(ex)
    if max_candidate_pairs is not None:
        # the guard adds one action over each prefix relation — persist
        # both so the candidate join reuses the ranked postings
        pre_ba, pre_ex = pre_ba.persist(), pre_ex.persist()
        _pair_volume_guard_cross(
            pre_ba, pre_ex, max_candidate_pairs, "incremental_jaccard_pairs"
        )
    cand = (
        pre_ba
        .select(F.col("did").alias("id_a"), "sh")
        .join(pre_ex.select(F.col("did").alias("id_b"), "sh"), "sh")
        .select("id_a", "id_b")
        .distinct()
    )
    both = existing.select(F.col(id_col), F.col(text_col)).unionByName(
        batch.select(F.col(id_col), F.col(text_col))
    )
    return jaccard_verify(both, id_col, text_col, cand, threshold, shingle).select(
        F.col("id_a").alias("batch_id"),
        F.col("id_b").alias("existing_id"),
        "jaccard",
    )


def _containment_prefix(
    base: DataFrame, threshold_num: int, threshold_den: int
) -> DataFrame:
    """Rarest-first prefix postings for a directed containment join at
    rational threshold num/den: each doc keeps its first
    ``sz - ceil(num*sz/den) + 1`` shingles under the (document
    frequency, shingle) total order — lossless (prefix theorem) and
    all-integer (the double ``ceil(0.8*sz)`` rounds up for many sz and
    would silently shorten the prefix)."""
    from pyspark.sql import Window

    freq = base.groupBy("sh").agg(F.count(F.lit(1)).alias("_fr"))
    w = Window.partitionBy("did").orderBy("_fr", "sh")
    ranked = base.join(freq, "sh").select(
        "did",
        "sh",
        F.row_number().over(w).alias("_pos"),
        F.count(F.lit(1)).over(Window.partitionBy("did")).alias("_sz"),
    )
    ceil_t = F.expr(
        f"({threshold_num} * _sz + {threshold_den} - 1) DIV {threshold_den}"
    )
    return ranked.filter(F.col("_pos") <= F.col("_sz") - ceil_t + 1)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
    shingle: int = 1,
    max_candidate_pairs: int | None = JACCARD_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """DIRECTED set-containment join: pairs ``(id_a, id_b)``, a ≠ b,
    with ``|A ∩ B| / |A| >= num/den`` over distinct token/shingle sets
    — the asymmetric twin of :func:`jaccard_pairs`.  Containment
    catches what Jaccard misses: a short doc fully quoted inside a much
    longer one has high containment but low Jaccard (the union is
    dominated by the long doc), which is exactly the
    quote-expansion/boilerplate-inclusion case a dedup pipeline must
    see.

    Prefix filter (lossless, SSJoin/PPJoin family): order shingles by
    (document frequency, value) rarest-first; if fewer than
    ``|A| - ceil(t*|A|) + 1`` of A's rarest shingles are probed, a pair
    with containment ≥ t cannot be missed — if NONE of A's first k
    shingles hit B, at most |A|-k can, so k ≤ |A| - ceil(t|A|) still
    admits the pair.  Candidates join A's PREFIX postings against B's
    FULL postings (asymmetric: only the probe side prunes); the prefix
    holds A's rarest shingles, so the join fans out by RARE-shingle df,
    never by stopword df.  Verification is exact intersection over
    full sets.

    The threshold is a RATIONAL num/den and every comparison is
    integer (``den*|A∩B| >= num*|A|``; the ceil is integer too):
    ``ceil(0.8*sz)`` in IEEE doubles rounds UP for many sz (0.8*10 =
    8.000000000000002 → ceil 9), silently shortening the prefix and
    losing pairs — the integer form cannot."""
    base = _shingle_postings(df, id_col, text_col, shingle)
    prefix = _containment_prefix(base, threshold_num, threshold_den)
    if max_candidate_pairs is not None:
        # asymmetric join (A-prefix x B-FULL postings): bound it with the
        # cross-histogram product before running it
        prefix = prefix.persist()
        base = base.persist()
        _pair_volume_guard_cross(
            prefix,
            base,
            max_candidate_pairs,
            "containment_pairs",
            hint=(
                "For an output-linear report that still works past this "
                "volume, use containment_topk (per-doc top-k containers "
                "with a deterministic per-shingle posting cap) instead "
                "of the full pair join, or raise the cap consciously."
            ),
        )
    cand = (
        prefix.select(F.col("did").alias("id_a"), "sh")
        .join(base.select(F.col("did").alias("id_b"), "sh"), "sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = (
        base.groupBy("did")
        .agg(F.sort_array(F.collect_set("sh")).alias("shs"))
    )
    a = sets.select(F.col("did").alias("id_a"), F.col("shs").alias("_shs_a"))
    b = sets.select(F.col("did").alias("id_b"), F.col("shs").alias("_shs_b"))
    inter = F.size(F.array_intersect(F.col("_shs_a"), F.col("_shs_b")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("_i", inter)
        .filter(
            F.col("_i") * threshold_den >= F.size("_shs_a") * threshold_num
        )
        .withColumn("containment", F.round(F.col("_i") / F.size("_shs_a"), 6))
        .select("id_a", "id_b", "containment")
    )


def _auto_posting_cap(
    n_prefix_rows: int,
    budget: int = 600_000_000,
    lo: int = 64,
    hi: int = 1000,
) -> int:
    """Corpus-scaled per-shingle posting cap: candidates are bounded by
    ``cap * n_prefix_rows`` (each prefix posting meets at most ``cap``
    container postings), so ``cap = budget // n_prefix_rows`` keeps the
    candidate join under ``budget`` AT ANY CORPUS SIZE — the
    corpus-scaled-k discipline of ``auto_n_centroids`` applied to the
    containment report (the sf10 probe caught the fixed cap of 1000
    tripping the 2e9 volume guard at 500k docs: linear, but with a
    constant one decade too fat; a 1.8e9 first cut then measured ~40
    min of verify wall, so the budget is sized to the verify's real
    cost, not just the guard).  Clamped to [lo, hi]: small corpora keep
    the full cap (every gate scale AND sf1 resolve to 1000 — ~52k and
    ~522k prefix rows respectively — so those results are bit-for-bit
    unchanged), and the floor keeps recall from collapsing on extreme
    corpora — past that, batch the probe side (the
    incremental_jaccard_pairs shape)."""
    if n_prefix_rows <= 0:
        return hi
    return max(lo, min(hi, budget // n_prefix_rows))


# The one small cached relation a containment_topk invocation leaves
# behind (its <= n*k result); the next invocation releases it.
_LAST_TOPK_RESULT: DataFrame | None = None


def containment_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    shingle: int = 1,
    max_posting_df: int | None | str = "auto",
    max_candidate_pairs: int | None = JACCARD_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """OUTPUT-LINEAR containment report: for every doc, its top-``k``
    containers — ``(doc_id, container_id, containment, rank)`` with
    ``|A ∩ B| / |A| ≥ num/den``, ranked by (containment desc,
    container_id).  The report form of :func:`containment_pairs` for
    the curation question "which docs are quoted inside which" at
    corpus scale: the PAIR form's output is quadratic in
    duplicate-cluster size (477 s at the 50k-doc sf1 fixture; its guard
    raises one decade up), while this report is ≤ n·k rows at any
    corpus size — the same report-not-pairs discipline as
    ``dup_span_report`` and the batch-bounded shape of
    ``incremental_jaccard_pairs``.

    Candidate volume is bounded BY CONSTRUCTION, not merely checked:
    the container side's postings are capped at ``max_posting_df``
    docs per shingle — the ``max_bucket`` discipline of
    ``minhash_lsh_candidates``, made DETERMINISTIC (each shingle keeps
    its lowest-``max_posting_df`` doc ids via one rank window), so the
    exact same cap is expressible in the DuckDB oracle and the result
    stays hash-checkable at every scale: the approximation lives in
    the operator's CONTRACT, never in engine drift.  Candidates are
    then ≤ Σ_A |prefix(A)| · max_posting_df — LINEAR in the corpus —
    versus the uncapped Σ n_prefix(sh)·df(sh), which is quadratic on
    duplicate-heavy corpora.  A shingle hits the cap only when > cap
    docs contain it, i.e. when it is common — and a doc whose ENTIRE
    rarest-first prefix is capped-out shingles is boilerplate cloned
    across > cap docs, whose top-k containers are interchangeable
    members of that clone set anyway.  Recall for everything else is
    the prefix theorem, unweakened (prefixes are never capped, only
    the probe-target side).  Pass ``max_posting_df=None`` for the
    exact-candidate form (then the volume guard is the only backstop).

    The default ``"auto"`` derives the cap from the measured prefix
    size via :func:`_auto_posting_cap` (one count on the persisted
    prefix relation): ``min(1000, 6e8 // n_prefix_rows)``, which
    bounds the candidate join under 6e8 at ANY corpus — at every
    gate scale and sf1 the clamp resolves to the full 1000 (results
    bit-for-bit unchanged); at sf10 (5.2M prefix rows) it tightens to
    115 and the entry keeps running where the fixed cap tripped the
    volume guard.  The DuckDB oracle spells the same clamp over the
    same COUNT, so the gate stays hash-exact at every scale.

    Verification is exact set intersection over each pair's FULL
    (never capped) shingle sets, intersected as their 60-bit md5
    hashes: |A∩B| over hashed sets equals the string-set count unless
    two of a pair's shingles collide in 60 bits (~2⁻⁶⁰ per pair — the
    md5-uniform risk class the engine accepts everywhere), so a
    reported containment can be OVERSTATED by a collision with that
    probability; the DuckDB oracle intersects the SAME md5_long
    values, so the gate stays engine-exact regardless.  The cap can
    only drop candidates, never corrupt a surviving score.  Integer
    threshold arithmetic throughout, as in the pair form.

    Execution shape: the shingle-postings base — the ONE corpus-scaling
    relation — is persisted ONCE and prefix/target/sets all derive from
    it (one structural documents scan via the cache, plus one for the
    exact-twin md5 channel, which needs the raw text the postings no
    longer carry).  Because the auto cap and the volume guard already
    run actions at build time, the function finishes the job eagerly:
    the ≤ n·k result is computed and cached, then the fat postings
    cache is RELEASED before returning — repeated invocations (benchmark
    loops) hold at most one small result cache, not a session
    lifetime of shingle postings (the r12 leak)."""
    from pyspark.sql import Window

    base = _shingle_postings(df, id_col, text_col, shingle).persist()
    prefix = _containment_prefix(base, threshold_num, threshold_den)
    if max_posting_df == "auto":
        max_posting_df = _auto_posting_cap(prefix.count())
    target = base
    if max_posting_df is not None:
        wc = Window.partitionBy("sh").orderBy("did")
        target = (
            base.select("did", "sh", F.row_number().over(wc).alias("_rn"))
            .filter(F.col("_rn") <= max_posting_df)
            .drop("_rn")
        )
    if max_candidate_pairs is not None:
        _pair_volume_guard_cross(
            prefix,
            target,
            max_candidate_pairs,
            "containment_topk",
            hint=(
                "Lower max_posting_df (the per-shingle posting cap "
                "bounds candidates at Σ|prefix|·cap) or raise the cap "
                "consciously."
            ),
        )
    cand = (
        prefix.select(F.col("did").alias("id_a"), "sh")
        .join(target.select(F.col("did").alias("id_b"), "sh"), "sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Exact-twin channel: every doc additionally probes its exact-text
    # cluster keeper (md5 groupBy — the exact_dedup primitive; ≤ 1 row
    # per doc at any corpus).  The sf10 validator caught why this
    # matters: on a degenerate corpus where EVERY shingle's df exceeds
    # the posting cap (the fixture's 31-word vocab at 500k docs), the
    # capped postings admit only lowest-id candidates, and an exact
    # twin planted at a high id never meets its pair — planted-dup
    # recall measured 0.29.  The exact-hash channel restores recall
    # 1.0 for identical docs (containment exactly 1.0, the strongest
    # containments in the report) without touching the bounded
    # shingle-candidate volume.  Mirrored in the oracle.
    twins = (
        df.select(F.col(id_col).alias("_tid"), F.md5(F.col(text_col)).alias("_h"))
        .withColumn(
            "_keeper", F.min("_tid").over(Window.partitionBy("_h"))
        )
        .filter(F.col("_tid") != F.col("_keeper"))
        .select(F.col("_tid").alias("id_a"), F.col("_keeper").alias("id_b"))
    )
    cand = cand.unionByName(twins).distinct()
    # Verify against COMPACT, BROADCAST shingle sets.  The pair form
    # attaches string-shingle arrays through candidate-keyed shuffle
    # joins; at sf10 that shipped ~KB-wide rows through two exchanges
    # (30 GB of shuffle blocks before the first task finished — the
    # probe's measured cliff: at sf1 AQE still broadcast the sets side,
    # one decade up it silently flipped to a fat-row shuffle join).
    # Here each doc's set is its distinct 60-bit shingle HASHES (sorted
    # array<long> — ~25x narrower than the strings) and the sets
    # relation is broadcast EXPLICITLY, so both attaches stay map-side
    # at any candidate volume and the only candidate-scale exchange is
    # the thin (id_a, id_b) distinct.  |A∩B| over hashed sets equals
    # the string-set count unless two of a doc-pair's shingles collide
    # in 60 bits (~2^-60 per pair — the md5-uniform risk class the
    # engine accepts everywhere); the oracle intersects the SAME
    # md5_long values, so the gate stays engine-exact regardless.
    # Envelope: the broadcast needs sets to fit executor memory (~1.6
    # KB/doc at 200 shingles — ~800 MB at 500k docs); past that,
    # bucket both sides on doc id and co-partition the verify.
    sets = base.groupBy("did").agg(
        F.sort_array(F.collect_set(md5_long(F.col("sh")))).alias("shs")
    )
    a = sets.select(F.col("did").alias("id_a"), F.col("shs").alias("_shs_a"))
    b = sets.select(F.col("did").alias("id_b"), F.col("shs").alias("_shs_b"))
    inter = F.size(F.array_intersect(F.col("_shs_a"), F.col("_shs_b")))
    scored = (
        cand.join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .withColumn("_i", inter)
        .filter(F.col("_i") * threshold_den >= F.size("_shs_a") * threshold_num)
        .withColumn("containment", F.round(F.col("_i") / F.size("_shs_a"), 6))
    )
    wk = Window.partitionBy("id_a").orderBy(F.col("containment").desc(), "id_b")
    out = (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id_a").alias("doc_id"),
            F.col("id_b").alias("container_id"),
            "containment",
            "rank",
        )
    )
    # Materialize the (<= n*k rows) report, then release the fat
    # postings cache: persist-without-unpersist leaked the shingle
    # relation for the session lifetime (ADVICE r12).  The previous
    # invocation's small result cache is released too — BEFORE the new
    # persist: the CacheManager dedups semantically-equal plans, so
    # unpersisting the old result after caching an identical new one
    # would drop the shared entry and void the fresh cache.
    global _LAST_TOPK_RESULT
    if _LAST_TOPK_RESULT is not None:
        _LAST_TOPK_RESULT.unpersist(blocking=True)
        _LAST_TOPK_RESULT = None
    out = out.persist()
    out.count()
    base.unpersist(blocking=True)
    _LAST_TOPK_RESULT = out
    return out


# --- simhash ----------------------------------------------------------------

def simhash(col: Column | str, bits: int = 16) -> Column:
    """SimHash fingerprint (``bits`` wide) over whitespace tokens,
    frequency-weighted: bit b is set iff more token-hashes have bit b set
    than clear.  Pure expressions: one hash array + ``bits`` filtered
    counts — no explode, no shuffle, engine-portable (md5 bit tests).
    """
    t = tokens(col)
    hashes = F.transform(t, lambda x: md5_long(x))
    n = F.size(hashes)
    out = F.lit(0).cast("long")

    # Single-parameter lambda factory (two-parameter lambdas become
    # (element, index) in pyspark); bit test via AND-mask — shiftright on a
    # lambda variable does not survive the py4j bridge.
    def bit_set(mask: int):
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    for b in range(bits):
        n_set = F.size(F.filter(hashes, bit_set(1 << b)))
        out = out + F.when(n_set * 2 > n, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash_table(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    return ensure_parallelism(df).select(
        F.col(id_col), simhash(text_col, bits).alias("simhash")
    )


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.
    Candidate generation via the Charikar trick: split the fingerprint
    into ``max_hamming+1`` chunks — any pair within distance shares one
    exact chunk — then verify with bit_count on XOR.  Same
    bucket-then-verify shape as MinHash-LSH (scales identically)."""
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    sig = simhash_table(df, id_col, text_col, bits)
    keys = [
        F.struct(
            F.lit(cid).alias("chunk"),
            (F.col("simhash") / F.lit(1 << (cid * chunk_bits)))
            .cast("long")
            .bitwiseAND(F.lit((1 << chunk_bits) - 1))
            .alias("v"),
        )
        for cid in range(chunks)
    ]
    exploded = sig.select(id_col, "simhash", F.explode(F.array(*keys)).alias("ck"))
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "ck"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "ck"
    )
    return (
        a.join(b, "ck")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- paragraph-level exact dedup (Lee et al. 2021) --------------------------

def segment_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delimiter_regex: str | None = None,
    block_words: int | None = None,
) -> DataFrame:
    """Segment each document into ordered paragraphs ``(…, pno, para)``
    — the row-local explode under paragraph-level dedup.  Two modes,
    exactly one of which must be chosen:

    - ``delimiter_regex``: split on a boundary regex (blank lines,
      ``\\n{2,}``, for real prose); empty pieces are dropped but the
      original positions are kept, so reconstruction order survives.
    - ``block_words``: fixed W-word blocks for newline-free corpora
      (the synthetic fixture) — ``para_i = words[W*i : W*(i+1)]``.

    Reference analog: the record-boundary scan of TextInputFormat
    (``mapred/LineRecordReader.java``) applied below document
    granularity.  Pure codegen expressions; no shuffle, no UDF."""
    if (delimiter_regex is None) == (block_words is None):
        raise ValueError("choose exactly one of delimiter_regex / block_words")
    text = _ident(text_col)
    if delimiter_regex is not None:
        return (
            df.selectExpr(
                "*",
                f"posexplode(split({text}, {_str_lit(delimiter_regex)})) AS (pno, para)",
            )
            .where("trim(para) != ''")
            .drop(text_col)
        )
    w = block_words
    return (
        df.selectExpr("*", f"split({text}, ' ') AS __words")
        .selectExpr(
            "*", f"explode(sequence(0, (size(__words) + {w - 1}) DIV {w} - 1)) AS pno"
        )
        .selectExpr("*", f"array_join(slice(__words, pno * {w} + 1, {w}), ' ') AS para")
        .drop("__words", text_col)
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delimiter_regex: str | None = None,
    block_words: int | None = None,
    joiner: str = " ",
    carry_cols: tuple[str, ...] = (),
    pos_bits: int = 20,
) -> DataFrame:
    """Cross-document repeated-PARAGRAPH removal with document
    reconstruction — the dedup modality of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better")
    at paragraph granularity: a paragraph that appears in 10k documents
    (boilerplate, license headers, navigation chrome) survives only at
    its FIRST occurrence (minimum ``(doc_id, pno)``), and every
    document is re-assembled from its surviving paragraphs in order.

    Per-document output: ``(id, carry_cols…, n_paras,
    n_paras_removed, text_dedup)``.

    Exactness contract: the keeper is the global minimum of the encoded
    position key ``doc_id * 2^pos_bits + pno`` per normalized-paragraph
    md5 — deterministic in any engine, no sampling, no sketch.
    Normalization before hashing (lower + trim + whitespace collapse)
    catches reformatted boilerplate; reconstruction uses the ORIGINAL
    paragraph text.  Precondition: ``pno < 2^pos_bits`` (a million
    paragraphs per document at the default) — ENFORCED: a violating row
    raises at execution time rather than silently mis-encoding the key.
    The doc id is cast to long before the shift so an IntegerType id
    column cannot overflow int arithmetic (int*int stays int in Spark;
    any id > 2^(31-pos_bits) would wrap, or throw under ANSI).

    Scale plan (the exact-dedup discipline below document granularity):
    segmentation is row-local; the first-occurrence aggregate shuffles
    32-byte md5 keys with map-side partial agg; the keeper join is
    co-keyed on the same md5 (one body-carrying shuffle — unavoidable,
    reconstruction needs the text); reconstruction is ONE doc-keyed
    shuffle whose groups are bounded by document size.  No window, no
    driver collect, no O(n²) stage anywhere.

    Reference anchor: the distinct idiom (SURVEY §2.5,
    ``examples/AggregateWordCount`` keep-one semantics) + MD5Hash
    (``core/io/MD5Hash.java``) content fingerprints."""
    paras = segment_paragraphs(
        df,
        id_col,
        text_col,
        delimiter_regex=delimiter_regex,
        block_words=block_words,
    )
    lim = 1 << pos_bits
    keyed = paras.selectExpr(
        "*",
        r"md5(lower(trim(regexp_replace(para, '\\s+', ' ')))) AS para_md5",
        f"CASE WHEN pno < {lim} THEN CAST({_ident(id_col)} AS BIGINT) * {lim} + pno"
        " ELSE CAST(raise_error(concat('paragraph_dedup: pno >= 2^pos_bits (', "
        f"CAST(pno AS STRING), ' >= {lim}); raise pos_bits')) AS BIGINT) END AS __pk",
    )
    firsts = keyed.groupBy("para_md5").agg(F.expr("min(__pk) AS __first_pk"))
    marked = keyed.join(firsts, "para_md5").selectExpr(
        "*", "__pk = __first_pk AS __kept"
    )
    return marked.groupBy(id_col, *carry_cols).agg(
        F.expr("count(1) AS n_paras"),
        F.expr("sum(CAST(NOT __kept AS INT)) AS n_paras_removed"),
        F.expr(
            "array_join(transform(filter(array_sort(collect_list("
            "struct(pno, para, __kept))), __x -> __x.__kept), __x -> __x.para), "
            f"{_str_lit(joiner)}) AS text_dedup"
        ),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_tokens: int = 12,
    carry_cols: tuple[str, ...] = (),
    pos_bits: int = 20,
) -> DataFrame:
    """EXACT SUBSTRING duplicate spans (Lee et al. 2021's span modality
    as windowed fingerprints, the distributed form of their suffix-array
    scan): fingerprint every ``window_tokens``-token sliding window,
    keep each fingerprint's globally-first occurrence (min encoded
    ``(doc_id, pos)``), and merge the remaining duplicate window starts
    into maximal per-document spans.  Returns one row per span:
    ``(id, carry_cols…, span_start, span_toks)`` with ``span_start``
    1-based in token positions.

    Island rule for equal-length intervals: sorted starts open a new
    span when the gap to the previous start is >= W (the running max of
    span ends degenerates to ``lag(pos) + W - 1`` when every interval
    has length W).

    Scale plan: windowing is row-local (one md5 per token position);
    the first-occurrence aggregate shuffles 32-byte keys with map-side
    partials; the island window partitions by doc over DUPLICATE starts
    only (empty for clean docs, bounded by tokens-per-doc otherwise).
    Reference anchor: the MD5Hash fingerprint discipline
    (core/io/MD5Hash.java) under the record-boundary scan, below
    paragraph granularity."""
    w = window_tokens
    from pyspark.sql import Window

    base = df.select(id_col, *carry_cols, tokens(text_col).alias("__t"))
    win = base.select(
        "*",
        F.explode(
            F.when(
                F.size("__t") >= w, F.sequence(F.lit(1), F.size("__t") - w + 1)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
    )
    pk = (
        F.when(
            F.col("pos") < F.lit(1 << pos_bits),
            F.col(id_col).cast("long") * F.lit(1 << pos_bits) + F.col("pos"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("duplicate_spans: pos >= 2^pos_bits ("),
                    F.col("pos").cast("string"),
                    F.lit(f" >= {1 << pos_bits}); raise pos_bits"),
                )
            ).cast("long")
        )
    )
    keyed = win.select(
        id_col,
        *carry_cols,
        "pos",
        F.md5(F.array_join(F.slice("__t", F.col("pos"), w), " ")).alias("wh"),
        pk.alias("__pk"),
    )
    # occurrence count + global first per fingerprint as a WINDOW over
    # the fingerprint key — ONE shuffle of the keyed relation (groups
    # are fingerprint multiplicities, overwhelmingly 1-2 rows); the
    # groupBy + join-back shape would shuffle the expensive window-hash
    # relation twice (and its build side is fingerprint-cardinality, so
    # never broadcastable)
    w_h = Window.partitionBy("wh")
    dups = (
        keyed.select(
            id_col,
            *carry_cols,
            "pos",
            "__pk",
            F.count(F.lit(1)).over(w_h).alias("__n"),
            F.min("__pk").over(w_h).alias("__first_pk"),
        )
        .where((F.col("__n") > 1) & (F.col("__pk") != F.col("__first_pk")))
        .select(id_col, *carry_cols, "pos")
    )
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    isl = dups.select(
        "*",
        F.when(
            F.lag("pos").over(w_doc).isNull()
            | (F.col("pos") - F.lag("pos").over(w_doc) >= w),
            1,
        )
        .otherwise(0)
        .alias("__ni"),
    ).select(
        "*",
        F.sum("__ni")
        .over(w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__iid"),
    )
    return isl.groupBy(id_col, *carry_cols, "__iid").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") - F.min("pos") + w).alias("span_toks"),
    ).drop("__iid")
