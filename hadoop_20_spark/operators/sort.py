"""Sorts, secondary sort, top-k, sampling (SURVEY §2.6-2.7).

Reference machinery re-expressed:
- global total-order sort: ``mapred/lib/TotalOrderPartitioner.java`` +
  ``InputSampler.java`` (sample → partition keyfile → trie) — Spark's
  ``orderBy`` does exactly this internally (RangePartitioner reservoir-
  samples the keys), so ``total_order_sort`` is declarative.
- secondary sort: composite-key sort comparator + grouping comparator
  (``mapred/JobConf.java#setOutputKeyComparatorClass`` /
  ``#setOutputValueGroupingComparator``, worked example
  ``ex/SecondarySort.java``) — the Window.partitionBy(p).orderBy(s)
  input contract.
- POSIX sort key specs (``-k2,3nr``): ``mapred/lib/KeyFieldBasedComparator
  .java`` — parsed into Column sort expressions.
- sampling: ``mapred/lib/InputSampler.java`` + ``mapred/
  SequenceFileInputFilter.java`` Percent/MD5 filters.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_20_spark.session import batch_shuffle_partitions


def total_order_sort(df: DataFrame, *cols: str | Column) -> DataFrame:
    """ex/Sort.java + ex/terasort/TeraSort.java — globally ordered output.
    Spark's RangePartitioner replaces InputSampler+TotalOrderPartitioner;
    partition boundaries adapt to the key distribution automatically, so
    the 100 TB failure mode of a stale keyfile (hot partitions) is gone.
    """
    return df.orderBy(*cols)


def secondary_sort(
    df: DataFrame,
    partition_keys: Sequence[str],
    order_keys: Sequence[str | Column],
) -> DataFrame:
    """ex/SecondarySort.java — repartition by the key prefix and sort each
    partition by the full composite key, giving downstream per-partition
    logic an ordered stream per group (the reduce() iterator contract).

    For window-function consumers prefer :func:`ranked`; use this when a
    custom ``mapPartitions``/``applyInPandas`` needs physically ordered
    groups.
    """
    return df.repartition(*[F.col(k) for k in partition_keys]).sortWithinPartitions(
        *[F.col(k) for k in partition_keys], *order_keys
    )


def ranked(
    df: DataFrame,
    partition_keys: Sequence[str],
    order_keys: Sequence[str | Column],
    rank_col: str = "rn",
) -> DataFrame:
    """Window realization of secondary sort: row_number per group in the
    composite-key order — what the reference hand-rolled in reducers."""
    w = Window.partitionBy(*partition_keys).orderBy(*order_keys)
    return df.withColumn(rank_col, F.row_number().over(w))


def top_k(
    df: DataFrame, order_keys: Sequence[Column], k: int
) -> DataFrame:
    """Global top-k: ``orderBy().limit(k)`` → TakeOrderedAndProjectExec —
    per-partition heaps + driver merge, the scalable version of the
    reference's single-reducer idiom.  Callers must include a
    deterministic tie-breaker key (SURVEY §7.4 determinism rule)."""
    return df.orderBy(*order_keys).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_keys: Sequence[str],
    order_keys: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k within each group via row_number window."""
    w = Window.partitionBy(*partition_keys).orderBy(*order_keys)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


# --- POSIX sort key spec (-k2.4,3nr) ---------------------------------------

_KEYSPEC = re.compile(r"-k(\d+)(?:\.(\d+))?([nr]*)(?:,(\d+)(?:\.(\d+))?([nr]*))?")


def parse_key_field_spec(
    spec: str,
) -> list[tuple[int, int, int, int, bool, bool]]:
    """``"-k2.4,3nr -k1"`` → [(2,4,3,0,numeric=True,reverse=True),
    (1,1,-1,0,F,F)] as (start_field, start_char, end_field, end_char,
    numeric, reverse).  Fields and chars are 1-based as in
    sort(1)/KeyFieldHelper.java#parseKey; ``end_field == -1`` means
    "through the end of the line" (sort(1)'s and KeyDescription's
    default when pos2 is absent); ``end_char == 0`` means "to the end
    of the end field"; flags may be attached to either endpoint, as in
    sort(1)."""
    out = []
    for m in _KEYSPEC.finditer(spec):
        start_f = int(m.group(1))
        start_c = int(m.group(2)) if m.group(2) else 1
        end_f = int(m.group(4)) if m.group(4) else -1
        end_c = int(m.group(5)) if m.group(5) else 0
        flags = (m.group(3) or "") + (m.group(6) or "")
        out.append((start_f, start_c, end_f, end_c, "n" in flags, "r" in flags))
    if not out:
        raise ValueError(f"no -k specs in {spec!r}")
    return out


def _key_piece(fields: Column, sf: int, sc: int, ef: int, ec: int, sep: str) -> Column:
    """Extract the key text for one (field.char, field.char) range from a
    split-fields array — char offsets trim only the endpoint fields,
    exactly KeyFieldHelper#getStartOffset/getEndOffset.  ``ef == -1``
    = through the last field (missing pos2)."""
    if ef == -1:
        head = F.element_at(fields, sf)
        head = head.substr(F.lit(sc), F.length(head))
        rest = F.slice(
            fields, sf + 1, F.greatest(F.size(fields) - sf, F.lit(0))
        )
        return F.array_join(F.concat(F.array(head), rest), sep)
    if sf == ef:
        f0 = F.element_at(fields, sf)
        if ec > 0:
            return f0.substr(F.lit(sc), F.lit(max(ec - sc + 1, 0)))
        return f0.substr(F.lit(sc), F.length(f0))
    head = F.element_at(fields, sf)
    head = head.substr(F.lit(sc), F.length(head))
    tail = F.element_at(fields, ef)
    tail = tail.substr(F.lit(1), F.lit(ec)) if ec > 0 else tail
    mid = F.slice(fields, sf + 1, ef - sf - 1)
    return F.array_join(
        F.concat(F.array(head), mid, F.array(tail)), sep
    )


def key_field_sort(
    df: DataFrame, column: str, spec: str, separator: str = "\t"
) -> DataFrame:
    """mapred/lib/KeyFieldBasedComparator.java — sort lines by field
    ranges with numeric/reverse flags and optional ``field.char``
    offsets (``-k2.4,3`` = from char 4 of field 2 through field 3).
    Each range becomes one sort expression over split fields."""
    # F.split takes a regex — escape the literal separator.
    fields = F.split(F.col(column), re.escape(separator))
    sort_cols: list[Column] = []
    for sf, sc, ef, ec, numeric, reverse in parse_key_field_spec(spec):
        piece = _key_piece(fields, sf, sc, ef, ec, separator)
        if numeric:
            # sort(1)/KeyFieldBasedComparator parse the LEADING numeric
            # prefix of the key — an open-ended key like -k2n on
            # "x 2 b" compares 2, and a key with no numeric prefix
            # compares as 0 (GNU sort -n).  A whole-string cast would
            # throw under ANSI (or NULL otherwise) on multi-field keys.
            num = F.regexp_extract(piece, r"^\s*(-?\d+(?:\.\d+)?)", 1)
            c = F.when(num == "", F.lit(0.0)).otherwise(num.cast("double"))
        else:
            c = piece
        sort_cols.append(c.desc() if reverse else c.asc())
    return df.orderBy(*sort_cols)


# --- distributed global rank ------------------------------------------------

def distributed_global_rank(
    df: DataFrame,
    keys: Sequence[str],
    *,
    rank_col: str = "rn",
    num_buckets: int | None = None,
    relative_error: float = 0.001,
    max_bucket_fraction: float = 0.25,
) -> DataFrame:
    """Global 1-based row_number in ``keys`` order WITHOUT an
    ``Exchange SinglePartition`` — the zipWithIndex discipline expressed
    over DataFrames, mirroring ``mapred/lib/InputSampler.java`` +
    ``TotalOrderPartitioner``'s sample-then-partition two-pass.

    A bare ``Window.orderBy(keys)`` plans a single-partition exchange:
    every row of the fact table flows through ONE task — fine at sf0.01,
    a guaranteed straggler at 100 TB.  Instead:

      1. approxQuantile on the leading key → B-1 boundary literals
         (driver-side, tiny; balance-only — ANY boundaries are correct).
      2. bucket = #{boundaries strictly below the row's leading key} —
         a pure row-local expression, so both passes below agree on the
         bucket of every row regardless of partitioning (no caching or
         sampler nondeterminism, unlike repartitionByRange whose bounds
         can differ between actions).  Equal leading keys share a bucket,
         and for x in bucket i, y in bucket j>i:  x <= b_{i+1} < y, so
         bucket order IS global leading-key order.
      3. exact per-bucket counts (one shuffled agg, <=B rows collected)
         → cumulative offsets, broadcast-joined back on bucket.
      4. rank = offset + row_number over Window.partitionBy(bucket)
         .orderBy(keys) — B parallel window groups, never one.

    The leading key must be numeric (approxQuantile contract).  Skewed
    corner: if one leading-key value dominates, its bucket degenerates
    toward a single window group — the same failure mode the
    reference's TotalOrderPartitioner has with a hot key
    (``mapred/lib/InputSampler.java``'s sampled-split caveat).  The
    exact per-bucket counts are already on the driver, so this is
    CHECKED, not hoped: once the input is large enough for skew to
    matter (n >= 50·B) and one bucket holds more than
    ``max_bucket_fraction`` of all rows, the function raises with the
    observed histogram instead of silently planning a straggler.
    Callers with a legitimately dominant key should salt the leading
    key (or pass a higher fraction consciously).  Rows with a NULL
    leading key route to bucket 0 — Spark's ascending NULLS FIRST
    order — instead of a NULL bucket the offsets join would drop
    (same coalesce as :func:`distributed_cumsum`).

    Cache lifecycle: the input feeds THREE actions (approxQuantile, the
    per-bucket counts, and the consumer's own plan), so it is persisted
    up front — the same multi-consumer discipline as
    :func:`distributed_cumsum`; without it every consumer recomputes
    the input's whole upstream plan (six fact-table scans in
    gini_lorenz_audit before this fix).  The persist is intentionally
    NOT released here: the returned (lazy) DataFrame still reads it, so
    an eager unpersist would forfeit the reuse that motivated it.  The
    relation is bounded by the input (entity-bounded at every call site
    per the SCALE.md persist rule); library users running many rank
    passes in one session should ``spark.catalog.clearCache()`` between
    logical jobs — the oracle gate and the plan-smells sweep do.
    """
    lead = keys[0]
    spark = df.sparkSession
    if num_buckets is None:
        num_buckets = batch_shuffle_partitions(spark)

    df = df.persist()
    probs = [i / num_buckets for i in range(1, num_buckets)]
    bounds = sorted(set(df.approxQuantile(lead, probs, relative_error))) if probs else []

    bucket = F.lit(0)
    for b in bounds:
        # NULL > b is NULL — coalesce to 0 so NULL keys land in bucket 0
        # (Spark sorts NULLS FIRST ascending) rather than a NULL bucket
        # that the inner offsets join would drop.
        bucket = bucket + F.coalesce((F.col(lead) > F.lit(b)).cast("int"), F.lit(0))
    bucketed = df.withColumn("__rank_bucket", bucket)

    counts = {
        r["__rank_bucket"]: r["cnt"]
        for r in bucketed.groupBy("__rank_bucket").agg(F.count("*").alias("cnt")).collect()
    }
    total = sum(counts.values())
    # `bounds` empty means the caller asked for ONE bucket (or the key
    # domain collapsed to a point) — a single window group by design,
    # not a skew accident worth raising over.
    if bounds and counts and total >= 50 * num_buckets:
        hot_bucket, hot = max(counts.items(), key=lambda kv: kv[1])
        if hot > max_bucket_fraction * total:
            hist = sorted(counts.items())
            raise ValueError(
                "distributed_global_rank: leading key "
                f"{lead!r} is skewed — bucket {hot_bucket} holds {hot} of "
                f"{total} rows ({hot / total:.1%} > max_bucket_fraction="
                f"{max_bucket_fraction:.0%}); one window group would become a "
                "single-task straggler at scale.  Salt the leading key or "
                f"raise max_bucket_fraction.  Bucket histogram: {hist}"
            )
    offsets, running = [], 0
    for i in range(len(bounds) + 1):
        offsets.append((i, running))
        running += counts.get(i, 0)
    offsets_df = spark.createDataFrame(offsets, ["__rank_bucket", "__rank_offset"])

    w = Window.partitionBy("__rank_bucket").orderBy(*keys)
    return (
        bucketed.join(F.broadcast(offsets_df), "__rank_bucket")
        .withColumn(rank_col, (F.col("__rank_offset") + F.row_number().over(w)).cast("int"))
        .drop("__rank_bucket", "__rank_offset")
    )


def _gt_tuple_expr(keys: Sequence[str], t: tuple) -> Column:
    """Row-local lexicographic ``row > t`` over ``keys`` with Spark's
    ascending NULLS FIRST semantics: a NULL cell sorts below every
    non-null value, and a NULL boundary component sorts below every
    non-null cell.  Built right-to-left as
    ``gt_1 | (eq_1 & (gt_2 | (eq_2 & ...)))`` — pure codegen, no UDF."""
    expr: Column = F.lit(False)
    for col, val in reversed(list(zip(keys, t))):
        c = F.col(col)
        if val is None:
            gt = c.isNotNull()
            eq = c.isNull()
        else:
            # NULL > val is NULL -> treat as False (NULL sorts first);
            # NULL == val likewise.
            gt = F.coalesce(c > F.lit(val), F.lit(False))
            eq = F.coalesce(c == F.lit(val), F.lit(False))
        expr = gt | (eq & expr)
    return expr


def distributed_global_rank_sampled(
    df: DataFrame,
    keys: Sequence[str],
    *,
    rank_col: str = "rn",
    num_buckets: int | None = None,
    samples_per_bucket: int = 20,
    max_bucket_fraction: float = 0.25,
) -> DataFrame:
    """Skew-proof twin of :func:`distributed_global_rank`:
    ``mapred/lib/InputSampler.java`` + ``TotalOrderPartitioner`` in
    COMPOSITE-key form.  The quantile variant buckets on the leading
    key alone, so a hot leading-key value (one value > 25% of rows —
    low-cardinality status columns, default-zero metrics) degenerates
    one bucket into a single-task window straggler and the operator
    raises.  This variant buckets on sampled boundary TUPLES compared
    lexicographically, so ties on the leading key are split by the
    later keys exactly as the sort order itself splits them — correct
    and balanced under ANY leading-key skew, as long as the composite
    tuple is near-unique.

      1. deterministic sample: md5(concat(keys)) gate at a fraction
         targeting ~2·B·``samples_per_bucket`` rows (row-local,
         seed-free, engine-stable — never ``limit`` over a sample,
         whose row choice is partition-order-dependent), collected and
         sorted driver-side (tiny).
      2. boundaries = every (len/B)-th sampled tuple, deduplicated.
      3. bucket = #{boundaries strictly below the row's key tuple} via
         :func:`_gt_tuple_expr` — row-local, so both passes agree on
         every row's bucket regardless of partitioning.
      4. exact per-bucket counts -> cumulative offsets broadcast back;
         rank = offset + row_number over Window.partitionBy(bucket)
         .orderBy(keys).  Bucket order respects tuple order by
         construction, so offset + local row_number is the global rank.

    Residual skew is possible only when one FULL tuple dominates — then
    rows of that tuple share a bucket no matter where boundaries fall.
    The same driver-side count check raises in that case: equal-tuple
    rows have interchangeable ranks, so callers should extend ``keys``
    with any unique column (the md5 sample key itself works) rather
    than override the fraction.

    Same cache lifecycle as the quantile twin (input persisted for its
    three actions; harnesses clearCache between queries).  Works for
    ANY orderable key types, numeric or not — approxQuantile's numeric
    contract no longer applies."""
    from hadoop_20_spark.functions import md5_long

    spark = df.sparkSession
    if num_buckets is None:
        num_buckets = batch_shuffle_partitions(spark)

    df = df.persist()
    n = df.count()
    boundaries: list[tuple] = []
    if num_buckets > 1 and n:
        target = 2 * num_buckets * samples_per_bucket
        mod = 1_000_000
        thresh = mod if target >= n else max(1, (target * mod) // n)
        gate = (
            md5_long(F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys]))
            % mod
            < thresh
        )
        sampled = [tuple(r) for r in df.filter(gate).select(*keys).collect()]
        # None-first sort key mirrors Spark's NULLS FIRST
        sampled.sort(key=lambda t: tuple((v is not None, v) for v in t))
        if sampled:
            step = max(1, len(sampled) // num_buckets)
            for i in range(1, num_buckets):
                j = i * step
                if j >= len(sampled):
                    break
                t = sampled[j]
                if not boundaries or boundaries[-1] != t:
                    boundaries.append(t)

    bucket: Column = F.lit(0)
    for t in boundaries:
        bucket = bucket + _gt_tuple_expr(keys, t).cast("int")
    bucketed = df.withColumn("__rank_bucket", bucket)

    counts = {
        r["__rank_bucket"]: r["cnt"]
        for r in bucketed.groupBy("__rank_bucket").agg(F.count("*").alias("cnt")).collect()
    }
    total = sum(counts.values())
    if boundaries and counts and total >= 50 * num_buckets:
        hot_bucket, hot = max(counts.items(), key=lambda kv: kv[1])
        if hot > max_bucket_fraction * total:
            raise ValueError(
                "distributed_global_rank_sampled: one composite key tuple "
                f"dominates — bucket {hot_bucket} holds {hot} of {total} "
                f"rows ({hot / total:.1%} > max_bucket_fraction="
                f"{max_bucket_fraction:.0%}) even with sampled tuple "
                "boundaries.  Equal-tuple rows have interchangeable "
                "ranks: extend `keys` with any unique column to split "
                f"them.  Bucket histogram: {sorted(counts.items())}"
            )
    offsets, running = [], 0
    for i in range(len(boundaries) + 1):
        offsets.append((i, running))
        running += counts.get(i, 0)
    offsets_df = spark.createDataFrame(offsets, ["__rank_bucket", "__rank_offset"])

    w = Window.partitionBy("__rank_bucket").orderBy(*keys)
    return (
        bucketed.join(F.broadcast(offsets_df), "__rank_bucket")
        .withColumn(rank_col, (F.col("__rank_offset") + F.row_number().over(w)).cast("int"))
        .drop("__rank_bucket", "__rank_offset")
    )


def distributed_cumsum(
    df: DataFrame,
    keys: list[str],
    weight_col: str,
    cum_col: str = "cum",
    num_buckets: int | None = None,
    relative_error: float = 0.001,
) -> DataFrame:
    """Global INCLUSIVE cumulative sum of ``weight_col`` in ``keys``
    order without an ``Exchange SinglePartition`` — the
    :func:`distributed_global_rank` discipline generalized from
    counting rows to summing a weight: per-bucket WEIGHT TOTALS (not
    row counts) become the broadcast offsets, and the per-bucket window
    runs a running sum instead of row_number.  Same bucket-agreement
    argument, same B-parallel-groups plan; weights must be
    non-negative integers (the offsets stay exact longs).

    This is the primitive under weighted systematic / PPS sampling and
    size-balanced output splitting (cut points every ``stride`` units
    of cumulative weight).

    The input feeds THREE actions (approxQuantile, the per-bucket weight
    totals, and the consumer's own plan), so it is persisted up front —
    the localCheckpoint discipline the other multi-consumer relations
    (pagerank, triangles) follow; persist keeps the lineage visible to
    plan/pruning tests where a checkpoint would truncate it.  Rows with
    a NULL leading key are routed to bucket 0, matching Spark's
    ascending NULLS FIRST sort order (they rank before every non-null
    key instead of being silently dropped by the offsets join)."""
    lead = keys[0]
    spark = df.sparkSession
    if num_buckets is None:
        num_buckets = batch_shuffle_partitions(spark)

    df = df.persist()
    probs = [i / num_buckets for i in range(1, num_buckets)]
    bounds = sorted(set(df.approxQuantile(lead, probs, relative_error))) if probs else []

    bucket = F.lit(0)
    for b in bounds:
        # NULL > b is NULL — coalesce to 0 so NULL keys land in bucket 0
        # (Spark sorts NULLS FIRST ascending) rather than a NULL bucket
        # that the inner offsets join would drop.
        bucket = bucket + F.coalesce((F.col(lead) > F.lit(b)).cast("int"), F.lit(0))
    bucketed = df.withColumn("__cs_bucket", bucket)

    sums = {
        r["__cs_bucket"]: r["wsum"]
        for r in bucketed.groupBy("__cs_bucket")
        .agg(F.sum(F.col(weight_col).cast("long")).alias("wsum"))
        .collect()
    }
    offsets, running = [], 0
    for i in range(len(bounds) + 1):
        offsets.append((i, running))
        running += int(sums.get(i) or 0)
    offsets_df = spark.createDataFrame(offsets, ["__cs_bucket", "__cs_offset"])

    w = (
        Window.partitionBy("__cs_bucket")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(offsets_df), "__cs_bucket")
        .withColumn(
            cum_col,
            (
                F.col("__cs_offset")
                + F.sum(F.col(weight_col).cast("long")).over(w)
            ).cast("long"),
        )
        .drop("__cs_bucket", "__cs_offset")
    )


# --- sampling ---------------------------------------------------------------

def sample_fraction(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """InputSampler.RandomSampler — Bernoulli sample."""
    return df.sample(fraction=fraction, seed=seed)


def sample_percent_deterministic(
    df: DataFrame, key: str | Column, frequency: int
) -> DataFrame:
    """SequenceFileInputFilter.MD5Filter — keep records whose key's MD5
    falls in 1/frequency of the hash space.  Deterministic, engine-
    independent (same rows in Spark and any oracle), unlike seeded random
    sampling.  Uses the low 60 bits of md5 hex via base-16 conv."""
    c = F.col(key) if isinstance(key, str) else key
    bucket = F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint")
    return df.filter(bucket % frequency == 0)


def exact_order_statistic(
    df: DataFrame, col: str, k: int, width: int = 4096, max_rounds: int = 16
) -> tuple[int, int]:
    """Exact k-th smallest of an INTEGER column without a global sort:
    iterative range refinement (distributed selection).  Each round
    buckets the surviving range into ``width`` equi-width cells, counts
    per cell (bounded-domain aggregate, map-side partials), and recurses
    into the cell containing rank k — ceil(log_width(range)) rounds,
    each one column-pruned scan + a collect of the <= width*targets
    NON-EMPTY cells.  The default width 4096 holds any int64 range to
    <= 6 rounds (the bucket offset stays BIGINT while the surviving
    range fits int64 and widens to DECIMAL(38,0) only when it doesn't —
    see _offset_bucket_sql — so `col - lo` spanning nearly all of int64
    cannot wrap and the common case never pays decimal arithmetic);
    each round's cost is scan-dominated, so fewer-but-wider rounds win
    (measured 5.2 s -> 3.3 s for the two-probe refinement at sf0.1
    going 64 -> 256 in round 8, and another round dropped going
    256 -> 4096 in r13: a TPC-H price range of ~1e7 cents converges in
    2 rounds, any int64 in 6; the collect stays bounded by the
    non-empty cell count, <= min(width*targets, surviving distinct
    values)).

    Returns (value, rounds).

    Scale: the 100 TB alternative — orderBy + offset — shuffles the
    entire column through a RangePartitioner to answer ONE rank probe;
    this runs O(log range) scans whose BETWEEN filter pushes into the
    parquet scan, so round r reads only the row groups whose min/max
    straddle a range that shrinks by 64x per round.  Driver traffic is
    <= width counts per round (pagerank_converged's bounded-collect
    discipline).  Reference anchor (public hadoop-20):
    mapred/lib/InputSampler.java — sampled split points give
    APPROXIMATE quantiles; this is the exact-answer path built from
    the same count-histogram primitive.
    """
    values, rounds = exact_order_statistics(df, col, [k], width, max_rounds)
    return values[k], rounds


def _offset_bucket_sql(col: str, lo: int, hi: int, w: int) -> str:
    """SQL for the refinement bucket ``(col - lo) DIV w`` over the
    surviving range [lo, hi].  The driver holds lo/hi, so the widening
    is CONDITIONAL: when ``hi - lo`` fits int64 the whole BIGINT
    expression stays in codegen's long arithmetic (col - lo is in
    [0, hi - lo], so it cannot wrap); only ranges spanning more than
    int64 — e.g. lo near INT64_MIN, hi near INT64_MAX — pay the
    DECIMAL(38,0) form (whose DIV returns BIGINT, and the quotient is
    < width, so the narrow result is always safe).  Measured at sf0.1:
    the unconditional DECIMAL form cost b22 ~4.4 s -> ~5.5 s."""
    if hi - lo <= 0x7FFFFFFFFFFFFFFF:
        return f"(CAST({col} AS BIGINT) - ({lo})) DIV {w}"
    return f"(CAST({col} AS DECIMAL(38,0)) - ({lo})) DIV {w}"


def exact_order_statistics(
    df: DataFrame,
    col: str,
    ks: Sequence[int],
    width: int = 4096,
    max_rounds: int = 16,
    bounds: tuple[int, int, int] | None = None,
    scan_filter=None,
    return_audits: bool = False,
) -> tuple[dict, int]:
    """Multi-rank form of :func:`exact_order_statistic`: refines EVERY
    requested rank in the SAME scan each round — a row is tagged with
    (target, bucket) for each target whose surviving range contains it
    (targets' ranges overlap until they diverge, so the tagging is an
    array-explode, never a first-match CASE), and one (target, bucket)
    count aggregate feeds all the driver-side narrowing decisions.
    N quantile probes cost the same scans as one.

    ``col`` must be a plain column name (the bucket arithmetic uses
    integer DIV via an expression over it).  ``bounds`` is an optional
    precomputed ``(min, max, count)`` — callers that already aggregated
    the column (to size their ranks from n) pass it and save the
    operator's own min/max/count scan.  ``scan_filter`` (optional) maps
    the round's surviving global range ``(lo, hi)`` to a REDUNDANT
    predicate on the caller's RAW storage column (a conservative
    superset of ``col BETWEEN lo AND hi``): the refinement column is
    usually derived (cents = CAST(price*100)), whose BETWEEN cannot
    reach the parquet scan, so without it later rounds re-read every
    row group — with it the raw-column predicate lands in PushedFilters
    and round r skips the row groups whose min/max miss the shrinking
    range (guide §6; the 100 TB path).  Returns ({k: value}, rounds).

    ``return_audits=True`` (r14) returns ``({k: (value, n_below,
    n_at)}, rounds)`` instead: the rank audits are READ OFF the
    refinement's own bookkeeping — no extra scan.  Proof: the loop
    maintains the invariant ``rank_t = k − |{c < lo_t}|`` (initially
    lo = global min so |{c < lo}| = 0; each narrowing subtracts
    exactly the counts of the buckets below the chosen one, i.e. the
    values in [lo, new_lo)), so at termination (lo == hi == v)
    ``n_below = k − rank``; and the terminal bucket covers exactly
    [v, v] (width-1 buckets, or the last bucket clipped to hi), so
    its count IS ``n_at = |{c == v}|``.  A rank whose range is
    degenerate from the start (global min == max) has every value
    equal: (value, 0, n).  This removes the separate whole-relation
    audit pass callers like exact_median_refinement paid — one fewer
    fact scan per query at any scale (guide §2: fewer passes)."""
    for k in ks:
        if k < 1:
            raise ValueError(f"rank k must be >= 1, got {k}")
    c = F.col(col)
    if bounds is None:
        first = df.agg(
            F.min(c).alias("lo"), F.max(c).alias("hi"), F.count(c).alias("n")
        ).first()
        bounds = (first["lo"], first["hi"], first["n"])
    lo0, hi0, n = bounds
    if lo0 is None or max(ks) > n:
        raise ValueError(f"rank {max(ks)} out of range (n={n})")
    # per-target state: [lo, hi, rank-within-range]
    st: dict[int, list[int]] = {k: [lo0, hi0, k] for k in set(ks)}
    # terminal bucket count per target (n_at) — filled at the narrowing
    # that collapses the range; degenerate start = all values equal
    n_at: dict[int, int] = {k: n for k in set(ks) if lo0 >= hi0}
    rounds = 0
    while True:
        active = {k: s for k, s in st.items() if s[0] < s[1]}
        if not active:
            break
        rounds += 1
        if rounds > max_rounds:  # log_64 of any int64 range is <= 11
            raise RuntimeError(f"no convergence after {max_rounds} rounds")
        order = sorted(active)
        widths = {k: (s[1] - s[0] + width) // width for k, s in active.items()}
        # tag each row with target·width + bucket for every target
        # range containing it — ONE long per tag instead of a (t, b)
        # struct (r14: the struct-keyed hash aggregate measured
        # 1.5-1.7 s vs 1.2 s flat per round at sf0.1; the encoding is
        # bijective since bucket ∈ [0, width)).  Integer DIV, not
        # floor(double/) — a double quotient is only exact to 2^53 and
        # this is int64; conditional widening per _offset_bucket_sql
        # (its DECIMAL form's DIV still returns BIGINT).
        tags = F.array(
            *[
                F.when(
                    c.between(F.lit(active[k][0]), F.lit(active[k][1])),
                    F.lit(i * width).cast("bigint")
                    + F.expr(
                        _offset_bucket_sql(
                            col, active[k][0], active[k][1], widths[k]
                        )
                    ).cast("bigint"),
                )
                for i, k in enumerate(order)
            ]
        )
        g_lo = min(s[0] for s in active.values())
        g_hi = max(s[1] for s in active.values())
        scanned = df.filter(c.between(F.lit(g_lo), F.lit(g_hi)))
        if scan_filter is not None:
            scanned = scanned.filter(scan_filter(g_lo, g_hi))
        counts_df = (
            scanned
            .select(F.explode(F.filter(tags, lambda x: x.isNotNull())).alias("s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        counts: dict[tuple[int, int], int] = {
            (r["s"] // width, r["s"] % width): r["cnt"]
            for r in counts_df.collect()
        }
        for i, k in enumerate(order):
            s = st[k]
            lo, w = s[0], widths[k]
            rank = s[2]
            for b in range(width):
                cnt = counts.get((i, b), 0)
                if rank <= cnt:
                    st[k] = [lo + b * w, min(lo + (b + 1) * w - 1, s[1]), rank]
                    if st[k][0] >= st[k][1]:
                        # range collapsed: this bucket covers exactly
                        # [v, v], so cnt = |{c == v}| (see docstring)
                        n_at[k] = cnt
                    break
                rank -= cnt
    if return_audits:
        return {k: (st[k][0], k - st[k][2], n_at[k]) for k in ks}, rounds
    return {k: st[k][0] for k in ks}, rounds


def exact_group_order_statistics(
    df: DataFrame,
    group_col: str,
    col: str,
    ks_per_group: dict,
    width: int = 4096,
    max_rounds: int = 16,
    bounds_per_group: dict | None = None,
) -> tuple[dict, int]:
    """GROUPED multi-rank selection: exact k-th smallest of ``col``
    within every group, refined SIMULTANEOUSLY — each round is ONE scan
    tagging every row with (target index, bucket) for each of ITS
    group's still-active targets, so total scans = max rounds over
    groups, never a per-group loop (the 100 TB point: 5 groups' medians
    cost the same scans as one).  Same integer discipline as
    :func:`exact_order_statistics` (DECIMAL(38,0)-widened offsets,
    integer DIV buckets, <= width*targets-row collects per round).

    ``ks_per_group``: {group_value: [ranks...]}.  ``bounds_per_group``:
    optional {group_value: (lo, hi, n)} from a caller's own aggregate.
    Returns ({(group, k): value}, rounds)."""
    c = F.col(col)
    g = F.col(group_col)
    if bounds_per_group is None:
        rows = (
            df.filter(g.isin(list(ks_per_group)))
            .groupBy(group_col)
            .agg(F.min(c).alias("lo"), F.max(c).alias("hi"), F.count(c).alias("n"))
            .collect()
        )
        bounds_per_group = {r[group_col]: (r["lo"], r["hi"], r["n"]) for r in rows}
    st: dict = {}
    for grp, ks in ks_per_group.items():
        if grp not in bounds_per_group:
            raise ValueError(f"group {grp!r} absent from data")
        lo0, hi0, n = bounds_per_group[grp]
        for k in ks:
            if k < 1 or k > n:
                raise ValueError(f"rank {k} out of range for group {grp!r} (n={n})")
            st[(grp, k)] = [lo0, hi0, k]
    rounds = 0
    while True:
        active = {t: s for t, s in st.items() if s[0] < s[1]}
        if not active:
            break
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(f"no convergence after {max_rounds} rounds")
        order = sorted(active, key=lambda t: (str(t[0]), t[1]))
        widths = {t: (s[1] - s[0] + width) // width for t, s in active.items()}
        # flat target*width + bucket tag keys, as in
        # exact_order_statistics (r14: the struct-keyed hash aggregate
        # measured ~30% slower per round; bijective since b < width)
        tags = F.array(
            *[
                F.when(
                    (g == F.lit(t[0]))
                    & c.between(F.lit(active[t][0]), F.lit(active[t][1])),
                    F.lit(i * width).cast("bigint")
                    + F.expr(
                        _offset_bucket_sql(
                            col, active[t][0], active[t][1], widths[t]
                        )
                    ).cast("bigint"),
                )
                for i, t in enumerate(order)
            ]
        )
        g_lo = min(s[0] for s in active.values())
        g_hi = max(s[1] for s in active.values())
        counts = {
            (r["s"] // width, r["s"] % width): r["cnt"]
            for r in (
                df.filter(
                    g.isin([t[0] for t in order])
                    & c.between(F.lit(g_lo), F.lit(g_hi))
                )
                .select(F.explode(F.filter(tags, lambda x: x.isNotNull())).alias("s"))
                .groupBy("s")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
        }
        for i, t in enumerate(order):
            s = st[t]
            lo, w = s[0], widths[t]
            rank = s[2]
            for b in range(width):
                cnt = counts.get((i, b), 0)
                if rank <= cnt:
                    st[t] = [lo + b * w, min(lo + (b + 1) * w - 1, s[1]), rank]
                    break
                rank -= cnt
    return {t: st[t][0] for t in st}, rounds


def top_k_per_group_combined(
    df: DataFrame,
    group_cols: Sequence[str],
    sort_cols: Sequence[str],
    ascending: Sequence[bool],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Grouped top-k with an EXPLICIT sublinear combiner: each input
    partition is locally reduced to at most k rows per group BEFORE any
    shuffle, so the exchange carries <= partitions * groups * k
    candidate rows — the grouped analog of TakeOrderedAndProject's
    per-partition heaps, and the third member of the local-reduce
    family (Misra–Gries counts, Pareto local skyline).

    Honesty note, MEASURED (sf0.1 orders, G=5, k=3): Spark >= 3.5
    already gives the rank-predicate special case this treatment —
    :func:`top_k_per_group`'s ``row_number() <= k`` plan carries a
    Partial ``WindowGroupLimit`` below its exchange, and BOTH forms
    shuffle exactly 15 records / 619 bytes on that query.  This
    operator therefore exists for the GENERAL case: per-group
    selections the rank-filter rewrite cannot see (selection logic
    beyond a monotone rank predicate — sampling rules, diversity
    constraints, per-group model scoring), where the explicit local
    pass is the only way to keep the exchange candidate-sized.  For a
    plain rank<=k, prefer the window form and let Catalyst do it.

    Correct because a row outside its partition's per-group top-k is
    outside the global per-group top-k a fortiori — local pruning never
    drops a global survivor; the final exact window over the candidates
    assigns ranks.  Ties must be broken by the caller's sort_cols
    (include a unique key last) for a deterministic result.

    The local pass is Arrow-batched pandas sort + groupby-head — C
    speed, no per-row Python.  Reference anchor: the combiner running
    the reducer's logic on map output (combiner contract of
    `JobConf.setCombinerClass`).

    Null ordering: pandas ``sort_values`` places ALL missing values per
    ``na_position`` regardless of direction, but Spark orders NULLs
    FIRST ascending and LAST descending — a naive kernel would locally
    prune null-sorted rows the exact window keeps.  The kernel
    therefore sorts each key behind a Spark-computed null indicator
    (0 = NULL, 1 = value) with the SAME direction as the key, so the
    local order matches Spark's exactly and the superset invariant
    holds for every null mix.  The indicator must be computed BEFORE
    the Arrow transfer: Arrow conflates NULL and NaN in float columns.

    Float NaN is REJECTED loudly (any float/double column, not just
    sort keys): the pandas->Arrow return path converts NaN to NULL
    (``nan_as_null``), so a NaN anywhere in the frame would be
    silently corrupted — violating the row-for-row contract.  Use the
    window form for NaN-bearing data.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, FloatType

    gcols = list(group_cols)
    scols = list(sort_cols)
    asc = list(ascending)

    # Spark-side null indicator per sort key (see docstring): sorting
    # [indicator, key] both in the key's direction reproduces Spark's
    # NULL-first-asc / NULL-last-desc placement inside the pandas kernel.
    ind_cols = [f"__nullord_{i}" for i in range(len(scols))]
    src = df
    for ic, c in zip(ind_cols, scols):
        ind = F.when(F.col(c).isNull(), F.lit(0)).otherwise(F.lit(1))
        src = src.withColumn(ic, ind.cast("int"))

    float_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (FloatType, DoubleType))
    ]
    nan_flag = "__has_nan"
    nan_expr = F.lit(0)
    for c in float_cols:
        nan_expr = F.when(
            F.col(c).isNotNull() & F.isnan(F.col(c)), F.lit(1)
        ).otherwise(nan_expr)
    src = src.withColumn(nan_flag, nan_expr.cast("int"))

    sort_keys = [x for ic, c in zip(ind_cols, scols) for x in (ic, c)]
    sort_asc = [x for a in asc for x in (a, a)]

    def kernel(batches):
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if (pdf[nan_flag] == 1).any():
            raise ValueError(
                "top_k_per_group_combined: NaN in a float/double column; "
                "the Arrow return path converts NaN to NULL (nan_as_null), "
                "silently corrupting rows — use the window form "
                "(top_k_per_group) for NaN-bearing data"
            )
        yield (
            pdf.sort_values(sort_keys, ascending=sort_asc)
            # dropna=False: pandas groupby silently DROPS null-keyed groups
            # by default — the window form keeps them, and the two paths
            # must agree row-for-row
            .groupby(gcols, sort=False, dropna=False)
            .head(k)
        )

    local = src.mapInPandas(kernel, src.schema).drop(nan_flag, *ind_cols)
    order_keys = [
        F.col(c).asc() if a else F.col(c).desc() for c, a in zip(scols, asc)
    ]
    return top_k_per_group(local, gcols, order_keys, k, rank_col)
