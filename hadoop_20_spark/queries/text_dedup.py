"""LLM-pipeline text analysis and deduplication: minhash/LSH, jaccard, simhash, winnowing, CDC, LM stats, curation/PII.

Split from the original single-file registry (round 4) — behavior-
identical; REGISTRY names, oracles, and notes are unchanged.  Definition
order within this module preserves the original file order (module-level
re-registrations must follow their originals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from hadoop_20_spark.functions import ngrams as _fn_ngrams  # noqa: F401
from hadoop_20_spark.functions import tokens as _fn_tokens  # noqa: F401
from hadoop_20_spark.operators import (  # noqa: F401
    aggregate as agg_ops,
    dedup,
    joins,
    rowops,
    setops,
    similarity,
    sort as sort_ops,
    text as text_ops,
)
from hadoop_20_spark.operators.aggregate import (  # noqa: F401
    exact_avg_double,
    exact_sum_double,
)
from hadoop_20_spark.queries._base import (  # noqa: F401
    _TOKENS,
    REGISTRY,
    Query,
    _sql_md5_long,
    _t,
    register,
)

@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_md5, CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    note="exact dedup via content hash-groupBy (32-byte shuffle keys at 100 TB, not bodies)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "minhash_signatures",
    None,  # oracle added programmatically below (16 generated columns)
    note="MinHash signatures (16 hashes, 3-shingles) — deterministic md5 family",
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=16, shingle=3
    )


def _minhash_oracle() -> str:
    from hadoop_20_spark.functions import MERSENNE31, hash_coeffs

    shingle_arr = (
        "list_transform(range(1, greatest(len(toks) - 2, 1) + 1), "
        "i -> array_to_string(toks[i:i+2], ' '))"
    )
    base = _sql_md5_long("s") + f" % {MERSENNE31}"
    cols = ",\n           ".join(
        f"list_aggregate(list_transform(hs, h -> (h * {a} + {b}) % {MERSENNE31}),"
        f" 'min') AS mh{i}"
        for i, (a, b) in enumerate(hash_coeffs(16))
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKENS.format(col='text')} AS toks FROM documents),
         s AS (SELECT doc_id, {shingle_arr} AS sh FROM t),
         hh AS (SELECT doc_id, list_transform(sh, s -> {base}) AS hs FROM s)
    SELECT doc_id, {cols} FROM hh
    """


REGISTRY["minhash_signatures"] = Query(
    fn=minhash_signatures_q, oracle=_minhash_oracle(), note=REGISTRY["minhash_signatures"].note
)


@register(
    "minhash_lsh_pairs",
    None,
    note="LSH band-bucket candidate pairs (16 hashes / 4 bands); rows-only check — bucket-join shape is the non-SQL part",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=16, bands=4
    )


@register(
    "jaccard_pairs",
    f"""
    WITH base AS (
      SELECT doc_id AS did, unnest(list_distinct({_TOKENS.format(col='text')})) AS sh
      FROM documents
    ), sizes AS (SELECT did, COUNT(*) AS sz FROM base GROUP BY did),
    common AS (
      SELECT a.did AS id_a, b.did AS id_b, COUNT(*) AS n_common
      FROM base a JOIN base b ON a.sh = b.sh AND a.did < b.did
      GROUP BY a.did, b.did
    )
    SELECT id_a, id_b,
           (ROUND(n_common / (sa.sz + sb.sz - n_common), 6) + 0) AS jaccard
    FROM common
    JOIN sizes sa ON sa.did = id_a
    JOIN sizes sb ON sb.did = id_b
    WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5
    """,
    note="exact token-set Jaccard ≥0.5 via explode+self-join (small-corpus escape hatch — the operator refuses this form without an explicit flag)",
)
def jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=0.5,
        shingle=1,
        allow_full_self_join=True,
    )


@register(
    "jaccard_pairs_pruned",
    f"""
    WITH base AS (
      SELECT doc_id AS did, unnest(list_distinct({_TOKENS.format(col='text')})) AS sh
      FROM documents
    ), sizes AS (SELECT did, COUNT(*) AS sz FROM base GROUP BY did),
    common AS (
      SELECT a.did AS id_a, b.did AS id_b, COUNT(*) AS n_common
      FROM base a JOIN base b ON a.sh = b.sh AND a.did < b.did
      GROUP BY a.did, b.did
    )
    SELECT id_a, id_b,
           (ROUND(n_common / (sa.sz + sb.sz - n_common), 6) + 0) AS jaccard
    FROM common
    JOIN sizes sa ON sa.did = id_a
    JOIN sizes sb ON sb.did = id_b
    WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5
    """,
    note="prefix-filtered Jaccard join (PPJoin-style frequency-ordered pruning) + exact set-intersect verify — oracle is the UNPRUNED brute force; hash-match proves the pruned plan is lossless",
)
def jaccard_pairs_pruned_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-default form of ``jaccard_pairs``: prefix filtering orders
    shingles rarest-first by document frequency and joins only each
    doc's ``s - ceil(t*s) + 1`` rarest shingles — a pair with J ≥ t
    provably shares a prefix shingle, so no qualifying pair is lost,
    while stopword shingles (the quadratic fan-out) never enter the
    join.  Candidates are verified over FULL shingle sets.  The oracle
    is the unpruned all-pairs SQL: green means the pruned plan
    reproduces the brute-force result exactly."""
    return dedup.jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=0.5,
        shingle=1,
    )


@register(
    "simhash_fingerprints",
    None,  # generated below
    note="16-bit frequency-weighted SimHash, pure expressions",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_table(_t(spark, sf_dir, "documents"), "doc_id", "text", bits=16)


def _simhash_oracle() -> str:
    h = _sql_md5_long("x")
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> {b}) & 1 = 1)) > len(hs) "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(16)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKENS.format(col='text')} AS toks FROM documents),
         hh AS (SELECT doc_id, list_transform(toks, x -> {h}) AS hs FROM t)
    SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM hh
    """


REGISTRY["simhash_fingerprints"] = Query(
    fn=simhash_fingerprints, oracle=_simhash_oracle(), note=REGISTRY["simhash_fingerprints"].note
)


@register(
    "text_stats",
    None,  # generated below
    note="per-doc text analysis: tokens/chars/diversity/stopwords/quality/lang/fingerprint",
)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.text_stats(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _text_stats_oracle() -> str:
    sw_list = ", ".join(f"'{w}'" for w in text_ops.STOPWORDS)
    fp_hash = _sql_md5_long("array_to_string(toks[i:i+7], ' ')")
    return f"""
    WITH t AS (SELECT doc_id, text, {_TOKENS.format(col='text')} AS toks FROM documents),
         m AS (
      SELECT doc_id, text, toks, len(toks) AS n_tokens,
             len(list_filter(toks, x -> list_contains([{sw_list}], x))) AS n_stop,
             len(list_distinct(toks)) AS n_distinct,
             list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS total_len
      FROM t)
    SELECT doc_id,
           n_tokens,
           length(text) AS n_chars_measured,
           (ROUND(CASE WHEN n_tokens > 0 THEN CAST(total_len AS DOUBLE) / n_tokens ELSE 0.0 END, 6) + 0) AS avg_token_len,
           (ROUND(CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 1.0 END, 6) + 0) AS distinct_ratio,
           (ROUND(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END, 6) + 0) AS stopword_ratio,
           (ROUND((CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.25 END) * 0.4
                 + (CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 1.0 END) * 0.3
                 + (CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)
                         BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.3, 6) + 0) AS quality,
           CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) >= 0.05
                THEN 'en' ELSE 'unknown' END AS lang_pred,
           list_aggregate(list_transform(range(1, greatest(n_tokens - 7, 1) + 1),
                          i -> {fp_hash}), 'min') AS fingerprint
    FROM m
    """


REGISTRY["text_stats"] = Query(
    fn=text_stats_q, oracle=_text_stats_oracle(), note=REGISTRY["text_stats"].note
)


@register(
    "minhash_near_dups",
    None,
    note="end-to-end near-dup pipeline: LSH candidates → exact-jaccard verify (bucket-then-verify; candidates ⊆ exact pairs so rows-only by design)",
)
def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_candidates(docs, "doc_id", "text")
    # verify exactly the candidate PAIRS (linear in |cand|) — not
    # all-pairs among candidate docs.
    return dedup.jaccard_verify(docs, "doc_id", "text", cand, threshold=0.5)


@register(
    "quality_filter",
    None,  # generated below from the text_stats oracle
    note="quality-threshold document filter (the Gopher-style heuristic gate)",
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = text_ops.text_stats(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return stats.filter(
        (F.col("quality") >= 0.8) & (F.col("lang_pred") == "en")
    ).select("doc_id", "quality", "n_tokens")


REGISTRY["quality_filter"] = Query(
    fn=quality_filter,
    oracle=f"""
    WITH stats AS ({_text_stats_oracle()})
    SELECT doc_id, quality, n_tokens FROM stats
    WHERE quality >= 0.8 AND lang_pred = 'en'
    """,
    note=REGISTRY["quality_filter"].note,
)


# ---------------------------------------------------------------------------
# §2.11 pipe protocol / multimodal / streaming
# ---------------------------------------------------------------------------

@register(
    "lang_id_confusion",
    """
    WITH t AS (SELECT doc_id, lang, list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks FROM documents),
         m AS (
      SELECT lang, len(toks) AS n_tokens,
             len(list_filter(toks, x -> list_contains(['the', 'a', 'an', 'of', 'to', 'in', 'and', 'or', 'is', 'are', 'was', 'were', 'for', 'on', 'with', 'as', 'by', 'at', 'from'], x))) AS n_stop
      FROM t)
    SELECT lang,
           CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) >= 0.05
                THEN 'en' ELSE 'unknown' END AS lang_pred,
           COUNT(*) AS n_docs
    FROM m
    GROUP BY lang, lang_pred
    ORDER BY lang, lang_pred
    """,
    note="language-ID confusion matrix: predicted (stopword-profile heuristic) vs labeled lang",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language-ID against the labeled
    ``lang`` column — the eval loop a corpus pipeline runs after any
    classifier change.  Row-local scoring then a tiny groupBy."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", text_ops.lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


_CURATION_QUALITY_CTE = """
    WITH t AS (SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks FROM documents),
         m AS (
      SELECT doc_id, text, toks, len(toks) AS n_tokens,
             len(list_filter(toks, x -> list_contains(['the', 'a', 'an', 'of', 'to', 'in', 'and', 'or', 'is', 'are', 'was', 'were', 'for', 'on', 'with', 'as', 'by', 'at', 'from'], x))) AS n_stop,
             len(list_distinct(toks)) AS n_distinct
      FROM t),
         scored AS (
      SELECT doc_id, text, toks, n_tokens,
             (ROUND((CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.25 END) * 0.4
                   + (CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 1.0 END) * 0.3
                   + (CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)
                           BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.3, 6) + 0) AS quality,
             CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) >= 0.05
                  THEN 'en' ELSE 'unknown' END AS lang_pred
      FROM m),
         qpass AS (SELECT doc_id, text, toks, n_tokens, quality FROM scored
                   WHERE quality >= 0.8 AND lang_pred = 'en'),
         keepers AS (SELECT MIN(doc_id) AS doc_id FROM qpass GROUP BY md5(text)),
         kept AS (SELECT q.doc_id, q.toks, q.n_tokens, q.quality FROM qpass q JOIN keepers USING (doc_id)),
         sh AS (SELECT doc_id AS did,
                       unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' ')))) AS s
                FROM kept),
         sizes AS (SELECT did, COUNT(*) AS sz FROM sh GROUP BY did),
         pairs AS (
      SELECT a.did AS id_a, b.did AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.did < b.did
      GROUP BY a.did, b.did),
         neardup AS (
      SELECT DISTINCT id_b FROM pairs
      JOIN sizes sa ON sa.did = id_a
      JOIN sizes sb ON sb.did = id_b
      WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5)
    SELECT doc_id, quality, n_tokens FROM kept
    WHERE NOT EXISTS (SELECT 1 FROM neardup WHERE id_b = doc_id)
    ORDER BY doc_id
"""


@register(
    "corpus_curation",
    _CURATION_QUALITY_CTE,
    note="end-to-end training-corpus keep-list: quality gate → exact dedup → 3-gram Jaccard near-dup prune",
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship LLM-data pipeline, as one declarative plan:

    1. quality gate (Gopher-style heuristics, row-local codegen);
    2. exact dedup (md5 hash-groupBy, keep min doc_id);
    3. near-dup prune: 3-gram Jaccard ≥ 0.5 pairs, drop the higher id.

    Stage 3 runs the prefix-filtered exact Jaccard join (rarest-first
    frequency ordering keeps hot shingles out of the candidate join;
    candidates verified over full sets — lossless); at 100 TB it can
    equally route through ``dedup.minhash_lsh_candidates`` (band
    buckets) into the same ``jaccard_verify`` — either way the shuffle
    is bounded, never the raw shared-shingle fan-out."""
    docs = _t(spark, sf_dir, "documents")
    stats = text_ops.text_stats(docs, "doc_id", "text")
    qpass = (
        docs.join(
            stats.filter(
                (F.col("quality") >= 0.8) & (F.col("lang_pred") == "en")
            ).select("doc_id", "quality", "n_tokens"),
            "doc_id",
        )
    )
    keepers = (
        qpass.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # The quality+exact-dedup keep-list feeds BOTH the near-dup pass and
    # the final output; persist the SMALL id/quality/token relation (not
    # the text bodies) so downstream consumers rebuild `kept` with one
    # cheap docs join instead of re-running the quality gate + keeper
    # shuffle per consumer (this plan scanned documents 28x before).
    kept_ids = (
        qpass.select("doc_id", "quality", "n_tokens")
        .join(keepers, "doc_id", "left_semi")
        .persist()
    )
    # keepers/drop are per-doc aggregates that grow with the corpus —
    # no forced hint; AQE broadcasts them at runtime only when small.
    kept = docs.select("doc_id", "text").join(kept_ids.select("doc_id"), "doc_id")
    near = dedup.jaccard_pairs(kept, "doc_id", "text", threshold=0.5, shingle=3)
    drop = near.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        kept_ids.join(drop, "doc_id", "left_anti")
        .select("doc_id", "quality", "n_tokens")
        .orderBy("doc_id")
    )


# Generated oracles for the LSH family (deterministic algorithms — the
# SQL is verbose, so it is built programmatically from the same
# parameters the Spark operators use; previously rows-only).
# ---------------------------------------------------------------------------

def _lsh_bands_cte() -> str:
    """CTE chain sig→bands→buckets→pairs for 16 hashes / 4 bands,
    mirroring dedup.minhash_lsh_candidates (max_bucket=1000)."""
    return f"""
    WITH sig AS ({_minhash_oracle()}),
    bands AS (
      SELECT doc_id, 0 AS band, mh0 AS h0, mh1 AS h1, mh2 AS h2, mh3 AS h3 FROM sig
      UNION ALL SELECT doc_id, 1, mh4, mh5, mh6, mh7 FROM sig
      UNION ALL SELECT doc_id, 2, mh8, mh9, mh10, mh11 FROM sig
      UNION ALL SELECT doc_id, 3, mh12, mh13, mh14, mh15 FROM sig
    ),
    buckets AS (
      SELECT band, h0, h1, h2, h3, list_sort(list(doc_id)) AS ids
      FROM bands GROUP BY band, h0, h1, h2, h3
      HAVING COUNT(*) BETWEEN 2 AND 1000
    ),
    rawpairs AS (
      SELECT p[1] AS id_a, p[2] AS id_b
      FROM buckets,
           UNNEST(flatten(list_transform(ids, a -> list_transform(list_filter(ids, b -> b > a), b -> [a, b])))) AS t(p)
    ),
    pairs AS (SELECT DISTINCT id_a, id_b FROM rawpairs)"""


def _lsh_pairs_oracle() -> str:
    return _lsh_bands_cte() + "\n    SELECT id_a, id_b FROM pairs"


def _minhash_near_dups_oracle() -> str:
    """LSH candidates → exact token-set Jaccard (threshold 0.5) verify,
    mirroring minhash_near_dups: jaccard computed over the docs that
    appear in any candidate pair, then inner-joined to the pairs."""
    return _lsh_bands_cte() + r""",
    pids AS (SELECT id_a AS doc_id FROM pairs UNION SELECT id_b FROM pairs),
    base AS (
      SELECT d.doc_id AS did,
             unnest(list_distinct(list_filter(regexp_split_to_array(d.text, '\s+'), t -> t <> ''))) AS sh
      FROM documents d JOIN pids USING (doc_id)
    ),
    sizes AS (SELECT did, COUNT(*) AS sz FROM base GROUP BY did),
    common AS (
      SELECT a.did AS id_a, b.did AS id_b, COUNT(*) AS n_common
      FROM base a JOIN base b ON a.sh = b.sh AND a.did < b.did
      GROUP BY a.did, b.did
    )
    SELECT p.id_a, p.id_b,
           (ROUND(n_common / (sa.sz + sb.sz - n_common), 6) + 0) AS jaccard
    FROM pairs p
    JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
    JOIN sizes sa ON sa.did = p.id_a
    JOIN sizes sb ON sb.did = p.id_b
    WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5"""


REGISTRY["minhash_lsh_pairs"] = Query(
    fn=REGISTRY["minhash_lsh_pairs"].fn,
    oracle=_lsh_pairs_oracle(),
    note="LSH band-bucket candidate pairs (16 hashes / 4 bands) — deterministic, full oracle",
)
REGISTRY["minhash_near_dups"] = Query(
    fn=REGISTRY["minhash_near_dups"].fn,
    oracle=_minhash_near_dups_oracle(),
    note="end-to-end near-dup pipeline: LSH candidates → exact-jaccard verify — deterministic, full oracle",
)
@register(
    "pii_redact",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com tel 555-' || doc_id AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                          '\b555-[0-9]+', '<PHONE>', 'g') AS clean,
           CAST(len(regexp_extract_all(raw, '[a-z0-9.]+@[a-z0-9.]+')) AS BIGINT)
             + len(regexp_extract_all(raw, '\b555-[0-9]+')) AS n_redactions
    FROM aug ORDER BY doc_id
    """,
    note="PII redaction pass (email/phone patterns -> placeholder tokens) with per-doc redaction counts",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-redaction pass a training pipeline runs before release:
    regexp_replace chains, all codegen.  The fixture corpus carries no
    PII, so a deterministic contact suffix is synthesized per doc and
    then scrubbed — the count column proves each pattern fired.
    Reference analog: RegexMapper (mapred/lib/RegexMapper.java) used as
    a scrubber."""
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel 555-"),
        F.col("doc_id").cast("string"),
    )
    email = r"[a-z0-9.]+@[a-z0-9.]+"
    phone = r"\b555-[0-9]+"
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace(raw, email, "<EMAIL>"), phone, "<PHONE>"
            ).alias("clean"),
            (
                F.size(F.regexp_extract_all(raw, F.lit(email), 0))
                + F.size(F.regexp_extract_all(raw, F.lit(phone), 0))
            ).cast("long").alias("n_redactions"),
        )
        .orderBy("doc_id")
    )


@register(
    "decontaminate",
    r"""
    WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks FROM documents),
    g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
                 i -> array_to_string(toks[i:i+4], ' ')))) AS ng
          FROM tok),
    bench AS (SELECT DISTINCT ng FROM g WHERE doc_id < 20)
    SELECT g.doc_id, COUNT(*) AS n_hits
    FROM g JOIN bench USING (ng)
    WHERE g.doc_id >= 20
    GROUP BY g.doc_id ORDER BY g.doc_id
    """,
    note="benchmark decontamination: corpus docs sharing any 5-gram with the benchmark set (docs 0-19), hit counts",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination — the overlap check every training corpus
    needs: distinct 5-grams of the benchmark set (here docs 0-19) are
    broadcast and joined against the corpus's 5-grams; output is each
    contaminated doc with its hit count (downstream: drop or trim).

    At 100 TB the benchmark side stays small (benchmarks are), so this
    remains one broadcast hash join against a narrow exploded n-gram
    stream — no corpus shuffle; hash n-grams (md5_long) to 8-byte keys
    if the broadcast grows."""
    docs = _t(spark, sf_dir, "documents")
    from hadoop_20_spark.functions import ngrams

    g = docs.select(
        "doc_id", F.explode(F.array_distinct(ngrams("text", 5))).alias("ng")
    )
    bench = F.broadcast(g.filter(F.col("doc_id") < 20).select("ng").distinct())
    return (
        g.filter(F.col("doc_id") >= 20)
        .join(bench, "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy("doc_id")
    )


@register(
    "integrity_checks",
    """
    SELECT 'orphan_lineitems' AS check_name,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS violations
    UNION ALL
    SELECT 'orphan_orders',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'null_order_keys', (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL)
    UNION ALL
    SELECT 'dup_order_keys',
           (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
    UNION ALL
    SELECT 'negative_prices', (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice < 0)
    ORDER BY check_name
    """,
    note="data-quality audit: referential integrity (anti-joins), null/duplicate keys, domain constraints",
)
def integrity_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit a warehouse load runs after ingest: referential
    integrity via broadcast anti-joins, key nullability/uniqueness,
    domain checks — each check one small aggregate, unioned into a
    (check_name, violations) report.  The reference idiom is a counter
    per validation job (SortValidator's RecordStatsChecker); here
    counters are rows, so the report is itself queryable."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def one(name: str, df) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("violations")).select(
            F.lit(name).alias("check_name"), "violations"
        )

    checks = [
        one("orphan_lineitems", li.join(joins.broadcast_if_small(orders), li.l_orderkey == orders.o_orderkey, "left_anti")),
        one("orphan_orders", orders.join(joins.broadcast_if_small(cust), orders.o_custkey == cust.c_custkey, "left_anti")),
        one("null_order_keys", orders.filter(F.col("o_orderkey").isNull())),
        one(
            "dup_order_keys",
            orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1),
        ),
        one("negative_prices", li.filter(F.col("l_extendedprice") < 0)),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


def _dedup_clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE
    base AS ({_lsh_pairs_oracle()}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM base UNION SELECT id_b, id_a FROM base),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(src, dst) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src ORDER BY doc_id"""


@register(
    "dedup_clusters",
    None,  # oracle attached below (generated: recursive CTE over the LSH pairs)
    note="connected components over near-dup pairs (iterative min-label propagation); oracle = recursive CTE",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    graph via iterative min-label propagation (each node adopts the
    smallest label among itself and its neighbors until fixpoint) —
    cluster id = smallest doc_id in the component, the canonical keeper.

    This is the iterative-algorithm pattern (reference analog: chained
    MR jobs reading the previous round's output): a driver loop over
    DataFrames with localCheckpoint() to cut lineage each round.
    Rounds = graph diameter (near-dup clusters are shallow); each round
    is one join + one aggregation, all distributed — and the DuckDB
    recursive-CTE oracle certifies the fixpoint exactly."""
    pairs = dedup.minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=16, bands=4
    )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b"), F.col("id_a")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    ).localCheckpoint()
    for _ in range(20):  # diameter bound; near-dup clusters are shallow
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


REGISTRY["dedup_clusters"] = Query(
    fn=REGISTRY["dedup_clusters"].fn,
    oracle=_dedup_clusters_oracle(),
    note=REGISTRY["dedup_clusters"].note,
)


@register(
    "soft_dedup_weights",
    f"""
    WITH cc AS ({_dedup_clusters_oracle()}),
         sizes AS (SELECT cluster_id, COUNT(*) AS m FROM cc GROUP BY cluster_id)
    SELECT d.doc_id,
           COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
           CAST(COALESCE(s.m, 1) AS BIGINT) AS multiplicity,
           (ROUND(1.0 / COALESCE(s.m, 1), 6) + 0) AS weight
    FROM documents d
    LEFT JOIN cc ON cc.doc_id = d.doc_id
    LEFT JOIN sizes s ON s.cluster_id = COALESCE(cc.cluster_id, d.doc_id)
    ORDER BY d.doc_id
    """,
    note=(
        "soft deduplication (SoftDedup, ACL 2024): keep EVERY document, downweight by "
        "near-dup multiplicity — weight = 1/|cluster| from the MinHash-LSH connected "
        "components, singletons weight 1.0 — so a training mix sees each content unit with "
        "total mass ~1 instead of dropping all-but-keeper; the oracle nests the recursive-CTE "
        "cluster fixpoint and re-derives the same weights"
    ),
)
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sampling weights for a training mix that KEEPS
    near-duplicates instead of dropping them: every doc in a near-dup
    cluster gets weight 1/|cluster| (singletons 1.0), so each content
    unit contributes ~unit mass regardless of how often it was crawled
    — the reweighting form of dedup (SoftDedup; the hard form is
    ``dedup_exact``/``dedup_clusters`` keep-lowest-id).

    Scale plan (100 TB): clusters come from the same bucketed
    MinHash-LSH pair graph + O(diameter)-round min-label CC as
    ``dedup_clusters`` (band buckets capped with drop observability;
    no quadratic path), sizes are one groupBy on cluster_id, and the
    weight attach is two hash joins on doc_id/cluster_id — everything
    linear in corpus + pairs.  Output is one row per document
    (output-linear by construction)."""
    labels = dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("multiplicity")
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
        .join(sizes, "cluster_id", "left")
        .withColumn(
            "multiplicity", F.coalesce(F.col("multiplicity"), F.lit(1)).cast("long")
        )
        .select(
            "doc_id",
            "cluster_id",
            "multiplicity",
            F.round(F.lit(1.0) / F.col("multiplicity"), 6).alias("weight"),
        )
        .orderBy("doc_id")
    )


@register(
    "bpe_token_count",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS INT) AS n_ws_tokens
    FROM documents ORDER BY doc_id
    """,
    note="BPE-ish regex tokenizer count (word/number/punct classes) beside the whitespace count — the token-budget estimator",
)
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting with a BPE-ish regex (letter runs, digit runs,
    punctuation singletons — the GPT-2 pre-tokenizer shape, minus the
    merges): pure regexp_extract_all, codegen, no UDF.  The whitespace
    count rides along for calibration."""
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias("n_bpe_tokens"),
            F.size(_fn_tokens("text")).alias("n_ws_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "sequence_packing",
    r"""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT) AS bin_id,
           CAST(cum - n_tokens - FLOOR((cum - n_tokens) / 2048) * 2048 AS BIGINT) AS bin_offset
    FROM c ORDER BY shard, doc_id
    """,
    note="sequence packing: per-shard contiguous token-budget bins (2048/ctx) via partitioned prefix sums — the pretraining batch-prep op; no global single-task window",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget context windows (2048) via
    ``text_ops.pack_sequences``, SHARDED: each of 8 deterministic shards
    (doc_id mod 8 — in production, the trainer-rank key) prefix-sums and
    bins independently, so the window partitions by shard and the plan
    has no Exchange SinglePartition (asserted in test_registry_plans).
    Bins are (shard, bin_id) pairs — exactly the layout a per-rank data
    loader consumes."""
    t = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).cast("long").alias("shard"),
        F.size(_fn_tokens("text")).cast("long").alias("n_tokens"),
    )
    return text_ops.pack_sequences(
        t, "doc_id", "n_tokens", budget=2048, shard_col="shard"
    ).orderBy("shard", "doc_id")


@register(
    "word_histogram",
    r"""
    WITH tok AS (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS w
      FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS freq FROM tok GROUP BY w)
    SELECT 'WORD_HISTOGRAM' AS histogram,
           COUNT(*) AS n_distinct_values,
           CAST(MIN(freq) AS BIGINT) AS min_freq,
           (ROUND(quantile_cont(freq, 0.5), 6) + 0) AS median_freq,
           CAST(MAX(freq) AS BIGINT) AS max_freq,
           (ROUND(CAST(SUM(freq) AS DOUBLE) / COUNT(*), 6) + 0) AS avg_freq,
           (ROUND(sqrt((CAST(SUM(freq*freq) AS DOUBLE) - CAST(SUM(freq) AS DOUBLE) * SUM(freq) / COUNT(*)) / COUNT(*)), 6) + 0) AS stddev_freq
    FROM freq
    """,
    note="AggregateWordHistogram (ex/AggregateWordHistogram.java): ValueHistogram over the corpus token stream",
)
def word_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's second aggregate-framework demo: the corpus-wide
    word-frequency histogram (distinct words; min/median/max/avg/stddev
    of the frequencies) — aggregate.value_histogram over exploded tokens
    under a single constant key, exact-moment statistics throughout."""
    tok = _t(spark, sf_dir, "documents").select(
        F.lit("WORD_HISTOGRAM").alias("histogram"),
        F.explode(_fn_tokens("text")).alias("w"),
    )
    return agg_ops.value_histogram(tok, "histogram", "w")


@register(
    "repetition_stats",
    r"""
    WITH tok AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                    i -> array_to_string(toks[i:i+1], ' '))) AS bg
      FROM tok
    ),
    counts AS (SELECT doc_id, bg, COUNT(*) AS n FROM g GROUP BY doc_id, bg)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(MAX(n) AS BIGINT) AS top_bigram_count,
           (ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) + 0) AS top_bigram_frac
    FROM counts GROUP BY doc_id ORDER BY doc_id
    """,
    note="Gopher-style repetition metrics: top-bigram fraction per doc (repetitious docs filtered before training)",
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection (the Gopher repetition-filter family): the
    fraction of a document's 2-grams taken by its single most frequent
    2-gram — boilerplate and degenerate generations score high.  Explode
    → two-level count (both partial-agg'd); pairs with
    ``distinct_token_ratio`` in text_stats for the full filter set."""
    docs = _t(spark, sf_dir, "documents")
    from hadoop_20_spark.functions import ngrams

    g = docs.select("doc_id", F.explode(ngrams("text", 2)).alias("bg"))
    counts = g.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.max("n").cast("long").alias("top_bigram_count"),
            F.round(F.max("n").cast("double") / F.sum("n"), 6).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKENS.format(col='text')} AS toks FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             1 + CAST(ceil(greatest(len(toks) - 64, 0) / 48.0) AS INT) AS n_chunks
      FROM t
    )
    SELECT doc_id, CAST(u AS INT) AS chunk_id,
           CAST(len(toks[u * 48 + 1 : u * 48 + 64]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[u * 48 + 1 : u * 48 + 64], ' ') AS chunk_text
    FROM c, UNNEST(range(0, n_chunks)) AS s(u)
    ORDER BY doc_id, chunk_id
    """,
    note="context-window chunking (64-token windows, 16 overlap): tokenize once, explode chunk starts, slice — row-local, zero shuffle",
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text.chunk_documents`` — the chunk-for-embedding/training prep
    op; keeps the final partial chunk (tail text is never silently
    dropped)."""
    return text_ops.chunk_documents(
        _t(spark, sf_dir, "documents"), "doc_id", "text", chunk_tokens=64, overlap=16
    ).orderBy("doc_id", "chunk_id")


@register(
    "stratified_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
          < CASE lang WHEN 'en' THEN 5000 WHEN 'fr' THEN 10000 WHEN 'de' THEN 10000
                      WHEN 'es' THEN 2500 WHEN 'zh' THEN 1000 ELSE 0 END
    ORDER BY doc_id
    """,
    note="deterministic per-stratum (language) sampling via md5 gating — the data-mixing op; reproducible in any engine, stable under repartitioning",
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text.stratified_sample`` — upsample/downsample strata with
    md5-hash gates (InputSampler/MD5Filter discipline), not seeded
    Bernoulli draws: the keep-set is a pure function of ids."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return text_ops.stratified_sample(
        docs,
        "doc_id",
        "lang",
        rates={"en": 0.5, "fr": 1.0, "de": 1.0, "es": 0.25, "zh": 0.1},
    ).orderBy("doc_id")


@register(
    "tfidf_top_terms",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, SUM(cnt) AS total FROM tf GROUP BY doc_id),
    dfreq AS (SELECT term, COUNT(*) AS dcnt FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    s AS (
      SELECT tf.doc_id, tf.term,
             (CAST(cnt AS DOUBLE) / total) * ln(CAST(n_docs AS DOUBLE) / dcnt) AS score
      FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM s
    )
    SELECT doc_id, term, (ROUND(score, 6) + 0) AS tfidf, rk
    FROM r WHERE rk <= 3 ORDER BY doc_id, rk
    """,
    note="TF-IDF top-3 terms per document (keyword extraction): two partial-agg passes + one broadcast scalar + per-doc WindowGroupLimit",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keywords — the classic relevance weighting
    (Spärck Jones IDF), all partial-agg'd groupBys: tf on (doc, term),
    doc length on (doc), document frequency on (term), corpus size as a
    broadcast 1-row cross join.  Rank by UNROUNDED score with a term
    tie-break (identical double arithmetic in both engines), round only
    the emitted value — the registry determinism rules.  At 100 TB the
    only wide shuffle keys on term (document frequency); Zipf-head
    terms partial-aggregate map-side, so no skew blowup."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_fn_tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # doc length and document frequency as windows over the ONE tf
    # relation (instead of groupBy+rejoin, which makes Spark recompute
    # the token aggregation per branch): exactly three tf-sized
    # shuffles — (doc,term) agg, term window, doc window — and the
    # ranking window reuses the doc partitioning (no fourth exchange).
    s = (
        tf.withColumn(
            "dcnt", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .withColumn(
            "total", F.sum("cnt").over(Window.partitionBy("doc_id"))
        )
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            (F.col("cnt").cast("double") / F.col("total"))
            * F.log(F.col("n_docs").cast("double") / F.col("dcnt")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", F.round("score", 6).alias("tfidf"), "rk")
        .orderBy("doc_id", "rk")
    )


@register(
    "winnowing_fps",
    r"""
    WITH tok AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                            i -> array_to_string(toks[i:i+2], ' ')) AS grams
      FROM tok
    ),
    h AS (
      SELECT doc_id,
             list_transform(grams, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS hs
      FROM g
    ),
    w AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                                                 i -> list_min(hs[i:i+3])))) AS fp
      FROM h
    )
    SELECT doc_id, fp FROM w ORDER BY doc_id, fp
    """,
    note="winnowing (MOSS) fingerprints: min-hash of each sliding window of 3-gram hashes — position-aware dedup fingerprints, row-local codegen",
)
def winnowing_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.winnowing_fingerprints(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=3, window=4
    ).orderBy("doc_id", "fp")


@register(
    "source_ngram_overlap",
    r"""
    WITH tok AS (
      SELECT source, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                                 i -> array_to_string(toks[i:i+2], ' ')))) AS ng
      FROM tok
    ),
    sizes AS (SELECT source, COUNT(*) AS sz FROM g GROUP BY source),
    shared AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM g a JOIN g b ON a.ng = b.ng AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, n_shared,
           (ROUND(CAST(n_shared AS DOUBLE) / least(sa.sz, sb.sz), 6) + 0) AS overlap_coef
    FROM shared
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    ORDER BY src_a, src_b
    """,
    note="cross-source 3-gram overlap matrix (train/eval leakage audit): distinct (source, ngram) self-join — fan-out bounded by #sources per ngram, never #docs",
)
def source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between corpus sources via distinct
    3-gram sets — the leakage/contamination audit between data mixes.
    The self-join keys on ngram AFTER per-source dedup, so each ngram
    contributes at most #sources rows per side: fan-out is bounded by
    #sources² per ngram regardless of corpus size (unlike a doc-level
    join).  At 100 TB, hash ngrams to 8-byte keys (md5_long) to shrink
    the shuffle payload."""
    from hadoop_20_spark.functions import shingles

    docs = _t(spark, sf_dir, "documents")
    g = docs.select(
        "source", F.explode(shingles("text", 3)).alias("ng")
    ).distinct()
    sizes = g.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = g.select(F.col("source").alias("src_a"), "ng")
    b = g.select(F.col("source").alias("src_b"), "ng")
    shared = (
        a.join(b, "ng")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / F.least("sz_a", "sz_b"),
                6,
            ).alias("overlap_coef"),
        )
        .orderBy("src_a", "src_b")
    )


@register(
    "bigram_lm_topk",
    r"""
    WITH tok AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    big AS (
      SELECT t.pair[1] AS w1, t.pair[2] AS w2
      FROM tok, UNNEST(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                      i -> [toks[i], toks[i+1]])) AS t(pair)
      WHERE len(toks) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n12 FROM big GROUP BY w1, w2),
    s AS (
      SELECT w1, w2, n12, SUM(n12) OVER (PARTITION BY w1) AS n1 FROM c2
    ),
    r AS (
      SELECT w1, w2, n12, n1,
             (ROUND(CAST(n12 AS DOUBLE) / n1, 6) + 0) AS p,
             ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY n12 DESC, w2) AS rk
      FROM s
    )
    SELECT w1, w2, CAST(n12 AS BIGINT) AS n12, p, rk
    FROM r WHERE rk <= 3 AND n1 >= 50 ORDER BY w1, rk
    """,
    note="bigram LM table: top-3 continuations per token with conditional probability (count-ranked, probability emitted) — the n-gram-LM training artifact as two shuffles",
)
def bigram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-a-bigram-LM as a query: P(w2|w1) = c(w1,w2)/c(w1), top-3
    continuations per head token (count-ranked with a w2 tie-break —
    integer ordering, so engine-identical; probability emitted rounded).
    The denominator comes from a window over the ONE bigram-count
    relation (the tfidf_top_terms lesson — no recomputed explode), and
    the ranking window shares the w1 partitioning.  Heads with n1 < 50
    are dropped (rare-head noise, and a stable output contract).  At
    100 TB: bigram extraction is row-local; the (w1,w2) count
    partial-aggregates map-side; Zipf-head w1 skew is absorbed by the
    same partial aggregation before either window."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # Materialize the token array as an ATTRIBUTE before the pair
    # transform: element_at(<full tokenize expr>, i) inside the lambda
    # re-evaluates the regexp split PER INDEX (O(len²) tokenization per
    # doc — measured 84 s at sf1; the attribute form tokenizes once).
    toked = docs.select(_fn_tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    toks = F.col("toks")
    pairs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    big = toked.select(F.explode(pairs).alias("pr")).select("pr.w1", "pr.w2")
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    s = c2.withColumn("n1", F.sum("n12").over(Window.partitionBy("w1")))
    w = Window.partitionBy("w1").orderBy(F.col("n12").desc(), "w2")
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 3) & (F.col("n1") >= 50))
        .select(
            "w1",
            "w2",
            F.col("n12").cast("bigint").alias("n12"),
            F.round(F.col("n12").cast("double") / F.col("n1"), 6).alias("p"),
            "rk",
        )
        .orderBy("w1", "rk")
    )


@register(
    "dedup_rate_by_source",
    """
    WITH h AS (SELECT doc_id, source, md5(text) AS hh FROM documents),
    f AS (SELECT hh, MIN(doc_id) AS keeper FROM h GROUP BY hh)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes,
           (ROUND(CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) + 0) AS dup_rate
    FROM h JOIN f USING (hh)
    GROUP BY source ORDER BY source
    """,
    note="per-source exact-duplicate rate (keeper = min doc_id per md5): the dedup yield report a curation run starts from; 32-byte-key shuffles only",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate report per source — the first number a corpus
    curation pass produces (how much of each feed is redundant).  Same
    plan family as dedup_exact: shuffle keys are 32-byte md5 digests,
    never document bodies; keeper resolution is one partial-agg'd
    groupBy; the rate aggregation keys on the tiny source domain."""
    docs = _t(spark, sf_dir, "documents")
    h = docs.select("doc_id", "source", F.md5("text").alias("hh"))
    keep = h.groupBy("hh").agg(F.min("doc_id").alias("keeper"))
    dup = F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
    return (
        h.join(keep, "hh")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dup).cast("bigint").alias("n_dupes"),
            F.round(
                F.sum(dup).cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@register(
    "unigram_logprob",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS term
      FROM documents
    ),
    cnt AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY term),
    tot AS (SELECT COUNT(*) AS t FROM tok),
    s AS (
      SELECT tok.doc_id, -ln(CAST(n AS DOUBLE) / t) AS nll
      FROM tok JOIN cnt USING (term) CROSS JOIN tot
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           (ROUND(CAST(CAST(SUM(CAST(nll AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) + 0) AS cross_entropy
    FROM s GROUP BY doc_id ORDER BY doc_id
    """,
    note="unigram LM cross-entropy per doc (CCNet-style perplexity filtering signal): corpus unigram probs -> per-doc mean -ln p(token), decimal-exact mean",
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram cross-entropy — the language-model quality
    signal corpus filters rank on (high = off-distribution/noise, low =
    repetitive/boilerplate): H(doc) = mean of -ln p(token) under the
    corpus unigram distribution.

    Determinism: the mean sums ln-values in DECIMAL(38,18) (fp addition
    order would differ by partitioning); ln/division are identical IEEE
    doubles in both engines.  Scale: one term-count shuffle (Zipf-head
    terms partial-aggregate map-side), then tok⋈vocab on term — the
    vocab side is a derived aggregate, so it carries no forced hint and
    AQE broadcasts it when it fits (typical: vocab ≪ corpus) — then a
    per-doc aggregation."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_fn_tokens("text")).alias("term"))
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = tok.agg(F.count(F.lit(1)).alias("t"))
    nll = -F.log(F.col("n").cast("double") / F.col("t"))
    return (
        tok.join(cnt, "term")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.col("nll").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


@register(
    "cdc_chunks",
    r"""
    WITH tok AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      FROM documents WHERE len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) >= 1
    ),
    b AS (
      SELECT doc_id, toks,
             list_filter(range(1, greatest(len(toks), 1) + 1),
                         i -> CAST(('0x' || substr(md5(toks[i]), 1, 15)) AS BIGINT) % 8 = 0) AS bpos
      FROM tok
    ),
    r AS (
      SELECT doc_id, toks,
             list_prepend(1, list_transform(bpos, p -> p + 1)) AS starts,
             list_append(bpos, len(toks)) AS ends
      FROM b
    ),
    c AS (
      SELECT doc_id, j, starts[j] AS s, ends[j] AS e, toks
      FROM r, UNNEST(range(1, len(starts) + 1)) AS t(j)
      WHERE starts[j] <= ends[j]
    )
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j) AS chunk_idx,
           md5(array_to_string(toks[s:e], ' ')) AS chunk_hash,
           e - s + 1 AS n_tokens
    FROM c ORDER BY doc_id, chunk_idx
    """,
    note="content-defined chunking (rsync/LBFS): md5-gated token boundaries, shift-resistant chunk hashes for delta-dedup; row-local codegen, explode-only widening",
)
def cdc_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.cdc_chunks(
        _t(spark, sf_dir, "documents"), "doc_id", "text", boundary_bits=3
    ).orderBy("doc_id", "chunk_idx")



# --- round-4 widening -------------------------------------------------------


@register(
    "dup_ngram_fraction",
    r"""
    WITH tok AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 7, 1) + 1),
                                                 i -> array_to_string(toks[i:i+7], ' ')))) AS ng
      FROM tok
    ),
    df AS (SELECT ng, COUNT(*) AS n_docs FROM g GROUP BY ng)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           (ROUND(CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) + 0) AS dup_fraction
    FROM g JOIN df ON df.ng = g.ng
    GROUP BY g.doc_id
    ORDER BY doc_id
    """,
    note="per-doc duplication-contamination fraction: share of a doc's distinct 8-gram shingles that occur in >=2 docs (the doc-level dedup triage signal; complements source_ngram_overlap's source-level matrix)",
)
def dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document near-duplication triage: the fraction of each doc's
    distinct 8-gram shingles that also occur elsewhere in the corpus
    (shingles via the shared let-bound helper — the lambda-CSE rule
    lives in ONE place, functions.ngrams).  Scale plan: two
    shingle-keyed shuffles (document frequency + join back), counts per
    shingle bounded by corpus df, never a doc×doc join; at 100 TB hash
    the shingle to md5_long 8-byte keys to shrink both shuffles."""
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_fn_ngrams("text", 8))).alias("ng"),
    )
    df_counts = sh.groupBy("ng").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        sh.join(df_counts, "ng")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(dup).alias("n_dup"),
            F.round(F.sum(dup).cast("double") / F.count(F.lit(1)), 6).alias(
                "dup_fraction"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "mixture_weights",
    r"""
    WITH tok AS (
      SELECT source, len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS n_toks
      FROM documents
    ),
    per_src AS (
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM tok GROUP BY source
    ),
    w AS (SELECT *, CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,12)) AS s FROM per_src)
    SELECT source, n_docs, n_tokens,
           (ROUND(CAST(s AS DOUBLE) / CAST((SELECT SUM(s) FROM w) AS DOUBLE), 6) + 0) AS weight,
           (ROUND(CAST(s AS DOUBLE) / CAST((SELECT SUM(s) FROM w) AS DOUBLE)
                 * 1000000 / n_tokens, 6) + 0) AS epochs_at_1m
    FROM w ORDER BY source
    """,
    note="training-mix sampling weights per source: sqrt-temperature reweighting (w ∝ n_tokens^0.5) + effective epochs at a 1M-token budget — the data-mixing step of an LLM pipeline",
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights for training-data mixing: square-root
    temperature scaling (upweights small sources, the standard
    multilingual/multi-source rebalancing), plus the effective epoch
    count each source would see under a fixed token budget.  Engine
    determinism: sqrt is IEEE-exact, and the normalizing total sums the
    per-source sqrt values in DECIMAL (order-independent) — only the
    final division is a double.  Scale plan: one partial-agg'd shuffle
    on source (tiny key space); the 1-row total broadcasts."""
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select("source", F.size(_fn_tokens("text")).alias("n_toks"))
    per_src = toked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    w = per_src.withColumn(
        "s", F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(28,12)")
    )
    tot = w.agg(F.sum("s").alias("_tot"))
    weight = F.col("s").cast("double") / F.col("_tot").cast("double")
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(weight, 6).alias("weight"),
            F.round(weight * 1000000 / F.col("n_tokens"), 6).alias("epochs_at_1m"),
        )
        .orderBy("source")
    )


def _minhash_quality_oracle() -> str:
    """Estimator-quality audit oracle: 16-hash MinHash estimate vs exact
    3-shingle Jaccard over deterministic blocked pairs
    (doc_id % GREATEST(25, n // 200) — see the query docstring for why
    the block count scales with the corpus)."""
    from hadoop_20_spark.functions import MERSENNE31, hash_coeffs

    shingle_arr = (
        "list_transform(range(1, greatest(len(toks) - 2, 1) + 1), "
        "i -> array_to_string(toks[i:i+2], ' '))"
    )
    base = _sql_md5_long("s") + f" % {MERSENNE31}"
    mh_cols = ",\n           ".join(
        f"list_aggregate(list_transform(hs, h -> (h * {a} + {b}) % {MERSENNE31}),"
        f" 'min') AS mh{i}"
        for i, (a, b) in enumerate(hash_coeffs(16))
    )
    matches = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(16)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKENS.format(col='text')} AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct({shingle_arr}) AS sh FROM t),
         hh AS (SELECT doc_id, list_transform({shingle_arr}, s -> {base}) AS hs FROM t),
         sig AS (SELECT doc_id, {mh_cols} FROM hh),
         nb AS (SELECT GREATEST(25, COUNT(*) // 200) AS n_blocks FROM documents),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, ({matches}) AS m
           FROM sig a JOIN sig b
             ON a.doc_id % (SELECT n_blocks FROM nb)
                  = b.doc_id % (SELECT n_blocks FROM nb)
            AND a.doc_id < b.doc_id),
         scored AS (
           SELECT p.m,
                  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS exact_j
           FROM pairs p
           JOIN s sa ON sa.doc_id = p.id_a
           JOIN s sb ON sb.doc_id = p.id_b)
    SELECT CAST(LEAST(FLOOR(exact_j * 100), 9) AS BIGINT) AS j_bucket,
           COUNT(*) AS n_pairs,
           (ROUND(CAST(SUM(m) AS DOUBLE) / (16 * COUNT(*)), 6) + 0) AS avg_estimate,
           (ROUND(CAST(CAST(SUM(CAST(exact_j AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) + 0) AS avg_exact,
           (ROUND(CAST(CAST(SUM(CAST(ABS(m / 16.0 - exact_j) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) + 0) AS mean_abs_err
    FROM scored GROUP BY j_bucket ORDER BY j_bucket
    """


@register(
    "minhash_estimate_quality",
    None,  # oracle attached programmatically below (16 generated columns)
    note="MinHash estimator-quality audit: matching-component estimate vs exact 3-shingle Jaccard over deterministic blocked pairs, bucketed by exact similarity — the observability query for the LSH recall knobs",
)
def minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the 16-hash MinHash estimator on THIS corpus: for a
    deterministic sample of pairs (same ``doc_id % n_blocks`` block),
    compare the matching-component estimate m/16 against the exact
    shingle Jaccard, bucketed by exact similarity.  All means aggregate
    integer match counts or DECIMAL-cast doubles (order-independent).

    Scale plan: ``n_blocks = max(25, n // 200)`` keeps the BLOCK SIZE
    constant (~200 docs), so the blocked pair volume is
    ``n_blocks · C(200, 2) ≈ 100·n`` — LINEAR in the corpus, with block
    count (= join parallelism) growing instead.  A fixed block count
    would make the audit quadratic (n²/50: fine at 5k docs, 50M exact
    intersects at 50k, dead at 100 TB) — round-11 fix; at sf0.01/sf0.1
    n_blocks stays 25, so the audit's pair sample (and hash) there is
    unchanged.  Signatures and shingle sets are the same narrow per-doc
    passes the production path uses."""
    docs = _t(spark, sf_dir, "documents")
    n_blocks = max(25, docs.count() // 200)
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=16, shingle=3)
    sets = docs.select(
        "doc_id",
        F.array_sort(F.array_distinct(_fn_ngrams("text", 3))).alias("sh"),
    )
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") % n_blocks).alias("blk"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(16)],
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        (F.col("doc_id") % n_blocks).alias("blk"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(16)],
    )
    m_expr = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(16)
    )
    pairs = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", m_expr.alias("m"))
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    scored = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("m", (inter.cast("double") / union).alias("exact_j"))
    )
    return (
        scored.groupBy(
            # percent-resolution buckets, capped: the synthetic corpus has
            # no high-Jaccard pairs, so 1%-wide buckets resolve the tail
            F.least(F.floor(F.col("exact_j") * 100), F.lit(9))
            .cast("long")
            .alias("j_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("m").cast("double") / (16 * F.count(F.lit(1))), 6).alias(
                "avg_estimate"
            ),
            F.round(
                F.sum(F.col("exact_j").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_exact"),
            F.round(
                F.sum(
                    F.abs(F.col("m") / 16.0 - F.col("exact_j")).cast("decimal(28,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_abs_err"),
        )
        .orderBy("j_bucket")
    )


REGISTRY["minhash_estimate_quality"] = Query(
    fn=minhash_estimate_quality,
    oracle=_minhash_quality_oracle(),
    note=REGISTRY["minhash_estimate_quality"].note,
)



@register(
    "containment_pairs",
    r"""
    WITH tok AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                                 i -> array_to_string(toks[i:i+2], ' ')))) AS sh
      FROM tok
    ),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM g GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM g a JOIN g b ON b.sh = a.sh AND b.doc_id <> a.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.id_a, c.id_b,
           (ROUND(CAST(c.c AS DOUBLE) / sa.s, 6) + 0) AS containment
    FROM common c JOIN sz sa ON sa.doc_id = c.id_a
    WHERE 5 * c.c >= 4 * sa.s
    ORDER BY id_a, id_b
    """,
    note=(
        "directed set-containment join (|A∩B|/|A| >= 4/5 over 3-gram shingles): the asymmetric "
        "dedup case Jaccard misses — a short doc quoted inside a long one; lossless rarest-first "
        "prefix filter on the probe side only, rational threshold so every comparison is integer "
        "(oracle = brute-force all-pairs, bit-identical by the prefix theorem)"
    ),
)
def containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote-expansion dedup: directed pairs where ≥ 80% of doc A's
    distinct 3-gram shingles also appear in doc B.  Jaccard cannot see
    these when |B| >> |A| (the union swamps the intersection), yet they
    are exactly the contained-duplicate class (quoted posts, boilerplate
    inclusion, doc-plus-appendix) a pretraining pipeline prunes.

    Scale plan: the probe side indexes only each doc's
    ``sz - ceil(0.8*sz) + 1`` RAREST shingles (df-order prefix —
    provably lossless for containment ≥ 0.8), so the candidate join
    fans out by rare-shingle document frequency, never stopword df; the
    verify stage is |candidates| rows through two doc-id hash joins.
    The threshold is the rational 4/5 and all pruning/filter
    comparisons are integer — ``ceil(0.8*sz)`` in doubles rounds up for
    many sz and would silently shorten the prefix (lossy).  Oracle is
    the brute-force all-pairs form: the prefix theorem says the outputs
    are identical."""
    return dedup.containment_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold_num=4,
        threshold_den=5,
        shingle=3,
    ).orderBy("id_a", "id_b")


@register(
    "containment_report",
    r"""
    WITH tok AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                                 i -> array_to_string(toks[i:i+2], ' ')))) AS sh
      FROM tok
    ),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM g GROUP BY doc_id),
    freq AS (SELECT sh, COUNT(*) AS fr FROM g GROUP BY sh),
    ranked AS (
      SELECT g.doc_id, g.sh, sz.s,
             ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY freq.fr, g.sh) AS pos
      FROM g JOIN freq USING (sh) JOIN sz USING (doc_id)
    ),
    prefix AS (
      SELECT doc_id, sh FROM ranked
      WHERE pos <= s - ((4 * s + 4) // 5) + 1
    ),
    cap AS (
      SELECT GREATEST(64, LEAST(1000, 600000000 // GREATEST(COUNT(*), 1))) AS c
      FROM prefix
    ),
    capped AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh,
               ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id) AS rn
        FROM g)
      WHERE rn <= (SELECT c FROM cap)
    ),
    cand0 AS (
      SELECT DISTINCT p.doc_id AS id_a, c.doc_id AS id_b
      FROM prefix p JOIN capped c ON c.sh = p.sh AND c.doc_id <> p.doc_id
    ),
    tw AS (
      SELECT d.doc_id AS id_a, k.kid AS id_b
      FROM documents d
      JOIN (SELECT md5(text) AS h, MIN(doc_id) AS kid
            FROM documents GROUP BY md5(text)) k
        ON md5(d.text) = k.h AND d.doc_id <> k.kid
    ),
    cand AS (SELECT * FROM cand0 UNION SELECT * FROM tw),
    gh AS (
      SELECT DISTINCT doc_id,
             (('0x' || substr(md5(sh), 1, 15))::BIGINT) AS h
      FROM g
    ),
    szh AS (SELECT doc_id, COUNT(*) AS s FROM gh GROUP BY doc_id),
    common AS (
      SELECT n.id_a, n.id_b, COUNT(*) AS c
      FROM cand n
      JOIN gh a ON a.doc_id = n.id_a
      JOIN gh b ON b.doc_id = n.id_b AND b.h = a.h
      GROUP BY n.id_a, n.id_b
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             (ROUND(CAST(c.c AS DOUBLE) / sa.s, 6) + 0) AS containment
      FROM common c JOIN szh sa ON sa.doc_id = c.id_a
      WHERE 5 * c.c >= 4 * sa.s
    )
    SELECT id_a AS doc_id, id_b AS container_id, containment, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
                ORDER BY containment DESC, id_b) AS rank
      FROM scored)
    WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    note=(
        "output-linear containment report: per-doc top-3 containers (|A∩B|/|A| >= 4/5 over "
        "3-gram shingles) — the scale form of containment_pairs, whose pair output is quadratic "
        "in clone-cluster size; candidates bounded BY CONSTRUCTION via a deterministic "
        "per-shingle posting cap (lowest doc ids; cap = min(1000, 6e8 // prefix rows), the "
        "corpus-scaled clamp spelled identically on both engines — 1000 at every gate scale, "
        "tightening only past sf1), verify exact over each pair's full (never capped) "
        "60-bit-hashed shingle sets, same md5 values on both engines"
    ),
)
def containment_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 containers at containment ≥ 0.8 over 3-gram
    shingles — the report form of ``containment_pairs`` for "which docs
    are quoted inside which" at 100 TB.  Output is ≤ 3 rows per doc at
    any corpus size, and the candidate join is BOUNDED by construction:
    the container side keeps at most cap postings per shingle, the
    lowest doc ids, with cap = min(1000, 6e8 // prefix-posting count)
    (``dedup._auto_posting_cap``) — deterministic AND corpus-scaled, so
    the DuckDB oracle applies the SAME clamp and the gate stays
    hash-exact at every scale while the candidate join never exceeds
    6e8 rows at any corpus (the sf10 probe caught the fixed-1000 cap
    tripping the 2e9 volume guard at 500k docs).  At every gate scale
    and sf1 the clamp resolves to 1000, so those results are
    bit-for-bit what the fixed cap produced.  The pair form's guard
    raise names this entry as the path that still works decades past
    its cap."""
    return dedup.containment_topk(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=3,
        threshold_num=4,
        threshold_den=5,
        shingle=3,
        max_posting_df="auto",
    ).orderBy("doc_id", "rank")


@register(
    "paragraph_dedup",
    r"""
    WITH w AS (
      SELECT doc_id, source, n_chars, string_split(text, ' ') AS words
      FROM documents
    ),
    p0 AS (
      SELECT doc_id, source, n_chars, words,
             unnest(range(0, CAST((len(words)+7)//8 AS BIGINT))) AS pno
      FROM w
    ),
    p AS (
      SELECT doc_id, source, n_chars, pno,
             array_to_string(words[(pno*8+1):((pno+1)*8)], ' ') AS para
      FROM p0
    ),
    k AS (
      SELECT *, md5(lower(trim(regexp_replace(para, '\s+', ' ', 'g')))) AS ph,
             doc_id * 1048576 + pno AS pk
      FROM p
    ),
    f AS (SELECT ph, MIN(pk) AS fpk FROM k GROUP BY ph),
    m AS (SELECT k.*, (pk = fpk) AS kept FROM k JOIN f USING (ph)),
    recon AS (
      SELECT doc_id, source, MAX(n_chars) AS n_chars,
             COUNT(*) AS n_paras,
             SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS n_removed,
             COALESCE(string_agg(CASE WHEN kept THEN para END, ' ' ORDER BY pno), '')
               AS text_out
      FROM m GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_changed,
           CAST(SUM(n_paras) AS BIGINT) AS n_paras,
           CAST(SUM(n_removed) AS BIGINT) AS n_paras_removed,
           CAST(SUM(n_chars) AS BIGINT) AS chars_before,
           CAST(SUM(length(text_out)) AS BIGINT) AS chars_after
    FROM recon GROUP BY source ORDER BY source
    """,
    note=(
        "cross-document repeated-paragraph removal with document reconstruction (Lee et "
        "al. 2021 at paragraph granularity): md5 per normalized 8-word-block paragraph, "
        "keep the global min-(doc_id, pos) occurrence, re-assemble docs from surviving "
        "paragraphs in order — the exact-dedup 32-byte-key shuffle discipline applied "
        "below document granularity; per-source before/after chars report"
    ),
)
def paragraph_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source paragraph-dedup report over the corpus: segment every
    document into 8-word-block paragraphs (the fixture is newline-free;
    real prose would pass ``delimiter_regex=r'\\n{2,}'`` to the same
    operator), remove every paragraph that already occurred at a
    smaller (doc_id, pos), reconstruct documents, and report per-source
    document/paragraph/char counts before and after — the dedup
    modality that kills the 10k-document boilerplate paragraph, which
    doc-level MinHash/containment can never see.

    Scale plan: see :func:`operators.dedup.paragraph_dedup` — one
    32-byte-md5 partial-agg'd shuffle for first occurrences, one
    co-keyed body shuffle for the keeper join, one doc-keyed shuffle to
    reconstruct, then a per-source aggregate with a tiny key domain.
    All-integer outputs; no window on any fact path."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    per_doc = dedup.paragraph_dedup(
        docs, "doc_id", "text", block_words=8, carry_cols=("source", "n_chars")
    )
    # SQL expression strings: one parse each instead of a py4j round
    # trip per Column node (see operators/dedup.py)
    return (
        per_doc.groupBy("source")
        .agg(
            *(
                F.expr(e)
                for e in (
                    "CAST(count(1) AS BIGINT) AS n_docs",
                    "CAST(sum(CAST(n_paras_removed > 0 AS INT)) AS BIGINT) AS n_docs_changed",
                    "CAST(sum(n_paras) AS BIGINT) AS n_paras",
                    "CAST(sum(n_paras_removed) AS BIGINT) AS n_paras_removed",
                    "CAST(sum(n_chars) AS BIGINT) AS chars_before",
                    "CAST(sum(length(text_dedup)) AS BIGINT) AS chars_after",
                )
            )
        )
        .orderBy("source")
    )


@register(
    "phrase_search_index",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM tok
    ),
    m AS (
      SELECT doc_id, COUNT(*) AS n_occurrences
      FROM pos
      WHERE t[i] = 'slow' AND t[i+1] = 'hash' AND t[i+2] = 'batch'
      GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM m ORDER BY doc_id
    """,
    note=(
        "positional inverted-index phrase retrieval (contrib/index, the MapReduce Lucene "
        "builder, as a relational structure): postings built in ONE (term, doc) shuffle; "
        "the 3-term phrase query is a k-way postings merge — two doc-keyed joins between "
        "per-term relations + row-local positional adjacency — the corpus is never "
        "rescanned at query time; oracle scans token positions directly"
    ),
)
def phrase_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search ("slow hash batch") answered from a
    positional inverted index instead of a corpus scan: build postings
    (term, doc_id, sorted positions, tf) in one shuffle, then merge the
    three query terms' posting lists with doc-keyed joins and
    positional-adjacency array logic — occurrences = phrase-start
    positions whose +1/+2 successors exist in the following terms'
    lists.

    Scale plan: see operators/invindex.py — persist postings bucketed
    by term and each query term becomes a partition-pruned point read;
    the merge joins df(term)-sized relations.  The oracle proves
    retrieval-vs-scan equivalence: DuckDB answers the same phrase by
    direct positional scan of the corpus."""
    from hadoop_20_spark.operators import invindex

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # Build ONCE, query many: without the persist, each of the three
    # per-term branches would re-derive postings from its own corpus
    # scan + shuffle — the in-query stand-in for the persisted
    # term-bucketed parquet a real deployment reads.
    postings = invindex.inverted_postings(docs, "doc_id", "text").persist()
    return (
        invindex.phrase_match(postings, ["slow", "hash", "batch"])
        .select("doc_id", F.col("n_occurrences").cast("long"))
        .orderBy("doc_id")
    )


@register(
    "bm25_topk",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM tok),
    stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM dl),
    p AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM tok)
      WHERE term IN ('slow', 'hash', 'batch')
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
    scored AS (
      SELECT p.doc_id,
             CAST(CAST(SUM(CAST(
               ln((n - df + 0.5) / (df + 0.5) + 1)
               * (CAST(tf AS DOUBLE)
                  / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
             AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS score
      FROM p
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY p.doc_id
    )
    SELECT doc_id, (ROUND(score, 6) + 0) AS score
    FROM scored ORDER BY score DESC, doc_id LIMIT 10
    """,
    note=(
        "BM25 ranked retrieval (k1=1.2, b=0.75) from the positional inverted index: "
        "per-term idf x saturated-tf scores summed in DECIMAL(38,18) (3-addend float "
        "sums are addition-order-dependent — the unigram_logprob discipline), ranked "
        "with doc_id tie-break; the per-term branches read ONE persisted postings build"
    ),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for the OR-query {slow, hash, batch} under
    BM25 (Robertson/Sparck Jones; the +1 idf form that never goes
    negative): score = Σ_t idf_t · tf/(tf + k1·(1−b+b·dl/avgdl)).
    This is the ranked-retrieval half of contrib/index — the postings
    table built once (persisted) serves both the exact-phrase merge
    (phrase_search_index) and this scoring pass.

    Determinism: idf/saturation arithmetic is the identical IEEE
    expression in both engines; the per-doc sum over matched terms
    rides DECIMAL(38,18) (a 3-addend double sum depends on addition
    order — the exact trap unigram_logprob documents); ranking orders
    the unrounded score with a doc_id tie-break and the emitted score
    is rounded once.

    Scale plan: tf rows for the 3 query terms come from the persisted
    postings (term-pruned point reads at 100 TB); df is a 3-row
    aggregate; doc lengths are one row-local pass joined on doc_id;
    avgdl and N broadcast as a 1-row aggregate; top-10 is
    TakeOrderedAndProject."""
    from hadoop_20_spark.functions import tokens as _tok
    from hadoop_20_spark.operators import invindex

    terms = ["slow", "hash", "batch"]
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dl = docs.select("doc_id", F.size(_tok("text")).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    postings = (
        invindex.inverted_postings(docs, "doc_id", "text")
        .where(F.col("term").isin(terms))
        .select("term", "doc_id", "tf")
        .persist()
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    addend = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    ) * (
        F.col("tf").cast("double")
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.col("avgdl"))))
    )
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", addend.cast("decimal(38,18)").alias("a"))
        .groupBy("doc_id")
        .agg(F.sum("a").cast("double").alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(10)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


@register(
    "postings_delta_merge",
    r"""
    WITH eff AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN text || ' updated revision'
                  ELSE text END AS text
      FROM documents
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                x -> x <> '')) AS term
      FROM eff
    ),
    p AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    t AS (SELECT term, COUNT(*) AS df, SUM(tf) AS total_tf FROM p GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_terms, SUM(df) AS n_postings FROM t)
    SELECT term,
           CAST(df AS BIGINT) AS df,
           CAST(total_tf AS BIGINT) AS total_tf,
           CAST((SELECT n_terms FROM tot) AS BIGINT) AS n_terms_total,
           CAST((SELECT n_postings FROM tot) AS BIGINT) AS n_postings_total
    FROM t ORDER BY df DESC, term LIMIT 15
    """,
    note=(
        "inverted-index delta maintenance (contrib/index shard merge): 10% of documents "
        "arrive RE-INDEXED with changed text; merge_postings replaces their base postings "
        "doc-level (anti-join + union — a row-level upsert would leave stale rows for "
        "terms the revision dropped) and the oracle REBUILDS the index from the effective "
        "corpus from scratch — merged == rebuilt, the incremental_agg_maintenance "
        "discipline applied to postings"
    ),
)
def postings_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: the corpus index exists (base
    postings over ALL documents), then a delta batch re-indexes the
    ``doc_id % 10 == 0`` documents with updated text (an ' updated
    revision' suffix — new positions, two new/boosted terms, and the
    replacement path genuinely exercised).  The published report is the
    top-15 terms by document frequency over the MERGED index plus
    index-wide totals; the oracle computes the same report by
    rebuilding postings from the effective corpus from scratch —
    merge == rebuild, which is the entire correctness argument for
    maintaining a 100 TB index incrementally instead of re-tokenizing
    history every crawl batch.

    Scale plan: the delta build tokenizes ONLY the changed docs; the
    merge is one anti-join on the delta's doc-id set (broadcast at
    batch scale) + union; the df/tf report is a term-keyed partial agg
    and the totals derive from the term relation (no second postings
    pass); top-15 is TakeOrderedAndProject."""
    from hadoop_20_spark.operators import invindex

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = invindex.inverted_postings(docs, "doc_id", "text")
    updated = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" updated revision")).alias("text")
    )
    delta = invindex.inverted_postings(updated, "doc_id", "text")
    merged = invindex.merge_postings(base, delta, "doc_id")
    t = merged.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
    ).persist()  # consumed twice (totals + top-15): one postings pass
    tot = t.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_total"),
        F.sum("df").cast("long").alias("n_postings_total"),
    )
    return (
        t.orderBy(F.col("df").desc(), "term")
        .limit(15)
        .crossJoin(F.broadcast(tot))
        .select("term", "df", "total_tf", "n_terms_total", "n_postings_total")
        .orderBy(F.col("df").desc(), "term")
    )
