"""Structured Streaming queries and UD* surfaces: pipes, multimodal, UDTF, job chaining, stateful processing.

Split from the original single-file registry (round 4) — behavior-
identical; REGISTRY names, oracles, and notes are unchanged.  Definition
order within this module preserves the original file order (module-level
re-registrations must follow their originals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

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


def _events_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """State-store partition count for the events-backed streaming
    queries, derived from the source's byte size instead of the core
    count (streaming.adaptive_state_partitions — r13; guide §2.6).
    Every stateful query below passes this to its run_* helper so the
    per-batch state-commit overhead tracks the DATA at any
    ``local[N]``: measured on the sf0.1 stream-stream join, the data
    batch is 3.8 s with 32 core-count-derived stores vs 1.0-1.5 s
    sized from the 2 MB input — same rows, same hashes."""
    from hadoop_20_spark import streaming as stream_ops

    # derived from the SAME path helper read_events_stream consumes —
    # fails loud on a missing/renamed fixture instead of silently
    # sizing from 0 bytes; byte totals memoized per path (r14)
    return stream_ops.adaptive_state_partitions(
        spark, stream_ops.events_source_path(sf_dir)
    )


@register(
    "pipe_wordcount",
    f"""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS token_count
    FROM (SELECT unnest({_TOKENS.format(col='text')}) AS token FROM documents)
    GROUP BY token
    """,
    note="hadoop-streaming pipe protocol (st/PipeMapRed.java): python child process as mapper, engine as combiner+reducer",
)
def pipe_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_20_spark.operators import pipe

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pipe.script_wordcount(spark, docs).withColumn(
        "token_count", F.col("token_count").cast("long")
    )


@register(
    "multimodal_features",
    """
    SELECT doc_id AS media_id, 'image/fake' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           CAST(64 + ('0x' || substr(md5(text), 1, 4))::INT % 1920 AS INT) AS width,
           CAST(64 + ('0x' || substr(md5(text), 5, 4))::INT % 1920 AS INT) AS height
    FROM documents
    """,
    note="multimodal binary-column plumbing: mapInPandas Arrow-batched decode (deterministic fake codec; real decoder drops into _decode_bytes)",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_20_spark.operators import multimodal

    media = multimodal.to_media_table(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return multimodal.extract_features(media, fake=True).select(
        "media_id", "media_type", "n_bytes", "content_md5", "width", "height"
    )


@register(
    "streaming_tumbling",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    note="REAL Structured Streaming run (file source, 1-file microbatches, watermark, memory sink) — oracle is the batch equivalence",
)
def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_20_spark import streaming as stream_ops

    events = stream_ops.read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )
    spark.catalog.dropTempView("q_streaming_tumbling") if "q_streaming_tumbling" in [
        t.name for t in spark.catalog.listTables()
    ] else None
    return stream_ops.run_to_memory(
        agg, "q_streaming_tumbling",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )


@register(
    "streaming_static_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY c_mktsegment
    """,
    note="REAL stream-static dimension join (file microbatches x static customer dim) + complete-mode agg; oracle is the batch equivalence",
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment — the streaming face of the
    DistributedCache replicated join: each microbatch hash-joins against
    the STATIC customer dim (stateless — no join state accrues, unlike
    stream-stream), then feeds a complete-mode aggregate.  At 100 TB
    the dim side is re-planned per microbatch, so Catalyst/AQE pick
    broadcast vs shuffle from the dim's actual size — same gating
    discipline as the batch queries, no forced hint."""
    from hadoop_20_spark import streaming as stream_ops

    events = stream_ops.read_events_stream(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        events.join(cust, events.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    return stream_ops.run_to_memory(
        agg, "q_streaming_static_join",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped relational widening (SURVEY §2.4/§2.5 composition patterns)
# ---------------------------------------------------------------------------

@register(
    "streaming_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    note="REAL streaming stateful dedup (dropDuplicatesWithinWatermark, file microbatches); oracle is batch DISTINCT",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: dropDuplicatesWithinWatermark keeps one
    row per (user_id, event_type) with bounded state (keys expire past
    the watermark — the unbounded-state fix for plain dropDuplicates on
    streams).  Projecting the key columns afterwards makes the emitted
    set deterministic (= batch DISTINCT), whichever arrival won."""
    from hadoop_20_spark import streaming as stream_ops

    events = stream_ops.read_events_stream(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return stream_ops.run_to_memory(
        deduped, "q_streaming_dedup",
        output_mode="append",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )


@register(
    "udtf_term_counts",
    r"""
    SELECT doc_id, term, n FROM (
      SELECT doc_id, sh AS term, COUNT(*) AS n
      FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS sh
            FROM documents)
      GROUP BY doc_id, sh)
    WHERE n >= 2
    """,
    note="Python UDTF (LATERAL) — Mapper-as-UDTF surface; oracle is the JVM-side explode/groupBy equivalent",
)
def udtf_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-term counts per document via a registered Python UDTF in
    a LATERAL join — the reference's Mapper contract (0..n records out
    per record in, st/PipeMapper.java being the scripted form).  The
    oracle proves the UDTF's semantics equal the vectorized
    explode→groupBy plan a production pipeline should prefer."""
    from hadoop_20_spark.operators.udx import term_counts_udtf

    spark.udtf.register("term_counts", term_counts_udtf())
    _t(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        "SELECT doc_id, tc.term, tc.n FROM udtf_docs_v, LATERAL term_counts(text) AS tc"
    )


@register(
    "frame_sample",
    """
    WITH m AS (SELECT doc_id AS media_id, text,
                      1 + (('0x' || substr(md5(text), 1, 15))::BIGINT % 8) AS n_frames
               FROM documents)
    SELECT media_id, CAST(u AS INT) AS frame_idx,
           md5(text || '#' || CAST(u AS VARCHAR)) AS frame_md5
    FROM m, UNNEST(range(0, n_frames, 2)) AS t(u)
    """,
    note="video frame-sampling plumbing: row-expanding mapInPandas with deterministic fake codec (every 2nd frame)",
)
def frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_20_spark.operators import multimodal

    media = multimodal.to_media_table(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return multimodal.frame_sample(media, stride=2, fake=True)


@register(
    "streaming_sliding",
    """
    WITH w AS (
      SELECT event_type, value,
             time_bucket(INTERVAL 30 MINUTES, CAST(ts AS TIMESTAMP)) - k * INTERVAL 30 MINUTES AS window_start
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM w GROUP BY window_start, event_type
    """,
    note="REAL streaming sliding windows (1h/30m, file microbatches, watermark); oracle is the batch expansion",
)
def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_20_spark import streaming as stream_ops

    events = stream_ops.read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )
    return stream_ops.run_to_memory(
        agg, "q_streaming_sliding",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )


@register(
    "record_io_render",
    """
    WITH r AS (SELECT n_nationkey, n_name, n_regionkey,
                      n_nationkey || ',' || n_name || ',' || n_regionkey AS csv_line
               FROM nation)
    SELECT n_nationkey, csv_line,
           CAST(string_split(csv_line, ',')[2] AS VARCHAR) AS parsed_name,
           CAST(string_split(csv_line, ',')[3] AS BIGINT) AS parsed_regionkey
    FROM r ORDER BY n_nationkey
    """,
    note="Record I/O CSV rendering round-trip (core/record/CsvRecordOutput.java): struct -> csv line -> parsed fields",
)
def record_io_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Record I/O renders fixed-schema records to CSV/XML
    streams (core/record/{CsvRecordOutput,CsvRecordInput}.java, rcc DDL).
    Spark-first: render with concat_ws, parse back with from_csv against
    a DDL schema string — the same fixed-schema island, declaratively."""
    n = _t(spark, sf_dir, "nation")
    rendered = n.select(
        "n_nationkey",
        F.concat_ws(
            ",",
            F.col("n_nationkey").cast("string"),
            F.col("n_name"),
            F.col("n_regionkey").cast("string"),
        ).alias("csv_line"),
    )
    parsed = F.from_csv(
        F.col("csv_line"), "k bigint, name string, regionkey bigint"
    )
    return rendered.select(
        "n_nationkey",
        "csv_line",
        parsed.getField("name").alias("parsed_name"),
        parsed.getField("regionkey").alias("parsed_regionkey"),
    ).orderBy("n_nationkey")


@register(
    "job_chain",
    r"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS term
      FROM documents
    ),
    counts AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY term),
    hot AS (SELECT term FROM counts WHERE n >= 500),
    usage AS (
      SELECT t.lang, t.doc_id
      FROM tok t JOIN hot USING (term)
      GROUP BY t.lang, t.doc_id
    )
    SELECT lang, COUNT(*) AS docs_with_hot_terms
    FROM usage GROUP BY lang ORDER BY docs_with_hot_terms DESC, lang
    """,
    note="JobControl DAG / gridmix 'monster chain': wordcount job -> threshold filter job -> join+agg job, one lazy plan",
)
def job_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference chains dependent MR jobs via
    mapred/jobcontrol/{Job,JobControl}.java (each stage materialized to
    HDFS between jobs); gridmix2's 'monster query' is the canonical
    3-stage chain.  Spark-first: the whole DAG is ONE lazy plan — no
    intermediate materialization, and the hot-term set (stage 2 output)
    comes back as a broadcast semi-join instead of a DistributedCache
    file."""
    tok = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(_fn_tokens("text")).alias("term"))
    )
    hot = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 500)
        .select("term")
    )
    # hot is a derived vocabulary that grows with the corpus — unhinted;
    # AQE broadcasts the semi-join side at runtime only when it fits.
    usage = (
        tok.join(hot, "term", "left_semi")
        .select("lang", "doc_id")
        .distinct()
    )
    return (
        usage.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("docs_with_hot_terms"))
        .orderBy(F.col("docs_with_hot_terms").desc(), "lang")
    )


# ---------------------------------------------------------------------------
@register(
    "stateful_totals",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS total_micros
    FROM events GROUP BY user_id
    """,
    note="REAL custom stateful streaming op (applyInPandasWithState): per-user running totals across microbatches; oracle = batch groupBy",
)
def stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state streaming (applyInPandasWithState): per-user
    (count, total) state carried across microbatches, final state equal
    to the batch aggregation.  Values accumulate as integer micro-units
    (floor(value·1e6)) so the running sums are exact and engine-identical
    — the streaming analog of the DECIMAL-sum determinism rule.

    The update-mode memory sink keeps one row per (user, batch); the
    final state per user is the max (totals are monotone).  Reference
    analog: none — cross-job state in hadoop-20 lived in HDFS files
    between chained jobs (SURVEY §2.10)."""
    import pandas as pd
    from hadoop_20_spark import streaming as stream_ops

    events = stream_ops.read_events_stream(spark, sf_dir)

    out_schema = "user_id long, n_events long, total_micros long"
    state_schema = "n long, total long"

    def update(key, pdfs, state):
        import math

        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(sum(math.floor(v * 1_000_000) for v in pdf["value"]))
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_micros": [total]}
        )

    updates = events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )
    table = stream_ops.run_to_memory(
        updates, "q_stateful_totals",
        output_mode="update",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return table.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_micros").alias("total_micros"),
    )


@register(
    "streaming_stream_join",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    note="REAL stream-stream inner join (click->purchase within 1h, watermark-bounded state); oracle = batch time-range self-join",
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks matched to purchases by the same
    user within one hour.  Watermarks on BOTH sides + the time-range
    join condition bound each side's buffered state (rows older than the
    range fall out) — the stateful-join discipline at 100 TB.  Inner
    joins emit eagerly on match, so processing all input yields exactly
    the batch join (the oracle)."""
    from hadoop_20_spark import streaming as stream_ops

    ev1 = stream_ops.read_events_stream(spark, sf_dir)
    ev2 = stream_ops.read_events_stream(spark, sf_dir)
    clicks = (
        ev1.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        ev2.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id"
    )
    return stream_ops.run_to_memory(
        joined, "q_stream_join",
        output_mode="append",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )


@register(
    "streaming_stream_outer_join",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c LEFT JOIN events p
      ON c.user_id = p.user_id AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    """,
    note="REAL stream-stream LEFT OUTER join: unmatched clicks emit with NULL purchase_id only after the watermark passes their join window — end-of-stream flush driven by staged far-future sentinel events; oracle = batch left join",
)
def streaming_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OUTER form of the stream-stream join: every click emits —
    matched rows eagerly, unmatched ones with NULL purchase_id once the
    watermark proves no qualifying purchase can still arrive (state
    expiry is the emission trigger, the semantic inner joins don't
    have).

    End-of-input problem: rows still inside the watermark when the
    source is exhausted would NEVER emit.  The source therefore stages
    two far-future sentinel events (read_events_stream(sentinel=True));
    sentinel 1 advances the watermark past all real events, and the
    flush runs inside sentinel 2's batch, which processAllAvailable
    does wait for.  Sentinels survive the event-type filters (they
    must reach the watermark operator) and are dropped from the result
    by the click_id >= 0 filter.  At 100 TB this is exactly the
    drain-and-flush discipline for decommissioning a streaming
    pipeline: inject max-watermark markers, then read the final state
    out of the sink."""
    from hadoop_20_spark import streaming as stream_ops

    ev1 = stream_ops.read_events_stream(spark, sf_dir, sentinel=True)
    ev2 = stream_ops.read_events_stream(spark, sf_dir, sentinel=True)
    clicks = (
        ev1.filter(F.col("event_type").isin("click", "__sentinel__"))
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        ev2.filter(F.col("event_type").isin("purchase", "__sentinel__"))
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")
    table = stream_ops.run_to_memory(
        joined, "q_stream_outer_join",
        output_mode="append",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return table.filter(F.col("click_id") >= 0).orderBy("click_id", "purchase_id")


@register(
    "streaming_custom_source_totals",
    """
    WITH log AS (
      SELECT i AS event_id,
             ('0x' || substr(md5('ev_' || i), 1, 8))::BIGINT % 100 AS user_id,
             list_extract(['view','click','purchase'],
                 CAST(('0x' || substr(md5('ev_' || i), 9, 2))::BIGINT % 3 AS INTEGER) + 1) AS event_type,
             (ROUND(('0x' || substr(md5('ev_' || i), 11, 6))::BIGINT / 1000.0, 3) + 0) AS value
      FROM range(600) t(i)
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,3))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM log GROUP BY event_type ORDER BY event_type
    """,
    note="REAL custom Python streaming source driven end-to-end (EventGenStreamSource: offset cursor, range partitions, deterministic replay) — the md5-derived log is reproduced row-exactly in SQL, so even a custom source gets a full oracle",
)
def streaming_custom_source_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the registered Python DataSourceStreamReader through a
    real micro-batch run (memory sink, drained with
    processAllAvailable) and aggregates the result —
    the oracle regenerates the identical md5-derived log in SQL
    (hashlib and md5() agree), so the custom-source path is
    hash-checked like every relational query.  Exactness: value has
    exactly 3 decimals by construction, so the DECIMAL(18,3) sum is
    engine-identical."""
    from hadoop_20_spark import streaming as stream_ops
    from hadoop_20_spark.sources.pyds import EventGenStreamSource

    spark.dataSource.register(EventGenStreamSource)
    stream = (
        spark.readStream.format("eventgen")
        .option("rowsPerBatch", 200)
        .option("maxRows", 600)
        .load()
    )
    table = stream_ops.run_to_memory(
        stream, "q_custom_source", output_mode="append"
    )
    return (
        table.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "audio_features",
    """
    SELECT doc_id AS media_id,
           CAST(1 + ('0x' || substr(md5(text), 1, 2))::INT % 2 AS INT) AS n_channels,
           CAST(list_extract([8000,16000,22050,44100],
                ('0x' || substr(md5(text), 3, 2))::INT % 4 + 1) AS INT) AS sample_rate,
           CAST(1 + ('0x' || substr(md5(text), 5, 6))::BIGINT
                % (4 * list_extract([8000,16000,22050,44100],
                       ('0x' || substr(md5(text), 3, 2))::INT % 4 + 1)) AS BIGINT) AS n_samples,
           CAST(FLOOR((1 + ('0x' || substr(md5(text), 5, 6))::BIGINT
                % (4 * list_extract([8000,16000,22050,44100],
                       ('0x' || substr(md5(text), 3, 2))::INT % 4 + 1))) * 1000.0
                / list_extract([8000,16000,22050,44100],
                       ('0x' || substr(md5(text), 3, 2))::INT % 4 + 1)) AS BIGINT) AS duration_ms
    FROM documents ORDER BY media_id
    """,
    note="audio-column plumbing: Arrow mapInPandas extract_audio_features (deterministic fake codec — real PCM WAV decoder drops in via fake=False); oracle reproduces the md5-derived params",
)
def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata/feature pass over a media-shaped table (payload =
    utf-8 bytes of the doc text — same stand-in as multimodal_features):
    the fake codec derives channels/rate/samples from md5(payload), so
    the whole mapInPandas pipeline is hash-checked; the REAL PCM WAV
    decoder (tested on synthesized sine WAVs) replaces it via
    fake=False with no other change."""
    from hadoop_20_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.to_media_table(docs, "doc_id", "text")
    return (
        multimodal.extract_audio_features(media, fake=True)
        # integer-exact duration: FLOOR(n*1000/rate) — a 6dp ROUND of
        # n/16000 can land on exact decimal .5 ties where engines'
        # double rounding directions differ; the floored-ms contract
        # cannot (exact quotients are IEEE-exact, others sit >=1e-4
        # from an integer boundary)
        .select(
            "media_id", "n_channels", "sample_rate", "n_samples",
            F.floor(F.col("n_samples") * 1000.0 / F.col("sample_rate"))
            .cast("long")
            .alias("duration_ms"),
        )
        .orderBy("media_id")
    )


@register(
    "image_resize_dims",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(64 + ('0x' || substr(md5(text), 1, 4))::INT % 1920 AS INT) AS w,
             CAST(64 + ('0x' || substr(md5(text), 5, 4))::INT % 1920 AS INT) AS h
      FROM documents
    )
    SELECT media_id,
           CAST(FLOOR(w * LEAST(1.0, 128.0 / GREATEST(w, h))) AS INT) AS width,
           CAST(FLOOR(h * LEAST(1.0, 128.0 / GREATEST(w, h))) AS INT) AS height
    FROM m ORDER BY media_id
    """,
    note="image-resize plumbing (max_side=128): Arrow mapInPandas resize_image over the media table — fake codec scales md5-derived dims; the REAL pixel path (PPM/BMP/PNG decode -> NN resample -> PPM re-encode) drops in via fake=False and is pixel-tested",
)
def image_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pass over a media-shaped table: emits per-item post-resize
    dimensions (longer side capped at 128, aspect preserved, floor
    semantics identical in Python float and SQL double — both compute
    the same IEEE product).  The fake codec makes the whole mapInPandas
    row-shape and dim arithmetic oracle-checkable; `resize_image
    (fake=False)` swaps in the real raster path (nearest-neighbor
    downscale + PPM re-encode, pixel-asserted in
    test_resize_image_real_roundtrip) with the same schema."""
    from hadoop_20_spark.operators import multimodal

    media = multimodal.to_media_table(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )
    return (
        multimodal.resize_image(media, max_side=128, fake=True)
        .select("media_id", "width", "height")
        .orderBy("media_id")
    )


@register(
    "streaming_backfill_totals",
    """
    SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,3))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1 ORDER BY day
    """,
    note=(
        "Trigger.AvailableNow backfill: the file-source stream is drained in rate-limited "
        "micro-batches (maxFilesPerTrigger honored, unlike legacy Trigger.Once) and the query "
        "terminates ITSELF when the planned offsets are consumed — daily totals must equal the "
        "batch GROUP BY exactly (exactly-once backfill)"
    ),
)
def streaming_backfill_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded backfill over the staged events stream: daily event
    counts and decimal-exact value totals computed by a streaming
    aggregation under Trigger.AvailableNow — process the existing
    backlog in rate-limited batches, then stop.  The semantic the
    reference covered with periodic catch-up MapReduce jobs over
    Scribe spool directories; here it is the SAME streaming query as
    the always-on form, just a different trigger, and the result must
    be row-identical to the batch aggregate (the exactly-once
    contract).

    Scale plan: complete-mode aggregate state is one row per (day) —
    tiny; the source rate limit bounds per-batch memory, so a year of
    backlog replays in bounded-size steps instead of one giant batch.
    At 100 TB the same query backfills into a real sink via
    foreachBatch + checkpoint (tested restart discipline)."""
    from hadoop_20_spark import streaming as stream_ops

    events = stream_ops.read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    table = stream_ops.run_available_now_to_memory(agg, "q_backfill_totals")
    return table.orderBy("day")


@register(
    "cogroup_order_reconcile",
    """
    SELECT o.o_orderkey,
           CAST(FLOOR(o.o_totalprice * 1000000) AS BIGINT) AS header_micros,
           CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines,
           CAST(COALESCE(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 1000000)
                                  AS BIGINT)), 0) AS BIGINT) AS lines_micros
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    ORDER BY o.o_orderkey
    """,
    note=(
        "cogrouped-pandas reconciliation (groupBy.cogroup.applyInPandas): both relations' "
        "rows for a key delivered to ONE Python function — the reference's reduce-side "
        "tagged-join contract made explicit; all money in floor-micros integers (identical "
        "IEEE multiply order on both engines, then exact integer sums)"
    ),
)
def cogroup_order_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-header vs line-detail reconciliation via COGROUPED pandas:
    one Python function receives the header rows AND the line rows of a
    cogroup key (the CompositeInputFormat / tagged reduce-side join
    contract — both tagged inputs of a key in one reduce call) and
    emits per-order header total, line count, and line-value total.

    This is the one UD* shape the registry had not yet exercised:
    grouped map (applyInPandas) and UDTF see ONE relation per key;
    cogroup delivers TWO.  Use it when per-key logic genuinely needs
    both sides materialized together (mismatched-schema reconciliation,
    master-detail validation); for anything expressible as join+agg,
    the declarative form wins (this query's oracle IS that form).

    COST MODEL (SCALE.md "Python-boundary cost"): the dominant cost of
    cogroup/applyInPandas is the per-GROUP fixed overhead — one Arrow
    round-trip plus one Python dispatch per key, ~1.4 ms each way
    measured — so cost scales with group COUNT, not data volume.
    Keying this demo per-order (150k tiny groups at sf0.1) measured
    108.8 s; the same semantics keyed by a BOUNDED hash bucket
    (``o_orderkey % 512`` on both sides, per-order work vectorized in
    pandas inside the group) is ~50× fewer boundary crossings with
    identical output.  That re-key is the rule this module teaches:
    few large groups, vectorized kernel inside — never many tiny
    groups with scalar Python per group.

    Determinism: money is floored to integer MICROS inside the UDF with
    the same left-associated IEEE multiply the oracle uses
    (p * (1 - d) * 1e6) — float64 elementwise in numpy is the identical
    operation sequence — so the sums are exact integers, immune to
    pandas row order.  Scale plan: cogroup hash-partitions BOTH inputs
    on the bucket key (two co-keyed shuffles, Arrow-batched transfer);
    per-bucket state is corpus/512, and the bucket count is the
    parallelism knob (set it to ~4x cluster cores at 100 TB)."""
    import numpy as np
    import pandas as pd

    n_buckets = 512
    orders = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % n_buckets).alias("bucket"),
        "o_orderkey",
        "o_totalprice",
    )
    lines = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % n_buckets).alias("bucket"),
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
    )

    def reconcile(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        if odf.empty:
            # line rows whose order headers are absent: nothing to
            # reconcile against (oracle's LEFT JOIN keeps orders only)
            return pd.DataFrame(
                columns=["o_orderkey", "header_micros", "n_lines", "lines_micros"]
            )
        out = pd.DataFrame(
            {
                "o_orderkey": odf["o_orderkey"].astype("int64"),
                "header_micros": np.floor(
                    odf["o_totalprice"].to_numpy(dtype="float64") * 1000000
                ).astype("int64"),
            }
        )
        if len(ldf):
            p = ldf["l_extendedprice"].to_numpy(dtype="float64")
            d = ldf["l_discount"].to_numpy(dtype="float64")
            lv = pd.DataFrame(
                {
                    "o_orderkey": ldf["l_orderkey"].astype("int64"),
                    "v": np.floor(p * (1 - d) * 1000000).astype("int64"),
                }
            )
            per = lv.groupby("o_orderkey", sort=False)["v"].agg(["size", "sum"])
            out = out.merge(
                per, how="left", left_on="o_orderkey", right_index=True
            )
            out["n_lines"] = out["size"].fillna(0).astype("int64")
            out["lines_micros"] = out["sum"].fillna(0).astype("int64")
            out = out.drop(columns=["size", "sum"])
        else:
            out["n_lines"] = 0
            out["lines_micros"] = 0
        return out

    out = (
        orders.groupBy("bucket")
        .cogroup(lines.groupBy("bucket"))
        .applyInPandas(
            reconcile,
            "o_orderkey long, header_micros long, n_lines long, lines_micros long",
        )
    )
    return out.orderBy("o_orderkey")


@register(
    "streaming_incremental_dedup",
    """
    WITH f AS (
      SELECT doc_id, source, md5(substr(text, 1, 40)) AS h FROM documents
    ),
    k AS (SELECT h, MIN(doc_id) AS keeper FROM f GROUP BY h)
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN k.keeper = f.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(CASE WHEN k.keeper = f.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
    FROM f JOIN k ON k.h = f.h
    GROUP BY f.source ORDER BY f.source
    """,
    note=(
        "streaming keep-first ingest dedup (foreachBatch + persisted fingerprint index, "
        "Trigger.AvailableNow over doc_id-ordered staged batches): per batch, fingerprint "
        "-> within-batch min-doc_id keep -> anti-join vs index -> append; the streamed "
        "keeper set equals the BATCH keep-min-doc_id oracle exactly because batches are "
        "doc_id-contiguous ascending — per-source kept/dropped yield report"
    ),
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming form of corpus ingest dedup: documents replay in
    ingest (doc_id) order as 4 micro-batches; each batch fingerprints
    its docs (md5 of the 40-char head — the cheap crawl-spool key),
    keeps first occurrences, anti-joins the persisted index, and
    appends the survivors.  After the bounded drain, the report reads
    the index back and emits per-source docs/kept/dropped — identical
    to the batch keep-min-doc_id dedup because batches are
    doc_id-contiguous ascending (the first batch holding a fingerprint
    also holds its minimum doc_id).

    This closes the streaming x curation corner: the same dedup
    discipline the batch registry proves (dedup_exact,
    incremental_dedup), running under checkpointed micro-batch
    execution with state OUTSIDE the engine (a parquet index a restart
    can resume against), not inside a state store — the shape a real
    24/7 ingest pipeline ships.  Scale notes in
    streaming.incremental_dedup_ingest."""
    import tempfile

    from hadoop_20_spark import streaming as stream_ops

    index_dir = tempfile.mkdtemp(prefix="dedup_index_") + "/idx"
    ckpt = tempfile.mkdtemp(prefix="dedup_ckpt_")
    stream = stream_ops.read_documents_stream(spark, sf_dir, n_files=4)
    q = stream_ops.incremental_dedup_ingest(stream, index_dir, ckpt).start()
    q.awaitTermination()

    # Collapse the index to one row per fingerprint BEFORE counting:
    # foreachBatch is at-least-once, so a replayed batch may re-append
    # rows after a failure; min-(doc_id, source) per h makes the report
    # idempotent — the documented contract of incremental_dedup_ingest.
    idx = (
        spark.read.parquet(index_dir)
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "source")).alias("k"))
        .select(F.col("k.source").alias("source"))
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    kept = idx.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        base.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_docs") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
        .orderBy("source")
    )


@register(
    "streaming_cdc_view",
    """
    WITH eff AS (
      SELECT o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 1000000 AS BIGINT)
               AS p_micros
      FROM orders
      WHERE NOT (o_orderkey % 5 = 0 AND o_orderkey % 4 IN (0, 1, 2))
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(p_micros) AS BIGINT) AS total_micros
    FROM eff GROUP BY 1 ORDER BY 1
    """,
    note=(
        "STREAMING retraction-safe view maintenance (the CDC/upsert corner: round 7's "
        "streaming ingest was insert-only, round 8's batch retraction was offline): a "
        "4-batch change stream (inserts + delete rows retracting the previous batch's "
        "%5 keys) maintains a per-priority count/sum view via foreachBatch signed merges "
        "into an epoch-fenced parquet state (replays skipped — the idempotent-sink "
        "discipline); the oracle recomputes the view from the effective table"
    ),
)
def streaming_cdc_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a per-priority (count, integer-micros sum) view under a
    RETRACTING change stream and publish the final state — the
    streaming twin of ``retraction_agg_maintenance`` restricted to the
    always-mergeable algebra (counts/sums with signed deltas; min/max
    under deletes belongs to the batch recompute path, documented in
    streaming.cdc_view_maintenance).

    The CDC replay is deterministic: batch k inserts the
    ``o_orderkey % 4 == k`` slice; batches 1-3 also retract the
    previous slice's ``% 5 == 0`` orders.  The state table carries the
    last applied epoch, so an at-least-once replay of a batch is
    skipped rather than double-applied — asserted by the idempotency
    test."""
    import tempfile

    from hadoop_20_spark import streaming as stream_ops

    state_dir = tempfile.mkdtemp(prefix="cdc_state_") + "/state"
    ckpt = tempfile.mkdtemp(prefix="cdc_ckpt_")
    stream = stream_ops.stage_cdc_order_batches(spark, sf_dir, n_batches=4)
    q = stream_ops.cdc_view_maintenance(stream, state_dir, ckpt).start()
    q.awaitTermination()
    return (
        spark.read.parquet(state_dir)
        .select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n_orders"),
            F.col("s_micros").cast("long").alias("total_micros"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "streaming_cdc_minmax",
    """
    WITH eff AS (
      SELECT o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 1000000 AS BIGINT)
               AS p_micros
      FROM orders
      WHERE NOT (o_orderkey % 5 = 0 AND o_orderkey % 4 IN (0, 1, 2))
    )
    SELECT o_orderpriority,
           CAST(MIN(p_micros) AS BIGINT) AS min_micros,
           CAST(MAX(p_micros) AS BIGINT) AS max_micros
    FROM eff GROUP BY 1 ORDER BY 1
    """,
    note=(
        "BOUNDED-STATE min/max under streaming retraction: per group a k=32 reservoir of "
        "smallest/largest surviving values absorbs extremum deletes by promotion (no "
        "history rescan); per batch the stream contributes only k smallest/largest "
        "inserts + k+1 deletes per group; depletion or a truncation-boundary duplicate "
        "flags the group (none flags on this corpus — test-asserted); oracle recomputes "
        "min/max from the effective table"
    ),
)
def streaming_cdc_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish per-priority min/max (integer micros) maintained by the
    k-reservoir under the same retracting CDC replay as
    ``streaming_cdc_view`` — the bounded-state answer to the
    retract-the-extremum problem the batch query
    (``retraction_agg_maintenance``) solves by per-group recompute.
    Flagged groups (reservoir depleted — does not occur on this corpus;
    the unit test forces it) fall back to recomputing from the
    effective rows; the published result is min/max either way, so the
    oracle is a plain recompute."""
    import tempfile

    from hadoop_20_spark import streaming as stream_ops

    state_dir = tempfile.mkdtemp(prefix="cdcmm_state_") + "/state"
    ckpt = tempfile.mkdtemp(prefix="cdcmm_ckpt_")
    stream = stream_ops.stage_cdc_order_batches(spark, sf_dir, n_batches=4)
    q = stream_ops.cdc_minmax_maintenance(stream, state_dir, ckpt).start()
    q.awaitTermination()
    state = spark.read.parquet(state_dir)
    ok = state.where(~F.col("flagged")).select(
        "o_orderpriority",
        F.element_at("bot", 1).alias("min_micros"),
        F.element_at("top", 1).alias("max_micros"),
    )
    flagged = state.where(F.col("flagged")).select("o_orderpriority")
    if flagged.count() > 0:
        o = _t(spark, sf_dir, "orders")
        eff = o.where(
            ~((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 4 < 3))
        ).select(
            "o_orderpriority",
            (F.col("o_totalprice").cast("decimal(28,6)") * 1000000)
            .cast("long")
            .alias("p_micros"),
        )
        rec = (
            eff.join(F.broadcast(flagged), "o_orderpriority", "left_semi")
            .groupBy("o_orderpriority")
            .agg(
                F.min("p_micros").alias("min_micros"),
                F.max("p_micros").alias("max_micros"),
            )
        )
        ok = ok.unionByName(rec)
    return ok.select(
        "o_orderpriority",
        F.col("min_micros").cast("long").alias("min_micros"),
        F.col("max_micros").cast("long").alias("max_micros"),
    ).orderBy("o_orderpriority")


def _streaming_cms_oracle() -> str:
    from hadoop_20_spark.queries.corpus_stats import _CMS_D, _cms_bucket_sql

    return rf"""
    WITH tok AS (
      SELECT unnest({_TOKENS.format(col='text')}) AS w FROM documents
    ),
    cells AS (
      SELECT t.r, {_cms_bucket_sql('w', 't.r')} AS bucket
      FROM tok CROSS JOIN range(0, {_CMS_D}) t(r)
    ),
    sketch AS (SELECT r, bucket, COUNT(*) AS sc FROM cells GROUP BY r, bucket)
    SELECT r,
           CAST(COUNT(*) AS BIGINT) AS occupied_buckets,
           CAST(SUM(sc) AS BIGINT) AS total_count,
           CAST(SUM(sc * sc) AS BIGINT) AS sum_sq,
           CAST(MAX(sc) AS BIGINT) AS max_cell
    FROM sketch GROUP BY r ORDER BY r
    """


@register(
    "streaming_cms_sketch",
    None,  # oracle attached below (shared one-shot whole-corpus build)
    note=(
        "count-min sketch maintained ACROSS MICRO-BATCHES: each of 4 file-stream "
        "batches appends its epoch-tagged sub-sketch cells (<= d*w rows per batch after "
        "map-side combine) to append-only parquet state; the readout MAX-collapses per "
        "(epoch,r,bucket) — idempotent under at-least-once replay — then SUMs across "
        "epochs (CMS linearity).  Oracle = the whole-corpus sketch built in one shot: "
        "streaming merge == batch rebuild, the cms_sketch_merge contract under "
        "checkpointed micro-batch execution with state OUTSIDE the engine"
    ),
)
def streaming_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming third of the sketch-mergeability story: batch
    (cms_sketch_merge) proved sub-sketch addition, HLL
    (hll_distinct_merge) proved max-semilattice merge; this runs the
    CMS build as a 24/7 ingest would — 4 checkpointed micro-batches,
    each contributing an epoch-tagged sub-sketch to parquet state a
    restart can resume against, merged exactly at read time.  Per-row
    report (occupancy, mass, collision energy, max cell) is identical
    to the one-shot corpus sketch because CMS is linear."""
    import tempfile

    from hadoop_20_spark import streaming as stream_ops

    state_dir = tempfile.mkdtemp(prefix="cms_state_") + "/cells"
    ckpt = tempfile.mkdtemp(prefix="cms_ckpt_")
    stream = stream_ops.read_documents_stream(spark, sf_dir, n_files=4)
    q = stream_ops.incremental_cms_ingest(stream, state_dir, ckpt).start()
    q.awaitTermination()

    merged = stream_ops.read_cms_state(spark, state_dir)
    return (
        merged.groupBy("r")
        .agg(
            F.count(F.lit(1)).cast("long").alias("occupied_buckets"),
            F.sum("sc").cast("long").alias("total_count"),
            F.sum(F.col("sc") * F.col("sc")).cast("long").alias("sum_sq"),
            F.max("sc").cast("long").alias("max_cell"),
        )
        .orderBy("r")
    )


REGISTRY["streaming_cms_sketch"] = Query(
    fn=REGISTRY["streaming_cms_sketch"].fn,
    oracle=_streaming_cms_oracle(),
    note=REGISTRY["streaming_cms_sketch"].note,
)


@register(
    "streaming_session_agg",
    """
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTES AS session_end,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_seq
    """,
    note=(
        "REAL streaming session windows (gap-merged dynamic intervals, 30m gap, "
        "file microbatches, watermark, complete-mode memory sink) — the stateful "
        "operator whose state is an OPEN interval per (user, session) that merges "
        "as events arrive; oracle = the batch gap-detection cumsum (same SQL as "
        "session_window_agg, proving stream == batch == lag/cumsum)"
    ),
)
def streaming_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows on a live stream — the missing §2.10 twin of the
    batch session_window_agg: same F.session_window operator, driven
    through file-source microbatches with a watermark, so the state
    store holds open sessions that MERGE when a new event lands inside
    an existing gap (the semantics tumbling/sliding windows don't
    exercise).  Complete-mode sink finalizes every session at
    processAllAvailable, making the stream bit-comparable to the batch
    oracle.  Scale plan: state is one open interval per active (user,
    session) — bounded by the watermark horizon, evicted as it passes;
    the shuffle is user-keyed like every other stateful op here."""
    from hadoop_20_spark import streaming as stream_ops

    events = stream_ops.read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return stream_ops.run_to_memory(
        agg, "q_streaming_session",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Perceptual near-dup over REAL decoded pixels (round 9)
# ---------------------------------------------------------------------------


def _ahash_relation(spark: SparkSession, sf_dir: str):
    """(media_id, base_id, ahash) over the synthesized PPM corpus: the
    shared front half of the ahash family — numpy PPM encode -> binary
    column -> builtin P6 decode -> integer luma (two Arrow mapInPandas
    stages, no shuffle between), then the 16-bit average hash in pure
    codegen (4x4-cell sums, bit = cell*16 >= total)."""
    from hadoop_20_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    gray = multimodal.decode_gray(multimodal.synth_gray_ppm(docs))
    g = F.col("gray")
    cell = lambda c: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), F.lit(15)),
        F.lit(0),
        lambda a, k: a
        + F.element_at(
            g,
            ((c / 4).cast("int") * 4 + (k / 4).cast("int")) * 16
            + (c % 4) * 4
            + (k % 4)
            + 1,
        ),
    )
    with_tot = gray.select(
        "media_id",
        "base_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)), lambda c: cell(c).cast("bigint")
        ).alias("cells"),
        F.aggregate(g, F.lit(0), lambda a, x: a + x).cast("bigint").alias("t"),
    )
    powers = F.array(*[F.lit(1 << i).cast("bigint") for i in range(16)])
    bits = F.transform(
        F.col("cells"),
        lambda x, i: F.when(
            x * 16 >= F.col("t"), F.element_at(powers, i.cast("int") + 1)
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return with_tot.select(
        "media_id",
        "base_id",
        F.aggregate(bits, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("ahash"),
    )


@register(
    "image_ahash_near_dup",
    r"""
    WITH px AS (
      SELECT doc_id, doc_id // 3 AS base, unnest(range(256)) AS i
      FROM documents
    ),
    v AS (
      SELECT doc_id, base, i,
             (('0x' || substr(md5('px:' || base || ':' || i), 1, 2))::INT
              + CASE WHEN ('0x' || substr(md5('noise:' || doc_id || ':' || i), 1, 15))::BIGINT
                          % 50 = 0
                     THEN 128 ELSE 0 END) % 256 AS g
      FROM px
    ),
    cells AS (
      SELECT doc_id, base,
             ((i // 16) // 4) * 4 + (i % 16) // 4 AS c,
             CAST(SUM(g) AS BIGINT) AS cs
      FROM v GROUP BY 1, 2, 3
    ),
    tot AS (SELECT doc_id, CAST(SUM(cs) AS BIGINT) AS t FROM cells GROUP BY 1),
    h AS (
      SELECT cells.doc_id, base,
             CAST(SUM(CASE WHEN cs * 16 >= t THEN 1::BIGINT << c ELSE 0 END)
                  AS BIGINT) AS ahash
      FROM cells JOIN tot ON tot.doc_id = cells.doc_id
      GROUP BY 1, 2
    )
    SELECT ahash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT base) AS BIGINT) AS n_bases,
           MIN(doc_id) AS keeper,
           MAX(doc_id) AS max_doc
    FROM h GROUP BY ahash HAVING COUNT(*) >= 2 ORDER BY ahash
    """,
    note=(
        "perceptual (average-hash) image near-dup over REAL decoded pixels: the "
        "Spark side reaches gray values ONLY through a PPM encode -> builtin decode "
        "round trip (Arrow-batched mapInPandas both ways), the hash is pure integer "
        "Column math (16 cell sums, bit = cs*16 >= total), and the oracle recomputes "
        "everything arithmetically from the pixel spec — a hash match therefore "
        "proves the distributed binary codec path LOSSLESS, not just the bucketing; "
        "planted same-base triples (2% pixel noise) land in shared hash buckets"
    ),
)
def image_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-hash near-duplicate detection — the pixel-space sibling
    of simhash/minhash: decode, 4x4-cell luma means, threshold at the
    global mean, 16-bit hash, exact-bucket grouping (Hamming-0; a
    banded Hamming-k probe would reuse srp/simhash multiprobe).  The
    corpus is synthesized as REAL 16x16 gray PPMs (same-base triples
    with ~2% per-doc pixel noise) so the drill exercises the actual
    binary path: numpy encode -> binary column -> builtin P6 decode ->
    integer luma — and the arithmetic oracle certifies losslessness
    end-to-end.

    Plan: two Arrow-batched mapInPandas stages (generate, decode) with
    NO shuffle between them (media_id never re-keys), then the hash is
    computed in pure codegen (aggregate/transform over the 256-length
    array; the only Python in the hot path is the codec itself, the
    documented multimodal exception), then ONE 8-byte-key groupBy.  At
    100 TB pixel payloads stay in executor-local Arrow batches;
    only (hash, doc) pairs shuffle — the same economics as
    simhash_fingerprints.  Reference anchor (public hadoop-20):
    BytesWritable payload mappers + mapred/pipes native codecs, here as
    Arrow batches."""
    hashed = _ahash_relation(spark, sf_dir)
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("base_id").cast("long").alias("n_bases"),
            F.min("media_id").alias("keeper"),
            F.max("media_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("ahash")
    )


@register(
    "image_ahash_multiprobe",
    r"""
    WITH px AS (
      SELECT doc_id, doc_id // 3 AS base, unnest(range(256)) AS i
      FROM documents
    ),
    v AS (
      SELECT doc_id, base, i,
             (('0x' || substr(md5('px:' || base || ':' || i), 1, 2))::INT
              + CASE WHEN ('0x' || substr(md5('noise:' || doc_id || ':' || i), 1, 15))::BIGINT
                          % 50 = 0
                     THEN 128 ELSE 0 END) % 256 AS g
      FROM px
    ),
    cells AS (
      SELECT doc_id, base,
             ((i // 16) // 4) * 4 + (i % 16) // 4 AS c,
             CAST(SUM(g) AS BIGINT) AS cs
      FROM v GROUP BY 1, 2, 3
    ),
    tot AS (SELECT doc_id, CAST(SUM(cs) AS BIGINT) AS t FROM cells GROUP BY 1),
    h AS (
      SELECT cells.doc_id, base,
             CAST(SUM(CASE WHEN cs * 16 >= t THEN 1::BIGINT << c ELSE 0 END)
                  AS BIGINT) AS ahash
      FROM cells JOIN tot ON tot.doc_id = cells.doc_id
      GROUP BY 1, 2
    ),
    hh AS (SELECT ahash, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY 1),
    bands AS (
      SELECT ahash, n, b, (ahash >> (4 * b)) & 15 AS v
      FROM hh, (SELECT unnest(range(4)) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.ahash AS ha, c.ahash AS hb, a.n AS na, c.n AS nb
      FROM bands a JOIN bands c ON a.b = c.b AND a.v = c.v AND a.ahash < c.ahash
    ),
    ver AS (
      SELECT ha, hb, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS d, na * nb AS dp
      FROM cand WHERE bit_count(xor(ha, hb)) <= 2
    ),
    samed AS (
      SELECT ahash AS ha, ahash AS hb, CAST(0 AS BIGINT) AS d,
             n * (n - 1) // 2 AS dp
      FROM hh WHERE n >= 2
    ),
    alld AS (SELECT * FROM ver UNION ALL SELECT * FROM samed),
    dist AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_hash_pairs,
             CAST(SUM(dp) AS BIGINT) AS n_doc_pairs
      FROM alld GROUP BY d
    ),
    pp AS (
      SELECT LEAST(x.ahash, y.ahash) AS ha, GREATEST(x.ahash, y.ahash) AS hb,
             CAST(bit_count(xor(x.ahash, y.ahash)) AS BIGINT) AS d
      FROM h x JOIN h y ON x.base = y.base AND x.doc_id < y.doc_id
    ),
    fnd AS (SELECT DISTINCT ha, hb FROM alld),
    pl AS (
      SELECT pp.d, CAST(COUNT(*) AS BIGINT) AS n_planted_pairs,
             CAST(COUNT(f.ha) AS BIGINT) AS n_planted_found
      FROM pp LEFT JOIN fnd f ON pp.ha = f.ha AND pp.hb = f.hb
      WHERE pp.d <= 2 GROUP BY pp.d
    )
    SELECT dist.d,
           dist.n_hash_pairs,
           dist.n_doc_pairs,
           COALESCE(pl.n_planted_pairs, 0) AS n_planted_pairs,
           COALESCE(pl.n_planted_found, 0) AS n_planted_found,
           CASE WHEN COALESCE(pl.n_planted_pairs, 0) = 0 THEN NULL
                ELSE COALESCE(pl.n_planted_found, 0) * 1000000
                     // pl.n_planted_pairs END AS recall_ppm,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidate_hash_pairs
    FROM dist LEFT JOIN pl ON dist.d = pl.d
    ORDER BY dist.d
    """,
    note=(
        "banded Hamming-<=2 multiprobe over the 16-bit average hash (4x4-bit "
        "bands, the simhash/srp pattern): near-dup pairs beyond exact-bucket "
        "equality are found by an equi-join on (band, value) over the DISTINCT-"
        "hash relation — the quadratic candidate step is bounded by the 2^16 "
        "hash space, never the corpus; pigeonhole makes banding COMPLETE for "
        "Hamming <= 3, and the measured recall over planted same-base pairs "
        "certifies it (recall_ppm = 1000000 at every populated distance)"
    ),
)
def image_ahash_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-k near-duplicates WITHOUT all-pairs: band the 16-bit
    ahash into four 4-bit bands; two hashes within Hamming 3 agree on
    at least one band (pigeonhole), so an equi-join on (band, value)
    followed by an exact XOR-popcount verify finds every pair at
    Hamming <= 2 — the multiprobe discipline simhash_fingerprints and
    srp_bucketed_neighbors already use, applied to the pixel hash.

    The scale trick: banding runs on the DISTINCT-hash relation
    (groupBy ahash first), so the candidate join is bounded by the
    2^16 hash space regardless of corpus size — doc-pair counts come
    back as n_a * n_b products, never materialized pairs.  Per
    distance d in {0,1,2}: hash pairs, doc pairs, planted (same-base)
    pairs, planted pairs found through the banding path, and the
    measured recall (ppm) — pinned to 1000000 by the pigeonhole
    completeness argument, which the oracle re-derives independently.

    Plan: one decode pass (the shared _ahash_relation, persisted — it
    feeds the hash histogram AND the planted ground-truth self-join),
    a <= 4*|hashes|-row band explode, one (band, value) equi-join, and
    bounded aggregates; the base-keyed ground-truth join is linear
    (base groups have <= 3 members).  Reference anchor (public
    hadoop-20): the banded-key multi-probe is the same key-expansion
    idiom as contrib/data_join's tagged replication, with the verify
    as the reducer-side exact filter."""
    hashed = _ahash_relation(spark, sf_dir).persist()
    hh = hashed.groupBy("ahash").agg(F.count(F.lit(1)).cast("long").alias("n"))
    bands = hh.select(
        "ahash",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        (
                            F.shiftrightunsigned(F.col("ahash"), 4 * b)
                            .bitwiseAND(F.lit(15))
                        ).alias("v"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bv"),
    ).select("ahash", "n", "bv.b", "bv.v")
    cand = (
        bands.select(F.col("ahash").alias("ha"), F.col("n").alias("na"), "b", "v")
        .join(
            bands.select(
                F.col("ahash").alias("hb"), F.col("n").alias("nb"), "b", "v"
            ),
            ["b", "v"],
        )
        .filter(F.col("ha") < F.col("hb"))
        .select("ha", "hb", "na", "nb")
        .dropDuplicates(["ha", "hb"])
    )
    # cand feeds the verify AND the candidate-count audit — persist
    # (bounded by the 2^16 hash space, the house persist rule)
    cand = cand.persist()
    ver = cand.select(
        "ha",
        "hb",
        F.bit_count(F.expr("ha ^ hb")).cast("long").alias("d"),
        (F.col("na") * F.col("nb")).cast("long").alias("dp"),
    ).filter(F.col("d") <= 2)
    samed = hh.filter(F.col("n") >= 2).select(
        F.col("ahash").alias("ha"),
        F.col("ahash").alias("hb"),
        F.lit(0).cast("long").alias("d"),
        F.expr("n * (n - 1) div 2").cast("long").alias("dp"),
    )
    alld = ver.unionByName(samed)
    dist = alld.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_hash_pairs"),
        F.sum("dp").cast("long").alias("n_doc_pairs"),
    )
    pp = (
        hashed.select("base_id", F.col("media_id").alias("ma"), F.col("ahash").alias("xa"))
        .join(
            hashed.select(
                "base_id", F.col("media_id").alias("mb"), F.col("ahash").alias("xb")
            ),
            "base_id",
        )
        .filter(F.col("ma") < F.col("mb"))
        .select(
            F.least("xa", "xb").alias("ha"),
            F.greatest("xa", "xb").alias("hb"),
            F.bit_count(F.expr("xa ^ xb")).cast("long").alias("d"),
        )
        .filter(F.col("d") <= 2)
    )
    fnd = alld.select("ha", "hb").distinct().withColumn("hit", F.lit(1))
    pl = (
        pp.join(fnd, ["ha", "hb"], "left")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_planted_pairs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias(
                "n_planted_found"
            ),
        )
    )
    ncand = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_hash_pairs")
    )
    return (
        dist.join(pl, "d", "left")
        .crossJoin(F.broadcast(ncand))
        .select(
            "d",
            "n_hash_pairs",
            "n_doc_pairs",
            F.coalesce("n_planted_pairs", F.lit(0)).cast("long").alias(
                "n_planted_pairs"
            ),
            F.coalesce("n_planted_found", F.lit(0)).cast("long").alias(
                "n_planted_found"
            ),
            F.when(
                F.coalesce("n_planted_pairs", F.lit(0)) == 0, F.lit(None)
            )
            .otherwise(
                F.expr("coalesce(n_planted_found, 0) * 1000000 div n_planted_pairs")
            )
            .cast("long")
            .alias("recall_ppm"),
            "n_candidate_hash_pairs",
        )
        .orderBy("d")
    )


@register(
    "streaming_stream_full_outer_join",
    """
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    note=(
        "REAL stream-stream FULL OUTER join — the last corner of the streaming join "
        "matrix: matched pairs emit eagerly, unmatched CLICKS flush with NULL "
        "purchase once the watermark passes their 1h window, unmatched PURCHASES "
        "flush with NULL click once no earlier click can still arrive (the time-range "
        "condition bounds BOTH buffers, which is what makes state expirable on both "
        "sides); sentinel-driven end-of-stream drain; oracle = batch full join"
    ),
)
def streaming_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join: both sides' state expiry is an
    EMISSION trigger.  The join condition gives each side a watermark
    bound on the other (p_ts in (c_ts, c_ts+1h] bounds c_ts in
    [p_ts-1h, p_ts)), so Spark can both clean click state AND conclude
    a purchase is permanently unmatched — without the two-sided bound a
    full outer join would have to buffer one side forever.

    Same drain discipline as the left-outer form: two far-future
    sentinel files advance the watermark past all real events and host
    the final flush batch inside processAllAvailable; sentinels are
    dropped from the result on BOTH null-preserving sides (a null
    click_id must survive for unmatched purchases and vice versa).
    At 100 TB this is the reconciliation-join shape (orders vs
    settlements): every row from either feed accounted for exactly
    once, bounded state, no end-of-day batch re-join."""
    from hadoop_20_spark import streaming as stream_ops

    ev1 = stream_ops.read_events_stream(spark, sf_dir, sentinel=True)
    ev2 = stream_ops.read_events_stream(spark, sf_dir, sentinel=True)
    clicks = (
        ev1.filter(F.col("event_type").isin("click", "__sentinel__"))
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        ev2.filter(F.col("event_type").isin("purchase", "__sentinel__"))
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "fullOuter",
    ).select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "purchase_id",
    )
    table = stream_ops.run_to_memory(
        joined, "q_stream_full_outer_join",
        output_mode="append",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return (
        table.filter(
            (F.col("click_id").isNull() | (F.col("click_id") >= 0))
            & (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        )
        .orderBy("user_id", "click_id", "purchase_id")
    )


@register(
    "streaming_stream_semi_join",
    """
    SELECT c.user_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    WHERE EXISTS (
      SELECT 1 FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      WHERE p.user_id = c.user_id
        AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
    ORDER BY user_id, click_id
    """,
    note=(
        "stream-stream LEFT SEMI join (attribution EXISTS): clicks emitted exactly "
        "once on their first in-window purchase, never duplicated per purchase — "
        "the dedup-free existence test; same two-sided time-range state expiry as "
        "the outer forms; oracle = batch EXISTS"
    ),
)
def streaming_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI completes the streaming join matrix's existence
    quadrant: 'did this click convert?' without the row multiplication
    an inner join (one output PER purchase) would force and without the
    downstream dropDuplicates shuffle that de-duping the inner form
    would cost — the engine emits each matched click once and discards
    click state at watermark.

    Same plan economics as the inner form: the time-range condition
    bounds both buffers, so state is expirable on both sides; the
    semi's advantage at 100 TB is OUTPUT volume (clicks, not clicks x
    purchases) and no dedup stage.  Sentinel files advance the
    watermark for the final drain, then are filtered from the result.
    """
    from hadoop_20_spark import streaming as stream_ops

    ev1 = stream_ops.read_events_stream(spark, sf_dir, sentinel=True)
    ev2 = stream_ops.read_events_stream(spark, sf_dir, sentinel=True)
    clicks = (
        ev1.filter(F.col("event_type").isin("click", "__sentinel__"))
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        ev2.filter(F.col("event_type").isin("purchase", "__sentinel__"))
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftSemi",
    ).select(F.col("c_user").alias("user_id"), "click_id")
    table = stream_ops.run_to_memory(
        joined, "q_stream_semi_join",
        output_mode="append",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return table.filter(F.col("click_id") >= 0).orderBy("user_id", "click_id")
