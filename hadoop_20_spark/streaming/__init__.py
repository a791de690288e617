"""Structured Streaming operators (SURVEY §2.10).

The reference is a batch engine; Facebook's "realtime" was storage-level
(HDFS append/hflush, ``hdfs/DFSClient.java#sync``) feeding periodic batch
jobs over continuously-appended directories (the Scribe→HDFS pattern).
This module supplies the modern equivalents over the ``events`` table:
file-source readStream, tumbling/sliding/session windows, watermarked
late-data handling, streaming dedup, and an exactly-once partitioned
file sink (Spark's own, whose ``_spark_metadata`` log replaces the
reference's overwrite-the-partition reprocessing).

At scale: state stores are keyed by the groupBy columns — watermarks
bound state size; ``dropDuplicatesWithinWatermark`` bounds dedup state.
A new stateful stream gets ``STATE_PARTITIONS_MIN`` stores per operator
(``session.get_spark`` sets ``spark.sql.shuffle.partitions`` to it and
gives batch plans their own width); the ``run_*_to_memory`` helpers raise
that from input bytes (:func:`adaptive_state_partitions`).
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hadoop_20_spark.session import STATE_PARTITIONS_MIN

#: Input bytes per state-store partition for the adaptive sizing rule
#: below.  State of a watermark-bounded operator is bounded by (a slice
#: of) its input, so input bytes are the driver-side-knowable proxy for
#: state volume.
STATE_PARTITION_TARGET_BYTES = 8 << 20
#: ceiling for the derived count — ~16 GB of input per trigger at the
#: target above; past that, raise the target, not the cap (more stores
#: per operator means more per-batch commits, the exact overhead this
#: rule exists to bound).
STATE_PARTITIONS_MAX = 2048

# run_*_to_memory briefly sets spark.sql.shuffle.partitions around
# .start() (the stream's cloned session captures it; see
# adaptive_state_partitions).  Batch plans do not read that conf (they
# take AQE's initial partition number), so the lock only keeps
# concurrent stream launches on one session from restoring each
# other's values out of order.
_STATE_CONF_LOCK = threading.Lock()


def events_source_path(sf_dir: str) -> str:
    """THE events stream source path — shared by read_events_stream and
    the state-partition sizing so the two can never diverge on a
    fixture-layout change, and failing LOUD on a missing source instead
    of silently sizing state from 0 bytes (r14, advisor item)."""
    import os

    p = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"events stream source missing: {p} — a renamed fixture "
            "would otherwise silently size the state store from 0 bytes"
        )
    return p


#: byte-total memo for adaptive_state_partitions (immutable fixture
#: files; sizing-only state — a stale entry can only move wall-clock,
#: never a result)
_SOURCE_BYTES_MEMO: dict[tuple[str, ...], int] = {}


def adaptive_state_partitions(
    spark: SparkSession,
    *paths: str,
    target_bytes: int = STATE_PARTITION_TARGET_BYTES,
    lo: int = STATE_PARTITIONS_MIN,
    hi: int = STATE_PARTITIONS_MAX,
) -> int:
    """State-store partition count derived from INPUT SIZE, not core
    count (guide §2.6 — scale-adaptive partitioning, never a constant
    tuned to the local box).

    A stateful streaming operator hash-partitions its state into
    ``spark.sql.shuffle.partitions`` stores, and EVERY store pays a
    per-batch commit (delta file write + snapshot maintenance) whether
    or not it holds data.  Defaulting that to the core count makes the
    commit overhead scale with the MACHINE instead of the DATA:
    measured on the sf0.1 stream-stream join (2 MB input, ~40k peak
    state rows, 4 stores per partition), the data batch runs 3.8 s
    under 32 partitions vs 1.5 s under 8 vs 1.0 s under 6 — identical
    results, pure commit overhead.  Sizing from input bytes keeps the
    count identical at any core count (so a low-core and a high-core
    run of the same stream are comparable) and scales to production:
    ~``target_bytes`` of per-trigger input per store lands a 100 TB/day
    stream with GB-scale triggers at the 2048 cap while a tailing
    20 MB/min ingest stays at a handful of stores.  Values are
    partition-count-independent throughout this module (decimal-exact
    sums, exact joins), so the knob moves only wall-clock.

    ``paths`` are the stream's source files/directories; sizes are read
    driver-side (bounded metadata work, same class as the file listing
    the source already does)."""
    import os

    key = tuple(paths)
    total = _SOURCE_BYTES_MEMO.get(key)
    if total is None:
        total = 0
        for p in paths:
            if os.path.isdir(p):
                for root, _dirs, files in os.walk(p):
                    for f in files:
                        try:
                            total += os.path.getsize(os.path.join(root, f))
                        except OSError:
                            pass
            else:
                try:
                    total += os.path.getsize(p)
                except OSError:
                    pass
        if len(_SOURCE_BYTES_MEMO) >= 64:
            _SOURCE_BYTES_MEMO.clear()
        _SOURCE_BYTES_MEMO[key] = total
    n = max(1, -(-total // target_bytes))
    return max(lo, min(hi, n))


def _start_with_state_partitions(start_fn, spark: SparkSession, state_partitions):
    """Run ``start_fn()`` (a writeStream ``.start()``) with
    ``spark.sql.shuffle.partitions`` set to ``state_partitions``, then
    restore the previous value.  Safe because a streaming query
    CAPTURES the conf at start (StreamExecution runs on a cloned
    session; verified live: start at 6, restore to 32 immediately →
    progress reports numShufflePartitions=6 for every batch).  The lock
    keeps concurrent launches from restoring each other's values out of
    order; batch plans take their width from another conf
    (``session.batch_shuffle_partitions``) and never see this one."""
    if state_partitions is None:
        return start_fn()
    with _STATE_CONF_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(int(state_partitions))
        )
        try:
            return start_fn()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def _events_schema(ts_as_long: bool) -> StructType:
    """Fixture generations differ: events.ts has been TIMESTAMP(NANOS)
    (unreadable by Spark except as long) and TIMESTAMP(MICROS).  The
    stream schema is chosen from the actual file's footer."""
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType() if ts_as_long else TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(
    spark: SparkSession, sf_dir: str, sentinel: bool = False
) -> DataFrame:
    """File-source readStream over the events parquet (the appended-
    directory tailing pattern).  One file per microbatch to exercise
    incremental processing in tests.

    FileStreamSource monitors a DIRECTORY (new files appear = new data,
    exactly the Scribe→HDFS append pattern); the fixture is a single
    file, so it is staged into a temp dir via symlink.

    ``sentinel=True`` additionally stages a one-row far-future event
    (event_id = -1, ts = 2030-01-01, type ``__sentinel__``) as a SECOND
    file, processed after the fixture (FileStreamSource orders by
    mtime): its arrival pushes the event-time watermark past every real
    event, which is what lets OUTER stream-stream joins and
    final-window aggregations flush their last buffered state before
    ``processAllAvailable`` returns — without it, rows still inside
    the watermark at end-of-input never emit.  Consumers filter the
    sentinel out of results (`event_id >= 0`)."""
    import os
    import tempfile

    src = events_source_path(sf_dir)
    probe = src
    if os.path.isdir(probe):
        cands = [f for f in os.listdir(probe) if f.endswith(".parquet")]
        probe = os.path.join(probe, cands[0]) if cands else probe
    ts_as_long = True
    try:
        import pyarrow.parquet as pq

        ts_as_long = "ns" in str(pq.read_schema(probe).field("ts").type)
    except Exception:
        pass  # unreadable footer: keep the legacy nanos-as-long path
    if os.path.isfile(src):
        d = tempfile.mkdtemp(prefix="events_stream_")
        # abspath, not src: a RELATIVE sf_dir would make the symlink
        # target resolve against the temp dir — a dangling link that
        # FileStreamSource silently lists as zero files (found by the
        # round-11 sf1 sweep, which passed `fixtures/sf1` relative).
        os.symlink(os.path.abspath(src), os.path.join(d, "events.parquet"))
        if sentinel:
            # TWO sentinel batches: the watermark advanced by file 1 is
            # only applied at the start of file 2's batch, and
            # processAllAvailable waits only for REAL data — so the
            # state flush driven by sentinel 1 happens inside sentinel
            # 2's batch, which processAllAvailable does wait for.
            # Distinct mtimes pin the FileStreamSource processing order.
            import time as _time

            now = _time.time()
            for i in (1, 2):
                p = os.path.join(d, f"zz_sentinel_{i}.parquet")
                _write_sentinel_file(p, ts_as_long, day=i)
                os.utime(p, (now + 2 * i, now + 2 * i))
        src = d
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    raw = (
        spark.readStream.schema(_events_schema(ts_as_long))
        .option("maxFilesPerTrigger", 1)
        # The fixture is staged via symlink and KEEPS its target's mtime,
        # while sentinels are stamped now(): FileStreamSource's default
        # maxFileAge=7d measures age against the NEWEST file seen, so once
        # the fixture is >7 days older than the sentinels it would be
        # silently skipped and sentinel-mode streams would emit nothing.
        .option("maxFileAge", "36500d")
        .parquet(src)
    )
    if ts_as_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


SENTINEL_TS_NS = 1_893_456_000_000_000_000  # 2030-01-01 00:00:00 UTC in ns


def _write_sentinel_file(path: str, ts_as_long: bool, day: int = 1) -> None:
    """One far-future event row, schema-matched to the staged fixture
    (ts as int64 nanos or timestamp[us]) so FileStreamSource reads it
    under the same declared schema.  ``day`` staggers the timestamp so
    successive sentinels keep advancing the watermark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = SENTINEL_TS_NS + (day - 1) * 86_400_000_000_000
    ts_val = (
        pa.array([ns], pa.int64())
        if ts_as_long
        else pa.array([ns // 1000], pa.timestamp("us"))
    )
    table = pa.table(
        {
            "event_id": pa.array([-1], pa.int64()),
            "ts": ts_val,
            "user_id": pa.array([-1], pa.int64()),
            "event_type": pa.array(["__sentinel__"], pa.string()),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    pq.write_table(table, path)


def tumbling_agg(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling event-time window aggregation with a watermark: the
    streaming form of the reference's key=floor(ts/3600) bucketing idiom,
    with late-data semantics the reference solved by re-running the
    partition."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL partials: sums identical under any microbatching
            # (the determinism convention — see registry docstring)
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows (gap-based), the streaming analog of the batch
    ``sessionize`` query in the registry."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark on the event id."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _unique_sink_name(name: str) -> str:
    """Suffix a memory-sink query name with a nonce: a fixed name makes
    two CONCURRENT instances of the same query collide ('query with
    that name is already active'), as when two callers on one session
    run the same streaming registry query.  The registered result table
    is tiny and per-run; the caller reads it through the returned
    DataFrame."""
    import uuid

    return f"{name}_{uuid.uuid4().hex[:8]}"


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming query to completion over the available input
    (processAllAvailable) into an in-memory sink; returns the result
    table.  Test/driver harness — production sinks use foreachBatch.

    ``output_mode`` defaults to ``complete`` (right for the aggregate
    queries this is used with); pass ``append`` for non-aggregate
    streams and ``update`` for stateful operators that emit per-batch
    state updates.  ``state_partitions`` (see
    :func:`adaptive_state_partitions`) sizes the query's state stores
    from the data instead of the core count.
    """
    name = _unique_sink_name(name)
    q = _start_with_state_partitions(
        lambda: stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start(),
        stream_df.sparkSession,
        state_partitions,
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.table(name)


def stateful_running_totals(
    events: DataFrame,
    idle_timeout_ms: int | None = None,
    ts_col: str = "ts",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState —
    the arbitrary-state API the reference had no analog for (its reducers
    were stateless across jobs; cross-job state lived in HDFS files).

    Per user, maintains (n_events, total_value) across microbatches and
    emits the updated running totals each batch.

    ``idle_timeout_ms`` arms an EventTimeTimeout per key: a key whose
    last event is more than that far behind the watermark is expired —
    its final totals are emitted with ``expired = true`` and the state
    entry is REMOVED, so state size tracks the active-key working set
    instead of the all-time key cardinality (the requirement at 100 TB,
    where all-time user ids don't fit in executor memory).  Event-time
    (not processing-time) expiry on purpose: it is reprocessing-safe
    (replaying yesterday's data expires the same keys), and the engine
    only reruns batches when the watermark advances, so bounded runs
    (availableNow / processAllAvailable) terminate — a
    ProcessingTimeTimeout makes every microbatch schedule another one
    and test harnesses spin forever.  Without it the operator is
    watermark-free and state grows with distinct keys (demo/test
    sizing only)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    with_timeout = idle_timeout_ms is not None
    out_schema = "user_id long, n_events long, total_value double" + (
        ", expired boolean" if with_timeout else ""
    )
    state_schema = "n long, total double" + (", max_ts long" if with_timeout else "")

    def row(uid, n, total, expired):
        cols = {
            "user_id": [uid],
            "n_events": [n],
            "total_value": [round(total, 6)],
        }
        if with_timeout:
            cols["expired"] = [expired]
        return pd.DataFrame(cols)

    def update(key, pdfs, state: GroupState):
        if with_timeout and state.hasTimedOut:
            n, total = state.get[0], state.get[1]
            state.remove()
            yield row(key[0], n, total, True)
            return
        prev = state.get if state.exists else None
        n, total = (prev[0], prev[1]) if prev else (0, 0.0)
        max_ts = prev[2] if (prev and with_timeout) else 0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if with_timeout and len(pdf):
                batch_max = pdf[ts_col].max()
                max_ts = max(max_ts, int(batch_max.timestamp() * 1000))
        if with_timeout:
            state.update((n, round(total, 6), max_ts))
            state.setTimeoutTimestamp(max_ts + idle_timeout_ms)
        else:
            state.update((n, round(total, 6)))
        yield row(key[0], n, total, False)

    if with_timeout:
        events = events.withWatermark(ts_col, watermark)
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        "EventTimeTimeout" if with_timeout else "NoTimeout",
    )


def foreach_batch_idempotent_sink(stream_df: DataFrame, out_path: str, partition_col: str):
    """Append-only parquet sink under ``out_path``, partitioned by
    ``partition_col``, exactly-once by batch id: Spark's file sink logs
    each batch's files in ``out_path/_spark_metadata`` and skips a batch
    id it has already logged, so a batch replayed after a restart adds
    nothing, and batch readers of ``out_path`` see only logged files.
    Later batches add rows to partitions earlier batches wrote (the
    reference's overwrite-the-partition reprocessing would drop them).

    Returns the writer; the caller sets the trigger.  The checkpoint
    defaults to ``out_path/_checkpoint`` (batch readers skip ``_`` names)
    and a caller's ``checkpointLocation`` option replaces it.  It must be
    durable: a fresh checkpoint restarts at batch 0, and the sink would
    skip every batch id its log already holds."""
    return (
        stream_df.writeStream.format("parquet")
        .partitionBy(partition_col)
        .option("path", out_path)
        .option("checkpointLocation", out_path.rstrip("/") + "/_checkpoint")
    )


def stateful_running_totals_tws(events: DataFrame) -> DataFrame:
    """The same per-user running totals as
    :func:`stateful_running_totals`, on Spark 4's NEXT-GEN arbitrary
    stateful API (``transformWithStateInPandas`` + ``StatefulProcessor``
    + typed ``ValueState``) — the successor to applyInPandasWithState
    with composable named state (value/list/map), per-key timers, and
    state TTL.

    Environment note: execution requires ``google.protobuf`` (the
    transformWithState driver worker speaks a protobuf state protocol);
    this container ships pyspark without it, so the operator is
    verified where protobuf exists and skipped otherwise
    (tests/test_streaming.py::test_stateful_totals_tws) — the
    registry's oracle-gated entry stays on applyInPandasWithState
    (`stateful_totals`), which runs everywhere.

    Totals accumulate as integer micro-units (floor(value·1e6)) so the
    running sums are exact across any microbatch split — the streaming
    analog of the DECIMAL-sum rule.  At 100 TB: state is per-key in the
    state store exactly as before; TTL (``ttlDurationMs``) is the
    declarative replacement for the hand-armed idle-expiry timer."""
    import math

    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, total long")

        def handleInputRows(self, key, rows, timer_values):
            n, total = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                total += int(sum(math.floor(v * 1_000_000) for v in pdf["value"]))
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_micros": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        "user_id long, n_events long, total_micros long",
        "Update",
        "None",
    )


def run_available_now_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming query with Trigger.AvailableNow — the bounded
    BACKFILL discipline: process everything already in the source
    (honoring per-batch rate limits like maxFilesPerTrigger, unlike the
    deprecated Trigger.Once which swallowed the backlog in one batch),
    then terminate on its own.  This is how a production pipeline
    catches up a lagging stream or replays history into a fresh
    checkpoint: same query, same sink, no always-on cluster.

    awaitTermination() (not processAllAvailable) — AvailableNow ends the
    query itself once the planned offsets are consumed."""
    name = _unique_sink_name(name)
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def read_documents_stream(spark, sf_dir: str, n_files: int = 4):
    """Stage the documents fixture as ``n_files`` doc_id-contiguous
    parquet files with strictly increasing mtimes and read them as a
    file stream, one file per micro-batch — a deterministic replay of
    "documents arrive in ingest order" (FileStreamSource picks files in
    mtime order; the staging pins both the split and the order, so
    every run sees identical batches).

    The doc_id-contiguous + ascending-batch property is what makes
    streaming keep-first dedup equal the BATCH keep-min-doc_id oracle:
    the first batch containing a fingerprint also contains its minimum
    doc_id."""
    import os
    import tempfile
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    t = t.take(pc.sort_indices(t, sort_keys=[("doc_id", "ascending")]))
    d = tempfile.mkdtemp(prefix="docs_stream_")
    now = time.time()
    n = t.num_rows
    per = (n + n_files - 1) // n_files
    for i in range(n_files):
        chunk = t.slice(i * per, per)
        if chunk.num_rows == 0:
            break
        p = os.path.join(d, f"docs_{i:03d}.parquet")
        pq.write_table(chunk, p)
        os.utime(p, (now + 2 * i, now + 2 * i))
    return (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .option("maxFileAge", "36500d")
        .parquet(d)
    )


def incremental_dedup_ingest(docs_stream, index_dir: str, checkpoint_dir: str):
    """Streaming keep-first ingest dedup via ``foreachBatch``: each
    micro-batch fingerprints its documents (md5 of the 40-char head —
    the crawler's cheap first-pass content key; swap in md5(text) for
    byte-exact), keeps each fingerprint's minimum doc_id within the
    batch, anti-joins against the PERSISTED corpus index, and appends
    only genuinely new fingerprints — the pattern a 100 TB ingest
    pipeline runs every few minutes against a crawl spool.

    Exactly-once posture: the index append is per-batch and the stream
    is checkpointed; a replayed batch re-appends rows that the
    downstream min-doc_id aggregation collapses (idempotent by
    construction — the read side groups by fingerprint).  Scale plan:
    per batch, ONE 32-byte-key partial-agg'd shuffle + one anti-join
    against the index (broadcast while small, shuffle join at corpus
    scale — the static planner decides from size estimates, because AQE
    is off inside ``foreachBatch``, and shuffles run at the stream's
    ``spark.sql.shuffle.partitions``); the index is append-only parquet
    partitioned by nothing (at 100 TB: bucket it by fingerprint so the
    anti-join is co-partitioned and shuffle-free)."""
    from pyspark.sql import functions as F

    def ingest(df, epoch_id: int) -> None:
        import os

        spark = df.sparkSession
        h = df.select(
            F.md5(F.substring("text", 1, 40)).alias("h"), "doc_id", "source"
        )
        batch_keep = (
            h.groupBy("h")
            .agg(F.min("doc_id").alias("doc_id"))
            .join(h, ["h", "doc_id"])
        )
        # existence probe instead of a caught AnalysisException: the
        # first batch has no index yet, and a stack trace in the stream
        # log — even a handled one — reads as a failure.  (For a
        # non-local index_dir, swap in a Hadoop-FS exists() call.)
        if os.path.isdir(index_dir):
            idx = spark.read.parquet(index_dir).select("h")
            new = batch_keep.join(idx, "h", "left_anti")
        else:
            new = batch_keep
        new.select("h", "doc_id", "source").write.mode("append").parquet(
            index_dir
        )

    return (
        docs_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def stage_cdc_order_batches(spark, sf_dir: str, n_batches: int = 4):
    """Stage a deterministic CDC replay of the orders fixture:
    batch k carries the INSERTS of slice ``o_orderkey % n == k`` plus,
    for k >= 1, DELETE rows (sign -1) retracting the previous slice's
    ``o_orderkey % 5 == 0`` orders — the change-stream shape a CDC
    connector (Debezium-class) emits.  Files get strictly increasing
    mtimes so FileStreamSource replays them in batch order."""
    import os
    import tempfile
    import time

    import duckdb

    from hadoop_20_spark.catalog import table_path

    d = tempfile.mkdtemp(prefix="cdc_orders_")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{table_path(sf_dir, 'orders')}')"
    )
    now = time.time()
    for k in range(n_batches):
        dels = (
            f"""UNION ALL
            SELECT o_orderpriority,
                   CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 1000000 AS BIGINT)
                     AS p_micros,
                   -1 AS sign
            FROM orders
            WHERE o_orderkey % {n_batches} = {k - 1} AND o_orderkey % 5 = 0"""
            if k >= 1
            else ""
        )
        con.execute(
            f"""COPY (
              SELECT o_orderpriority,
                     CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 1000000 AS BIGINT)
                       AS p_micros,
                     1 AS sign
              FROM orders WHERE o_orderkey % {n_batches} = {k}
              {dels}
            ) TO '{d}/batch_{k:03d}.parquet' (FORMAT PARQUET)"""
        )
        os.utime(f"{d}/batch_{k:03d}.parquet", (now + 2 * k, now + 2 * k))
    con.close()
    return (
        spark.readStream.schema("o_orderpriority string, p_micros long, sign int")
        .option("maxFilesPerTrigger", 1)
        .option("maxFileAge", "36500d")
        .parquet(d)
    )


def cdc_view_maintenance(cdc_stream, state_dir: str, checkpoint_dir: str):
    """Maintain a per-priority (count, sum) view under a RETRACTING
    change stream via ``foreachBatch``: each micro-batch's signed
    partial state merges into a persisted parquet state table.  The
    retraction-safe algebra is counts/sums only (always mergeable with
    signed deltas); min/max under deletes needs the per-group recompute
    fallback, which is the BATCH query ``retraction_agg_maintenance``'s
    job — a streaming view of churning extremes should maintain a
    per-group top-k reservoir instead (documented trade, SCALE.md).

    Exactly-once across replays: foreachBatch is at-least-once, so the
    state table carries the last applied ``epoch``; a replayed batch
    (epoch <= stored) is SKIPPED — the idempotent-sink discipline a
    transactional sink (Delta MERGE, JDBC upsert) gives you for free,
    demonstrated here on plain parquet with an epoch fence.

    Scale plan: per batch ONE priority-keyed partial agg over the batch
    only (the stored view is |priorities| rows and never rescans
    history); the state overwrite is |priorities| rows.  At 100 TB this
    is the cheapest possible maintenance: batch-sized work per batch,
    constant-size state."""
    from pyspark.sql import functions as F

    def ingest(df, epoch_id: int) -> None:
        import os

        spark = df.sparkSession
        if os.path.isdir(state_dir):
            state = spark.read.parquet(state_dir)
            if state.agg(F.max("epoch")).first()[0] >= epoch_id:
                return  # replayed batch: already applied (epoch fence)
            prev = state.select("o_orderpriority", "n", "s_micros")
        else:
            prev = None
        batch = df.groupBy("o_orderpriority").agg(
            F.sum("sign").cast("long").alias("n"),
            F.sum(F.col("sign") * F.col("p_micros")).cast("long").alias(
                "s_micros"
            ),
        )
        merged = (
            prev.unionByName(batch) if prev is not None else batch
        ).groupBy("o_orderpriority").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s_micros").cast("long").alias("s_micros"),
        )
        out = merged.select("*", F.lit(epoch_id).alias("epoch"))
        # collect-then-rewrite: the state is |priorities| rows; writing
        # via the driver avoids read/overwrite races on the same dir
        rows = out.collect()
        spark.createDataFrame(rows, out.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(state_dir)

    return (
        cdc_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def _reservoir_merge(
    bot: list[int],
    hi: int | None,
    ins: list[int],
    dels: list[int],
    k: int,
) -> tuple[list[int], int | None, bool]:
    """Merge one batch into a bottom-k reservoir under retraction,
    with an explicit HORIZON ``hi``: the invariant (when unflagged) is
    that ``bot`` is the EXACT sorted multiset of surviving values
    strictly below ``hi`` (None = +inf), so ``bot[:m]`` is the true
    bottom-m and ``bot[0]`` the true min.  Truncation never silently
    discards: dropping a value LOWERS the horizon to it, shrinking the
    guaranteed region instead of corrupting it (the unsound variant —
    truncate-and-forget — mis-reports the min once deletions eat the
    tracked prefix; found by the randomized model test).

    ``ins``/``dels`` are the batch's k+1 smallest inserted/deleted
    values: a k+1-th entry proves the stream-side slice was truncated,
    which lowers the horizon (inserts) or flags (deletes below the
    horizon may be uncollected).  Deletions below the horizon must
    match a tracked occurrence (else the state is inconsistent ->
    flag); deletions at/above it cannot affect the guaranteed region.
    Depletion of the tracked region -> flag (the true min now lies in
    the untracked region).  Returns (reservoir, horizon, needs_recompute)."""
    import bisect

    INF = float("inf")
    if sorted(ins) != list(ins) or sorted(dels) != list(dels):
        raise ValueError("ins/dels must be ascending (k+1-smallest slices)")
    h = INF if hi is None else hi
    flagged = False
    if len(ins) > k:  # stream-side slice hit its cap: values above
        h = min(h, ins[k])  # ins[k] may be uncollected -> lower horizon
        ins = ins[:k]
    vals = sorted([v for v in bot if v < h] + [v for v in ins if v < h])
    if len(dels) > k:
        if dels[k] < h:
            flagged = True  # uncollected deletes below the horizon
        dels = dels[:k]
    for d in dels:
        if d >= h:
            continue  # untracked region: cannot affect the guarantee
        i = bisect.bisect_left(vals, d)
        if i < len(vals) and vals[i] == d:
            vals.pop(i)
        else:
            flagged = True  # tracked-region delete with no tracked copy
    if len(vals) > k:
        h = vals[k]
        # drop EVERYTHING at the new horizon: a duplicate of vals[k]
        # inside the kept prefix would be a tracked copy of a value
        # that also exists untracked — the boundary-duplicate hole
        vals = [v for v in vals[:k] if v < h]
    if not vals:
        flagged = True
    return vals, (None if h == INF else int(h)), flagged


def cdc_minmax_maintenance(
    cdc_stream, state_dir: str, checkpoint_dir: str, *, k: int = 32
):
    """Min/max view maintenance under a RETRACTING stream with BOUNDED
    state — the upgrade over ``cdc_view_maintenance``'s documented
    "min/max belongs to the batch recompute path": each group keeps a
    k-value horizon-guarded reservoir of its smallest (and largest)
    surviving values (see :func:`_reservoir_merge` for the exactness
    invariant), so a delete of the current extremum promotes the next
    reservoir value instead of forcing a history rescan; only reservoir
    depletion or an uncollected tracked-region delete flags the group
    for recompute — and the flag is carried in the state, so the
    consumer knows exactly which groups to rescan.

    Per batch the stream side contributes only the k+1 smallest/largest
    inserted and deleted values per group (sorted-slice aggregates —
    bounded regardless of batch size; the +1 entry is the truncation
    signal that lowers the horizon); the merge itself runs driver-side
    over |groups| rows.  Same epoch fence as cdc_view_maintenance."""
    from pyspark.sql import functions as F

    ins_val = F.when(F.col("sign") == 1, F.col("p_micros"))
    del_val = F.when(F.col("sign") == -1, F.col("p_micros"))

    def ingest(df, epoch_id: int) -> None:
        import os

        spark = df.sparkSession
        prev: dict = {}
        if os.path.isdir(state_dir):
            state = spark.read.parquet(state_dir)
            if state.agg(F.max("epoch")).first()[0] >= epoch_id:
                return  # replay: epoch fence
            prev = {r["o_orderpriority"]: r.asDict() for r in state.collect()}
        rows = (
            df.groupBy("o_orderpriority")
            .agg(
                F.slice(F.sort_array(F.collect_list(ins_val)), 1, k + 1).alias(
                    "ins_bot"
                ),
                F.slice(
                    F.sort_array(F.collect_list(ins_val), asc=False), 1, k + 1
                ).alias("ins_top"),
                F.slice(
                    F.sort_array(F.collect_list(del_val)), 1, k + 1
                ).alias("del_bot"),
                F.slice(
                    F.sort_array(F.collect_list(del_val), asc=False), 1, k + 1
                ).alias("del_top"),
            )
            .collect()
        )
        out = dict(prev)
        for r in rows:
            g = r["o_orderpriority"]
            st = prev.get(
                g,
                {"bot": [], "bot_hi": None, "top": [], "top_lo": None,
                 "flagged": False},
            )
            bot, bot_hi, f1 = _reservoir_merge(
                list(st["bot"]), st["bot_hi"],
                list(r["ins_bot"]), list(r["del_bot"]), k,
            )
            neg_top, neg_lo, f2 = _reservoir_merge(
                [-v for v in st["top"]],
                None if st["top_lo"] is None else -st["top_lo"],
                [-v for v in r["ins_top"]],
                [-v for v in r["del_top"]],
                k,
            )
            out[g] = {
                "o_orderpriority": g,
                "bot": bot,
                "bot_hi": bot_hi,
                "top": [-v for v in neg_top],
                "top_lo": None if neg_lo is None else -neg_lo,
                "flagged": bool(st["flagged"] or f1 or f2),
            }
        new_rows = [
            (
                g["o_orderpriority"], g["bot"], g["bot_hi"],
                g["top"], g["top_lo"], g["flagged"], epoch_id,
            )
            for g in out.values()
        ]
        spark.createDataFrame(
            new_rows,
            "o_orderpriority string, bot array<long>, bot_hi long, "
            "top array<long>, top_lo long, flagged boolean, epoch long",
        ).coalesce(1).write.mode("overwrite").parquet(state_dir)

    return (
        cdc_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def incremental_cms_ingest(
    docs_stream, state_dir: str, checkpoint_dir: str, d: int = 4, w: int = 64
):
    """Streaming count-min sketch maintenance via ``foreachBatch``: each
    micro-batch builds its own sub-sketch (d rows x w buckets, the
    md5_long hash family of queries/corpus_stats) and APPENDS the cells
    tagged with the epoch id; the corpus sketch is the (r, bucket) SUM
    over all epochs at read time — CMS is linear, so merge-at-read is
    exact and the state file never needs a read-modify-write cycle
    (append-only parquet, restart-resumable, the
    incremental_dedup_ingest posture).

    At-least-once safety: a replayed batch re-appends the SAME
    (epoch, r, bucket, sc) cells; the read side collapses duplicates
    with MAX per (epoch, r, bucket) before the cross-epoch SUM, so the
    readout is idempotent under any replay pattern (the same
    collapse-before-count contract the dedup index documents).

    Scale plan: each batch shuffles <= d*w cells after map-side combine
    — O(partitions * 256) per batch regardless of batch size; state
    grows by <= 256 rows per epoch (compact at read or periodically
    re-base by writing the merged sketch as a new epoch and dropping
    older files)."""
    from pyspark.sql import functions as F

    from hadoop_20_spark.functions import md5_long, tokens

    def ingest(df, epoch_id: int) -> None:
        tok = df.select(F.explode(tokens("text")).alias("w"))
        rows = F.array(*[F.lit(r) for r in range(d)])
        cells = (
            tok.select("w", F.explode(rows).alias("r"))
            .select(
                "r",
                (
                    md5_long(F.concat(F.col("w"), F.lit("#"), F.col("r").cast("string")))
                    % w
                ).alias("bucket"),
            )
            .groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).alias("sc"))
            .withColumn("epoch", F.lit(int(epoch_id)))
        )
        cells.write.mode("append").parquet(state_dir)

    return (
        docs_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_cms_state(spark, state_dir: str):
    """Merged corpus sketch from the append-only epoch cells:
    MAX-collapse per (epoch, r, bucket) — idempotent under replay —
    then SUM across epochs (linearity)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(state_dir)
        .groupBy("epoch", "r", "bucket")
        .agg(F.max("sc").alias("sc"))
        .groupBy("r", "bucket")
        .agg(F.sum("sc").alias("sc"))
    )
