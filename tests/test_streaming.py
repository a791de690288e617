import glob

from pyspark.sql import functions as F

from hadoop_20_spark import streaming
from hadoop_20_spark.catalog import load_table
from hadoop_20_spark.session import STATE_PARTITIONS_MIN
from tests.conftest import SF_DIR


def test_tumbling_agg_matches_batch(spark):
    stream = streaming.read_events_stream(spark, SF_DIR)
    got = streaming.run_to_memory(
        streaming.tumbling_agg(stream, "1 hour"), "t_tumbling"
    )
    batch = (
        load_table(spark, "events", SF_DIR)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    g = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert g == b


def test_session_agg_runs(spark):
    stream = streaming.read_events_stream(spark, SF_DIR)
    got = streaming.run_to_memory(streaming.session_agg(stream, "30 minutes"), "t_sess")
    assert got.count() > 0
    # session invariant: end >= start
    assert got.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_stream_dedup(spark):
    stream = streaming.read_events_stream(spark, SF_DIR)
    deduped = streaming.stream_dedup(stream)
    got = streaming.run_to_memory(deduped, "t_dedup", output_mode="append")
    n_events = load_table(spark, "events", SF_DIR).count()
    assert got.count() == n_events  # event_id already unique
    assert got.select("event_id").distinct().count() == n_events


def test_foreach_batch_idempotent_sink(spark, tmp_path):
    out = str(tmp_path / "sink")
    stream = streaming.read_events_stream(spark, SF_DIR)
    writer = streaming.foreach_batch_idempotent_sink(stream, out, "event_type")
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    assert glob.glob(out + "/event_type=*")
    back = spark.read.parquet(out)
    assert back.count() == load_table(spark, "events", SF_DIR).count()


def test_checkpoint_restart_exactly_once(spark, tables, tmp_path):
    """Checkpointed restart semantics: a file-source stream processed
    with availableNow + checkpoint must, on restart, pick up ONLY new
    files — the already-committed batch is never reprocessed (the
    exactly-once contract the reference approximated with
    overwrite-partition reprocessing)."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = tables["events"].select("event_id", "user_id", "value").limit(200)
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(in_dir)

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema).parquet(in_dir)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == first.count()

    # new files arrive; restart from the same checkpoint
    second.coalesce(1).write.mode("append").parquet(in_dir)
    run_once()
    out = spark.read.parquet(out_dir)
    assert out.count() == ev.count()  # no duplicates, nothing missed
    assert out.select("event_id").distinct().count() == ev.count()

    # idle restart: nothing new -> nothing written
    run_once()
    assert spark.read.parquet(out_dir).count() == ev.count()


def test_stateful_totals_tws(spark):
    """Next-gen transformWithStateInPandas running totals must converge
    to the batch aggregation — skipped where google.protobuf (required
    by the transformWithState state protocol) is absent."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not available in this container")
    stream = streaming.read_events_stream(spark, SF_DIR)
    updates = streaming.stateful_running_totals_tws(stream)
    got = streaming.run_to_memory(updates, "t_tws", output_mode="update")
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_micros").alias("total_micros")
    )
    from hadoop_20_spark.catalog import load_table

    exp = (
        load_table(spark, "events", SF_DIR)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1_000_000).cast("long")).alias("total_micros"),
        )
    )
    assert sorted(final.collect()) == sorted(exp.collect())


def test_eventgen_custom_stream_source(spark, tmp_path):
    """Custom Python streaming source: partitions(start,end) split the
    available range into rowsPerBatch chunks, replay is deterministic,
    and a restart from the checkpoint emits nothing twice."""
    import hashlib

    from hadoop_20_spark.sources.pyds import EventGenStreamSource, _gen_event

    spark.dataSource.register(EventGenStreamSource)
    stream = (
        spark.readStream.format("eventgen")
        .option("rowsPerBatch", 40)
        .option("maxRows", 200)
        .option("partitions", 3)
        .load()
    )
    out_dir = str(tmp_path / "out")

    def drain():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())

    got = drain()
    exp = sorted(_gen_event(i) for i in range(200))
    assert got == exp
    # restart from the same checkpoint: the committed offset equals the
    # log length, so the second run must emit NOTHING (no duplicate
    # replay — the restart-safety contract a per-poll-growing
    # latestOffset would break)
    assert drain() == exp


def test_stream_outer_join_sentinel_flush_drains_state(spark):
    """After the sentinel-driven end-of-stream flush, the join state
    stores must be (near-)empty — only the far-future sentinel rows
    themselves may remain buffered.  A watermark regression that stops
    bounding the outer-join state shows up here as the final batch's
    state rows tracking the peak instead of collapsing.  State is read
    off Spark's own progress events, one per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    from hadoop_20_spark.queries import REGISTRY

    rows_by_batch = []

    class StateRows(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.name.startswith("q_stream_outer_join_"):
                rows_by_batch.append(
                    sum(op.numRowsTotal for op in p.stateOperators)
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = StateRows()
    spark.streams.addListener(listener)
    try:
        out = REGISTRY["streaming_stream_outer_join"].fn(
            spark, "/root/testdata/sf0.001"
        )
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert out.count() > 0
    assert len(rows_by_batch) >= 3  # fixture + 2 sentinel batches
    peak, final = max(rows_by_batch), rows_by_batch[-1]
    assert peak > 0
    # flush drained the real rows; at most the sentinels linger
    assert final <= 4
    assert final < peak


def test_streaming_incremental_dedup_batch_split_invariant(spark):
    """The streamed keeper set must be identical whether the corpus
    arrives as 1 batch or 4 — the doc_id-contiguous staging guarantee
    (first batch holding a fingerprint also holds its min doc_id)."""
    import tempfile

    from hadoop_20_spark import streaming as stream_ops

    def run(n_files: int):
        idx = tempfile.mkdtemp(prefix=f"ded_idx_{n_files}_") + "/idx"
        ckpt = tempfile.mkdtemp(prefix=f"ded_ck_{n_files}_")
        s = stream_ops.read_documents_stream(
            spark, "/root/testdata/sf0.001", n_files=n_files
        )
        q = stream_ops.incremental_dedup_ingest(s, idx, ckpt).start()
        q.awaitTermination()
        return {
            tuple(r)
            for r in spark.read.parquet(idx)
            .select("h", "doc_id", "source")
            .collect()
        }

    assert run(1) == run(4)


def test_streaming_incremental_dedup_drops_cross_batch_duplicate(spark):
    """A fingerprint seen in batch 1 must be dropped when it reappears
    in a later batch — the persisted-index anti-join at work."""
    import os
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_20_spark import streaming as stream_ops

    d = tempfile.mkdtemp(prefix="planted_stream_")
    now = time.time()
    # batch 0: docs 1,2; batch 1: doc 3 duplicates doc 1's 40-char head
    dup_head = "x" * 40
    batches = [
        [(1, dup_head + " original tail", "en", "srcA", 60),
         (2, "something else entirely unique here", "en", "srcA", 35)],
        [(3, dup_head + " different tail", "en", "srcB", 62)],
    ]
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )
    for i, rows in enumerate(batches):
        p = os.path.join(d, f"docs_{i:03d}.parquet")
        pq.write_table(
            pa.table(
                {f.name: [r[j] for r in rows] for j, f in enumerate(schema)},
                schema=schema,
            ),
            p,
        )
        os.utime(p, (now + 2 * i, now + 2 * i))
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .option("maxFileAge", "36500d")
        .parquet(d)
    )
    idx = tempfile.mkdtemp(prefix="planted_idx_") + "/idx"
    ckpt = tempfile.mkdtemp(prefix="planted_ck_")
    q = stream_ops.incremental_dedup_ingest(stream, idx, ckpt).start()
    q.awaitTermination()
    kept = {r["doc_id"] for r in spark.read.parquet(idx).collect()}
    assert kept == {1, 2}  # doc 3's fingerprint was already indexed


def test_cdc_view_batch_split_invariance(spark):
    """The maintained CDC view must not depend on micro-batching: 2
    batches and 4 batches of the same change stream produce identical
    state (different delete schedules per staging, so compare each
    against its own oracle-style recompute instead of each other)."""
    import tempfile

    from pyspark.sql import functions as F

    from hadoop_20_spark import streaming as stream_ops
    from hadoop_20_spark.catalog import load_table

    sf = "/root/testdata/sf0.001"
    for n_batches in (2, 4):
        state = tempfile.mkdtemp(prefix=f"cdcs{n_batches}_") + "/state"
        ckpt = tempfile.mkdtemp(prefix=f"cdck{n_batches}_")
        stream = stream_ops.stage_cdc_order_batches(spark, sf, n_batches)
        q = stream_ops.cdc_view_maintenance(stream, state, ckpt).start()
        q.awaitTermination()
        got = {
            r["o_orderpriority"]: (r["n"], r["s_micros"])
            for r in spark.read.parquet(state).collect()
        }
        o = load_table(spark, "orders", sf)
        deleted = (F.col("o_orderkey") % 5 == 0) & (
            F.col("o_orderkey") % n_batches < n_batches - 1
        )
        exp = {
            r["o_orderpriority"]: (r["n"], r["s"])
            for r in o.where(~deleted)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(
                    (F.col("o_totalprice").cast("decimal(28,6)") * 1000000)
                    .cast("long")
                )
                .cast("long")
                .alias("s"),
            )
            .collect()
        }
        assert got == exp, (n_batches, got, exp)


def test_cdc_view_replay_is_skipped(spark):
    """The epoch fence: re-applying an already-applied batch must leave
    the state bit-identical (foreachBatch is at-least-once; the sink is
    what makes it exactly-once)."""
    import tempfile

    from hadoop_20_spark import streaming as stream_ops

    sf = "/root/testdata/sf0.001"
    state = tempfile.mkdtemp(prefix="cdc_replay_") + "/state"
    ckpt = tempfile.mkdtemp(prefix="cdc_replay_ck_")
    stream = stream_ops.stage_cdc_order_batches(spark, sf, n_batches=3)
    q = stream_ops.cdc_view_maintenance(stream, state, ckpt).start()
    q.awaitTermination()
    before = sorted(
        (r["o_orderpriority"], r["n"], r["s_micros"], r["epoch"])
        for r in spark.read.parquet(state).collect()
    )
    # replay the LAST batch manually (same epoch id): must be a no-op
    import glob

    cdc_dir = None
    for p in sorted(glob.glob("/tmp/cdc_orders_*"), reverse=True):
        if glob.glob(p + "/batch_002.parquet"):
            cdc_dir = p
            break
    assert cdc_dir
    # simulate at-least-once redelivery: run the public API again on
    # the SAME state dir with a fresh checkpoint — its epochs restart
    # at 0 <= stored max, so every batch must be fenced out
    import hadoop_20_spark.streaming as s

    ckpt2 = tempfile.mkdtemp(prefix="cdc_replay_ck2_")
    stream2 = (
        spark.readStream.schema(
            "o_orderpriority string, p_micros long, sign int"
        )
        .option("maxFileAge", "36500d")
        .parquet(cdc_dir)
    )
    q2 = s.cdc_view_maintenance(stream2, state, ckpt2).start()
    q2.awaitTermination()
    after = sorted(
        (r["o_orderpriority"], r["n"], r["s_micros"], r["epoch"])
        for r in spark.read.parquet(state).collect()
    )
    assert after == before


def test_reservoir_merge_algebra():
    """Pure-Python reservoir invariants under the HORIZON rule: when
    unflagged, the reservoir is the EXACT multiset of survivors below
    the horizon — so min (and bottom-m) are exact.  Randomized replay
    against a full-multiset model; this model previously caught the
    unsound truncate-and-forget variant (discarded values promoted to
    min after deletions, unflagged)."""
    import random

    from hadoop_20_spark.streaming import _reservoir_merge

    # promotion: delete the current min twice, no recompute needed
    bot, hi, f = _reservoir_merge([10, 20, 30], None, [], [10, 20], k=3)
    assert (bot, hi, f) == ([30], None, False)
    # depletion: all tracked values retracted -> flagged
    bot, hi, f = _reservoir_merge([10, 20], None, [], [10, 20], k=3)
    assert f
    # tracked-region delete with no tracked copy -> flagged
    bot, hi, f = _reservoir_merge([10, 20, 30], None, [], [15], k=3)
    assert f
    # delete beyond the horizon is irrelevant
    bot, hi, f = _reservoir_merge([10, 20, 30], 40, [], [99], k=3)
    assert (bot, hi, f) == ([10, 20, 30], 40, False)
    # truncation LOWERS the horizon instead of forgetting
    bot, hi, f = _reservoir_merge([], None, [1, 2, 3, 4], [], k=3)
    assert (bot, hi, f) == ([1, 2, 3], 4, False)

    # randomized replay vs a full multiset model
    rng = random.Random(8)
    n_flagged = 0
    for _ in range(200):
        k = rng.choice([2, 3, 4, 8])
        live: list[int] = []
        bot, hi, flagged = [], None, False
        for _batch in range(8):
            ins = [rng.randrange(60) for _ in range(rng.randrange(8))]
            dels = rng.sample(live, min(len(live), rng.randrange(5)))
            for d in dels:
                live.remove(d)
            live += ins
            ins_k = sorted(ins)[: k + 1]
            del_k = sorted(dels)[: k + 1]
            bot, hi, f = _reservoir_merge(bot, hi, ins_k, del_k, k)
            flagged = flagged or f
            if not flagged:
                h = float("inf") if hi is None else hi
                assert bot == sorted(v for v in live if v < h), (bot, hi, live)
                if live:
                    assert bot and bot[0] == min(live)
            else:
                n_flagged += 1
                break
    # both paths must actually be exercised by the replay
    assert 0 < n_flagged < 200


def test_cdc_minmax_no_flags_on_fixture(spark):
    """The whole point of the reservoir: on the real CDC replay no
    group ever needs the recompute path (k=32 absorbs every extremum
    retraction by promotion)."""
    import tempfile

    from hadoop_20_spark import streaming as stream_ops

    state = tempfile.mkdtemp(prefix="cdcmm_t_") + "/state"
    ckpt = tempfile.mkdtemp(prefix="cdcmm_tc_")
    s = stream_ops.stage_cdc_order_batches(spark, "/root/testdata/sf0.001", 4)
    q = stream_ops.cdc_minmax_maintenance(s, state, ckpt).start()
    q.awaitTermination()
    rows = spark.read.parquet(state).collect()
    assert rows and all(not r["flagged"] for r in rows)
    assert all(len(r["bot"]) >= 1 and r["bot"][0] <= r["top"][0] for r in rows)


def test_streaming_cms_batch_split_and_replay_invariance(spark):
    """The merged streaming sketch must be identical whether the corpus
    arrives as 1 batch or 4 (CMS linearity), and re-appending an
    epoch's cells (an at-least-once replay) must not change the
    readout (MAX-collapse per epoch before the cross-epoch SUM)."""
    import tempfile

    from hadoop_20_spark import streaming as stream_ops

    def run(n_files: int):
        state = tempfile.mkdtemp(prefix=f"cms_st_{n_files}_") + "/cells"
        ckpt = tempfile.mkdtemp(prefix=f"cms_ck_{n_files}_")
        s = stream_ops.read_documents_stream(
            spark, "/root/testdata/sf0.001", n_files=n_files
        )
        q = stream_ops.incremental_cms_ingest(s, state, ckpt).start()
        q.awaitTermination()
        return state

    def sketch(state):
        return {
            (r["r"], r["bucket"]): r["sc"]
            for r in stream_ops.read_cms_state(spark, state).collect()
        }

    s1, s4 = run(1), run(4)
    assert sketch(s1) == sketch(s4)
    # simulate a replayed epoch: re-append epoch 2's cells verbatim
    cells = spark.read.parquet(s4)
    cells.filter("epoch = 2").write.mode("append").parquet(s4)
    assert sketch(s4) == sketch(s1), "replay must be idempotent"


def test_adaptive_state_partitions_sizes_from_bytes(spark, tmp_path):
    """The r13 state-store sizing rule: partition count derives from
    input BYTES (clamped), never from the core count — so the same
    stream gets the same state layout on local[8] and local[32]."""
    import os

    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)
    # tiny input clamps to the floor
    assert streaming.adaptive_state_partitions(spark, str(small)) == (
        streaming.STATE_PARTITIONS_MIN
    )
    # ~10 targets of bytes -> 10 partitions (above the floor)
    big = tmp_path / "big.bin"
    big.write_bytes(b"")
    os.truncate(big, 10 * streaming.STATE_PARTITION_TARGET_BYTES)
    assert streaming.adaptive_state_partitions(spark, str(big)) == 10
    # ceiling clamp
    assert (
        streaming.adaptive_state_partitions(
            spark, str(big), target_bytes=1, hi=64
        )
        == 64
    )
    # missing paths contribute nothing (floor), never raise
    assert streaming.adaptive_state_partitions(
        spark, str(tmp_path / "nope")
    ) == streaming.STATE_PARTITIONS_MIN


def test_state_partitions_capture_and_conf_restore(spark):
    """run_to_memory(state_partitions=N) must (a) run the
    stream's stateful operators with exactly N state partitions — the
    cloned stream session captures the lowered shuffle-partitions conf
    at start — and (b) restore the session conf for subsequent batch
    queries.  Pins the mechanism the r13 b13 optimization rests on."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    stream = streaming.read_events_stream(spark, SF_DIR)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    got = streaming.run_to_memory(
        deduped, "t_sp_capture", output_mode="append", state_partitions=5
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # numShufflePartitions comes from the raw progress, which the run
    # helper doesn't retain per-operator — assert through a raw query:
    name = streaming._unique_sink_name("t_sp_raw")
    q = streaming._start_with_state_partitions(
        lambda: deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start(),
        spark,
        5,
    )
    q.processAllAvailable()
    seen = {
        op.get("numShufflePartitions")
        for p in q.recentProgress
        for op in (p.get("stateOperators") or [])
    }
    q.stop()
    assert seen == {5}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # and the helper-run results are unaffected by the partitioning
    n_events = load_table(spark, "events", SF_DIR).count()
    assert got.count() == n_events


def _drop_hour_events(sf_dir, ids, k: int) -> None:
    """Write file ``k`` of an events source directory
    (``<sf_dir>/events.parquet/``): distinct events ``ids``, all in the
    hour 2024-01-01 10:00, stamped with mtime order ``k`` so the file
    source reads the files in that order."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = list(ids)
    src = os.path.join(sf_dir, "events.parquet")
    os.makedirs(src, exist_ok=True)
    path = os.path.join(src, f"part-{k:05d}.parquet")
    hour = datetime.datetime(2024, 1, 1, 10)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(
                    [hour + datetime.timedelta(minutes=i) for i in ids],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(ids, pa.int64()),
                "event_type": pa.array(["click"] * len(ids), pa.string()),
                "value": pa.array([1.0] * len(ids), pa.float64()),
                "props": pa.array(["{}"] * len(ids), pa.string()),
            }
        ),
        path,
    )
    mtime = 1_700_000_000 + 10 * k
    os.utime(path, (mtime, mtime))


def _run_hour_sink(spark, sf_dir, out, ckpt, start=None):
    """One available-now catch-up of stream_dedup into the sink,
    partitioned by hour; returns the query's progress list."""
    ev = streaming.read_events_stream(spark, sf_dir)
    df = streaming.stream_dedup(ev).withColumn(
        "part", F.date_format("ts", "yyyyMMddHH")
    )
    writer = (
        streaming.foreach_batch_idempotent_sink(df, out, "part")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    q = start(writer.start) if start else writer.start()
    q.awaitTermination()
    return q.recentProgress


def test_idempotent_sink_keeps_earlier_rows_of_a_partition(spark, tmp_path):
    """Two catch-up runs add 2 and then 3 distinct events to the same
    hour partition: the sink must hold all 5, not only the last run's."""
    sf_dir = str(tmp_path / "feed")
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _drop_hour_events(sf_dir, range(0, 2), 0)
    _run_hour_sink(spark, sf_dir, out, ckpt)
    _drop_hour_events(sf_dir, range(2, 5), 1)
    _run_hour_sink(spark, sf_dir, out, ckpt)
    got = spark.read.parquet(out)
    assert sorted(r.event_id for r in got.collect()) == [0, 1, 2, 3, 4]
    assert got.select("part").distinct().count() == 1


def test_idempotent_sink_replay_adds_no_rows(spark, tmp_path):
    """A crash after the sink wrote a batch but before the query logged
    its commit replays that batch on restart; the sink must skip it."""
    import os

    sf_dir = str(tmp_path / "feed")
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _drop_hour_events(sf_dir, range(0, 2), 0)
    _drop_hour_events(sf_dir, range(2, 5), 1)
    _run_hour_sink(spark, sf_dir, out, ckpt)
    before = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert before == [0, 1, 2, 3, 4]
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for n in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, n)):
            os.remove(os.path.join(commits, n))
    progress = _run_hour_sink(spark, sf_dir, out, ckpt)
    assert [p["batchId"] for p in progress][:1] == [last]  # replayed
    after = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert after == before


def _state_widths(progress):
    return {
        op.get("numShufflePartitions")
        for p in progress
        for op in (p.get("stateOperators") or [])
    }


def test_plain_start_stateful_stream_gets_state_partitions_min(spark):
    """A stateful stream started with a plain ``.start()`` on a
    ``get_spark`` session gets the state width, not the batch width."""
    stream = streaming.read_events_stream(spark, SF_DIR)
    q = (
        streaming.stream_dedup(stream)
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(streaming._unique_sink_name("t_plain_width"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert _state_widths(q.recentProgress) == {STATE_PARTITIONS_MIN}


def test_existing_checkpoint_keeps_its_state_width(spark, tmp_path):
    """A checkpoint created with 8 state stores restarts with 8 (the
    width lives in its offset log), and its sink ends with the same rows
    as a stream that ran at the session's state width throughout."""
    sf_dir = str(tmp_path / "feed")
    out8, ckpt8 = str(tmp_path / "sink8"), str(tmp_path / "ckpt8")
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _drop_hour_events(sf_dir, range(0, 2), 0)

    def at_8(start):
        return streaming._start_with_state_partitions(start, spark, 8)

    assert _state_widths(_run_hour_sink(spark, sf_dir, out8, ckpt8, at_8)) == {8}
    assert _state_widths(_run_hour_sink(spark, sf_dir, out, ckpt)) == {
        STATE_PARTITIONS_MIN
    }
    _drop_hour_events(sf_dir, range(2, 5), 1)
    assert _state_widths(_run_hour_sink(spark, sf_dir, out8, ckpt8)) == {8}
    _run_hour_sink(spark, sf_dir, out, ckpt)

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    assert rows(out8) == rows(out)
    assert len(rows(out)) == 5
