"""The benchmark's workloads.  Each loads one group of the engine's layers
heavily and leaves the others nearly idle:

- ``warehouse_etl``: an ETL pass.  A staged event backlog is ingested one
  file per trigger through watermarked stateful streaming operators into
  idempotent sinks; TPC-H-shaped scan, join, sort and shuffle queries run;
  a sorted and a partitioned bulk write is read back through the catalog.
- ``llm_curation``: near-duplicate, text and embedding operators over a
  document corpus (row-local CPU-heavy expressions and self-joins).

The engine is driven only through its public functions: the session
factory, the catalog, the query registry, the sources writers and the
streaming operators.  A workload is a list of steps; an operation is one
step, and the steps run round-robin, so a run of a few passes gives every
step several samples.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from hadoop_20_spark import catalog, sources, streaming
from hadoop_20_spark.queries import REGISTRY

import gen
from check import Oracle, fingerprint
from spans import Tracer

TPCH = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem")


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    corrupt: bool = False  # drop a row from the next checked result
    progress: list[dict] = field(default_factory=list)  # StreamingQueryProgress


@dataclass
class StepResult:
    step: str
    ms: float
    input_bytes: int
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    cpu_s: float = 0.0


@dataclass
class Step:
    name: str
    tables: tuple[str, ...]
    oracle: str | None  # None: checked when the stream feed ends
    run: Callable[[Ctx, str], object]  # timed; a frame to check, or input bytes
    prep: Callable[[Ctx], None] | None = None  # untimed, before ``run``


def registry_step(name: str, layer: str, tables: tuple[str, ...]) -> Step:
    q = REGISTRY[name]

    def run(ctx: Ctx, data_dir: str) -> pd.DataFrame:
        with ctx.tracer.span("queries", name):
            df = q.fn(ctx.spark, data_dir)
        with ctx.tracer.span(layer, name):
            return df.toPandas()

    return Step(name, tables, q.oracle, run)


def _write_read_back(ctx: Ctx, data_dir: str) -> pd.DataFrame:
    """A sorted write of lineitem and a partitioned (demux) write of orders
    through ``sources``, read back through ``catalog``."""
    spark, out = ctx.spark, os.path.join(ctx.work, "etl_out")
    with ctx.tracer.span("sources", "write_sorted"):
        sources.write_sorted(
            catalog.load_table(spark, "lineitem", data_dir),
            catalog.table_path(out, "lineitem"), "l_orderkey", "l_linenumber",
        )
    with ctx.tracer.span("sources", "write_demux"):
        sources.write_demux(
            catalog.load_table(spark, "orders", data_dir),
            catalog.table_path(out, "orders"), "o_orderstatus",
        )
    with ctx.tracer.span("catalog", "read_back"):
        li = catalog.load_table(spark, "lineitem", out).agg(
            F.lit("lineitem").alias("t"), F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("k"), F.sum("l_partkey").alias("p"),
        )
        od = catalog.load_table(spark, "orders", out).groupBy(
            F.col("o_orderstatus").alias("t")
        ).agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("k"),
            F.sum("o_custkey").alias("p"),
        )
        return li.unionByName(od).toPandas()


READ_BACK_ORACLE = """
SELECT 'lineitem' AS t, COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS k,
       CAST(SUM(l_partkey) AS BIGINT) AS p FROM lineitem
UNION ALL
SELECT o_orderstatus AS t, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS k,
       CAST(SUM(o_custkey) AS BIGINT) AS p FROM orders GROUP BY o_orderstatus
"""

# Stream oracles run over the real files of the feed (the sentinels
# excluded), registered as ``events``.
STREAM_ORACLES = {
    "tumbling_agg": REGISTRY["tumbling_window_agg"].oracle,
    "stream_dedup": """
SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS ids
FROM (SELECT DISTINCT event_id, ts FROM events) GROUP BY 1
""",
}


class StreamIngest:
    """Catch-up ingest of an hourly event feed: ``stream_dedup`` and a
    watermarked ``tumbling_agg`` as two streaming queries over one
    file-source directory, each into a ``foreach_batch_idempotent_sink``
    parquet directory.  A step drops the next hour's file into the
    directory, restarts both queries from their checkpoints with an
    available-now trigger and waits until they stop: a micro-batch each
    for the file, plus the no-data batch a watermark move triggers.

    A feed lives from ``begin`` to ``end``; ``end`` pushes the watermark
    past every event and checks each sink against DuckDB over the files
    the feed dropped."""

    def __init__(self, per_file: int):
        self.per_file, self.hour = per_file, 0

    def begin(self, ctx: Ctx, seed: int, tag: str) -> None:
        self.seed = seed
        self.src = catalog.table_path(os.path.join(ctx.work, "stream", tag), "events")
        self.staged = os.path.join(ctx.work, "stream", tag + ".staged")
        self.out = os.path.join(ctx.work, "stream_out", tag)
        os.makedirs(self.src)
        os.makedirs(self.staged)
        self.bytes = 0
        self.prep(ctx)
        self.run(ctx, "")

    def prep(self, ctx: Ctx) -> None:
        """Generate the next hour's file outside the source directory."""
        self.next_file = os.path.join(self.staged, f"part-{self.hour:05d}.parquet")
        self.next_bytes = gen.event_file(self.next_file, self.seed, self.hour, self.per_file)
        self.hour += 1

    def run(self, ctx: Ctx, _data_dir: str) -> int:
        os.rename(self.next_file, os.path.join(self.src, os.path.basename(self.next_file)))
        self._catch_up(ctx)
        self.bytes += self.next_bytes
        return self.next_bytes

    def _catch_up(self, ctx: Ctx) -> None:
        with ctx.tracer.span("streaming", "catch_up"):
            ev = streaming.read_events_stream(ctx.spark, os.path.dirname(self.src))
            queries = []
            for name in STREAM_ORACLES:
                if name == "stream_dedup":
                    df = streaming.stream_dedup(ev).withColumn(
                        "part", F.date_format("ts", "yyyyMMddHH"))
                else:
                    # a 2-hour watermark keeps the previous hour's redelivered
                    # events on time, so the result is the batch aggregate
                    df = streaming.tumbling_agg(ev, watermark="2 hours").withColumn(
                        "part", F.date_format("window_start", "yyyyMMddHH"))
                out = os.path.join(self.out, name)
                queries.append(
                    streaming.foreach_batch_idempotent_sink(df, out, "part")
                    .option("checkpointLocation", out + ".ckpt")
                    .trigger(availableNow=True)
                    .start()
                )
            for q in queries:
                q.awaitTermination()
                ctx.progress += q.recentProgress

    def end(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        gen.sentinel_files(self.src, self.hour)
        checks = []
        try:
            self._catch_up(ctx)
        except Exception as e:  # noqa: BLE001 - a failed flush counts in failed
            return [(name, False, repr(e)[:300]) for name in STREAM_ORACLES]
        oracle = Oracle({"events": os.path.join(self.src, "part-*.parquet")})
        for name, sql in STREAM_ORACLES.items():
            try:
                df = ctx.spark.read.parquet(os.path.join(self.out, name))
                if name == "stream_dedup":
                    df = df.filter("event_id >= 0").groupBy(
                        F.date_trunc("hour", "ts").alias("hour")
                    ).agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("ids"))
                else:
                    df = df.filter("event_type <> '__sentinel__'").drop("part")
                checks.append(_check(ctx, name, df.toPandas(), oracle.fingerprint(sql)))
            except Exception as e:  # noqa: BLE001 - a wrong sink counts in failed
                checks.append((name, False, repr(e)[:300]))
        oracle.close()
        return checks


def _table_bytes(data_dir: str, tables) -> int:
    return sum(os.path.getsize(catalog.table_path(data_dir, t)) for t in tables)


def _check(ctx: Ctx, name: str, pdf: pd.DataFrame, want: str) -> tuple[str, bool, str]:
    if ctx.corrupt and len(pdf):
        pdf, ctx.corrupt = pdf.iloc[1:], False
    got = fingerprint(pdf)
    return name, got == want, got


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and its Python workers), reaped children included."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(d)] = fields
        kids.setdefault(int(fields[1]), []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        f = stats.get(pid)
        if f:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


SMOKE_MULT = 0.01  # sf0.001-sized inputs for the benchmark's own tests


class StepWorkload:
    """A workload over generated tables and, optionally, a stream feed."""

    def __init__(self, name, tables, mult, steps, feed: StreamIngest | None = None):
        self.name, self.tables, self.mult, self.steps = name, tables, mult, steps
        self.feed = feed

    def prepare(self, work: str, seed: int, smoke: bool) -> dict:
        self.data, self.seed = os.path.join(work, "data"), seed
        mult = SMOKE_MULT if smoke else self.mult
        sizes = {"input_bytes": gen.write_tables(self.data, seed, mult, self.tables)}
        sizes["rows"] = {t: gen.row_count(mult, t) for t in self.tables if t in gen.BASE_ROWS}
        if self.feed:
            if smoke:
                self.feed.per_file = 200
            sizes["rows"]["stream_events_per_file"] = self.feed.per_file
        oracle = Oracle({t: catalog.table_path(self.data, t) for t in self.tables})
        self.expect = {s.name: oracle.fingerprint(s.oracle) for s in self.steps if s.oracle}
        oracle.close()
        self.step_bytes = {s.name: _table_bytes(self.data, s.tables) for s in self.steps}
        return sizes

    def load(self, ctx: Ctx) -> None:
        for t in self.tables:
            catalog.load_table(ctx.spark, t, self.data)

    def start(self, ctx: Ctx, tag: str) -> None:
        """Start the stream feed (if any) on ``ctx``'s session."""
        if self.feed:
            self.feed.begin(ctx, self.seed, tag)

    def finish(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        """End the stream feed (if any) and check its sinks."""
        return self.feed.end(ctx) if self.feed else []

    def warm_up(self, ctx: Ctx) -> None:
        for i in range(len(self.steps)):
            self.run_step(ctx, i)

    def run_step(self, ctx: Ctx, i: int) -> StepResult:
        s = self.steps[i]
        ctx.progress = []
        if s.prep:
            s.prep(ctx)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with ctx.tracer.span("workload", s.name):
                out = s.run(ctx, self.data)
        except Exception as e:  # noqa: BLE001 - a failed step counts in failed
            return StepResult(s.name, (time.perf_counter() - t0) * 1e3, self.step_bytes[s.name],
                              [(s.name, False, repr(e)[:300])], cpu_s=tree_cpu_s() - c0)
        ms, cpu = (time.perf_counter() - t0) * 1e3, tree_cpu_s() - c0
        if s.oracle is None:
            return StepResult(s.name, ms, out, progress=ctx.progress, cpu_s=cpu)
        return StepResult(s.name, ms, self.step_bytes[s.name],
                          [_check(ctx, s.name, out, self.expect[s.name])], cpu_s=cpu)


def make(name: str) -> StepWorkload:
    if name == "warehouse_etl":
        feed = StreamIngest(per_file=2500)
        return StepWorkload(name, TPCH, 0.1, [
            Step("stream_ingest", (), None, feed.run, feed.prep),
            registry_step("q1_pricing_summary", "operators.aggregate", ("lineitem",)),
            registry_step("join_star", "operators.joins",
                          ("customer", "lineitem", "nation", "orders", "region")),
            registry_step("total_order_sort", "operators.sort", ("lineitem",)),
            Step("write_read_back", ("lineitem", "orders"), READ_BACK_ORACLE, _write_read_back),
        ], feed)
    if name == "llm_curation":
        return StepWorkload(name, ("documents", "embeddings"), 0.1, [
            registry_step("minhash_lsh_pairs", "operators.dedup", ("documents",)),
            registry_step("paragraph_dedup", "operators.dedup", ("documents",)),
            registry_step("tfidf_top_terms", "operators.text", ("documents",)),
            registry_step("winnowing_fps", "operators.text", ("documents",)),
            registry_step("embedding_topk", "operators.similarity", ("embeddings",)),
        ])
    raise KeyError(name)


NAMES = ("warehouse_etl", "llm_curation")
