"""Benchmark entry point.  Run from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It generates the workload's inputs from the seed, sets up the engine five
times and reports the median set-up time, warms up with one pass over the
workload's steps, runs the steps round-robin for ``S`` seconds, checks
every output against a DuckDB oracle on the same inputs,
and prints a human-readable summary followed, as the last line of stdout,
by one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics, from a run whose second half runs with spans, job
groups and the Spark UI status store on.  ``--smoke`` uses tiny inputs
(the benchmark's own tests); ``--corrupt`` drops one row from the first
checked output, which must then count as a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

SETUPS = 5
CPUS = min(4, len(os.sched_getaffinity(0)))
# The engine's default JVM heap (16g) exceeds a 15 GB machine's memory.
HEAP = "3g"
HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--corrupt", action="store_true")
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Everything the engine writes stays under ``work``; cores and heap are
    pinned so results from different machines state what they ran on."""
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files in the system temp dir, from any JVM the
        # launch starts (spark-submit's launcher too)
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })


def session_conf(work: str, ui: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            # C1 only: C2 kept ~1.5 of 4 cores compiling through the whole
            # measured window, so runs measured JIT progress
            " -XX:TieredStopAtLevel=1",
    }
    if ui:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


def start_session(work: str, ui: bool):
    from hadoop_20_spark.session import get_spark

    os.environ["SPARK_UI"] = "true" if ui else "false"
    return get_spark("perfbench", extra_conf=session_conf(work, ui))


def stop_engine(spark) -> None:
    """Stop the session and the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def environment(spark, seed: int) -> dict:
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_DRIVER_MEM": HEAP,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def jvm_busy_ms(spark) -> dict[str, float]:
    """JIT compilation and GC milliseconds the driver JVM has spent so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {"jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
            "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())}


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_window(wl, ctx, seconds: float) -> list:
    """The workload's steps, round-robin and back to back, until ``seconds``
    have passed (at least one pass)."""
    results, t0 = [], time.perf_counter()
    while len(results) < len(wl.steps) or time.perf_counter() - t0 < seconds:
        results.append(wl.run_step(ctx, len(results) % len(wl.steps)))
    return results


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping checkpoints and hidden files."""
    total = files = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.endswith(".ckpt")]
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def by_step(results) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in results:
        out.setdefault(r.step, []).append(r)
    return out


def per_pass(wl, results, key) -> float:
    """Sum over a pass's steps of each step's median ``key``."""
    steps = by_step(results)
    return sum(median([getattr(r, key) for r in steps[s.name]]) for s in wl.steps)


def pass_s(wl, results) -> float:
    """A pass's wall time."""
    return per_pass(wl, results, "ms") / 1e3


def end_to_end(wl, setup_times, results) -> dict:
    cpu = per_pass(wl, results, "cpu_s")
    return {
        "setup_s": median(setup_times),
        "pass_cpu_s": cpu,
        "input_mb_per_cpu_s": per_pass(wl, results, "input_bytes") / 1e6 / cpu if cpu else 0.0,
    }


def per_layer(wl, tracer, plain, traced, session_start_s, work, verify_yield) -> dict:
    from spans import OPERATOR_LAYERS, STAGE_COUNTERS

    # counters are per pass
    n = max(1.0, len(traced) / len(wl.steps))
    m: dict[str, float] = {"session.start_s": session_start_s}
    spans = tracer.spans
    m["catalog.input_mb"] = sum(r.input_bytes for r in traced) / 1e6 / n
    m["catalog.read_back_s"] = sum(
        s.end - s.start for s in spans if s.layer == "catalog" and s.name == "read_back") / n
    m["queries.build_ms"] = sum(s.end - s.start for s in spans if s.layer == "queries") * 1e3 / n
    m["queries.build_jobs"] = tracer.job_count("queries") / n
    counters = tracer.stage_counters()
    for layer in OPERATOR_LAYERS:
        c = counters.get(layer, {})
        for k in STAGE_COUNTERS:
            m[f"{layer}.{k}"] = c.get(k, 0.0) / n
    m["operators.dedup.verify_yield"] = verify_yield
    # bytes written by the bulk writes and the traced feed's sinks, per
    # byte those writes and that feed read
    out_bytes, out_files = dir_stats(os.path.join(work, "etl_out"))
    written_in = sum(os.path.getsize(os.path.join(wl.data, f"{t}.parquet"))
                     for t in ("lineitem", "orders")) if out_files else 0
    if wl.feed:
        b, f = dir_stats(wl.feed.out)
        out_bytes, out_files, written_in = out_bytes + b, out_files + f, written_in + wl.feed.bytes
    m["sources.write_s"] = sum(s.end - s.start for s in spans if s.layer == "sources") / n
    m["sources.output_mb"] = out_bytes / 1e6
    m["sources.files"] = out_files
    m["sources.bytes_per_input_byte"] = out_bytes / written_in if written_in else 0.0
    progress = [p for r in traced for p in r.progress]

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in progress])

    m["streaming.add_batch_ms"] = dur("addBatch")
    m["streaming.plan_ms"] = dur("queryPlanning")
    m["streaming.wal_ms"] = dur("walCommit")
    state = [p.get("stateOperators") or [] for p in progress]
    m["streaming.state_rows_peak"] = max(
        (sum(o.get("numRowsTotal", 0) for o in ops) for ops in state), default=0)
    m["streaming.state_mb_peak"] = max(
        (sum(o.get("memoryUsedBytes", 0) for o in ops) for ops in state), default=0) / 1e6
    p_plain, p_traced = pass_s(wl, plain), pass_s(wl, traced)
    m["trace.pass_s_untraced"] = p_plain
    m["trace.pass_s_traced"] = p_traced
    m["trace.overhead_pct"] = (p_traced / p_plain - 1) * 100 if p_plain else 0.0
    return m


def lsh_verify_yield(spark, data_dir: str) -> float:
    """Verified near-duplicate pairs per LSH candidate pair."""
    from hadoop_20_spark.queries import REGISTRY

    cands = REGISTRY["minhash_lsh_pairs"].fn(spark, data_dir).count()
    verified = REGISTRY["minhash_near_dups"].fn(spark, data_dir).count()
    return verified / cands if cands else 0.0


def summary(wl, setup_times, results, rss_mb, attempted, failed) -> dict:
    """Every end-to-end figure, with the samples behind each timing."""
    e = end_to_end(wl, setup_times, results)
    steps, p = by_step(results), pass_s(wl, results)
    out = {**e, "setup_samples": len(setup_times), "passes": len(results) / len(wl.steps),
           "pass_s": p, "input_mb_s": per_pass(wl, results, "input_bytes") / 1e6 / p,
           "step_s": {k: [round(r.ms / 1e3, 3) for r in rs] for k, rs in steps.items()},
           "step_cpu_s": {k: [round(r.cpu_s, 2) for r in rs] for k, rs in steps.items()},
           "fail_ratio": failed / attempted, "peak_rss_mb": rss_mb}
    if wl.feed:
        batches = [p["durationMs"]["triggerExecution"] for r in results for p in r.progress
                   if "triggerExecution" in p.get("durationMs", {})]
        ingests = [r for r in results if r.progress]
        ingest_s = sum(r.ms for r in ingests) / 1e3
        out.update(batch_ms_p50=median(batches), batch_ms_p90=quantile(batches, 0.9),
                   batches=len(batches), events_per_file=wl.feed.per_file,
                   events_per_s=wl.feed.per_file * len(ingests) / ingest_s if ingest_s else 0.0)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoop_20_spark", "__init__.py")):
        print("perfbench: hadoop_20_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import workloads

    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.NAMES}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    try:
        return bench(args, workloads, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, workloads, root, work) -> int:
    from spans import Tracer

    t_start = time.perf_counter()
    wl = workloads.make(args.workload)
    inputs = wl.prepare(work, args.seed, args.smoke)
    inputs["prepare_s"] = time.perf_counter() - t_start
    tracer = Tracer(f"{args.workload}-{args.seed}")
    spark, setup_times, starts, feed_checks = None, [], [], []
    try:
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            t1 = time.perf_counter()
            spark = start_session(work, ui=False)
            starts.append(time.perf_counter() - t1)
            wl.load(workloads.Ctx(spark, tracer, work))
            setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        ctx = workloads.Ctx(spark, tracer, work)
        wl.start(ctx, "untraced")
        wl.warm_up(ctx)
        warmup_s = time.perf_counter() - t0
        t_window = time.perf_counter()
        env = environment(spark, args.seed)
        ctx.corrupt = args.corrupt
        jvm0, steal0 = jvm_busy_ms(spark), host_steal()
        if not args.trace:
            results = run_window(wl, ctx, args.seconds)
            traced = []
        else:
            results = run_window(wl, ctx, args.seconds / 2)
            feed_checks += wl.finish(ctx)
            spark.stop()
            spark = start_session(work, ui=True)
            tracer.attach(spark)
            ctx = workloads.Ctx(spark, tracer, work)
            wl.start(ctx, "traced")
            traced = run_window(wl, ctx, args.seconds / 2)
        window_s = time.perf_counter() - t_window
        # where the window's time went besides the workload
        window_jvm = {k: v - jvm0[k] for k, v in jvm_busy_ms(spark).items()} if not args.trace else {}
        steal1 = host_steal()
        window_jvm["host_steal_pct"] = 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        feed_checks += wl.finish(ctx)
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        yield_ = (lsh_verify_yield(spark, wl.data)
                  if args.trace and args.workload == "llm_curation" else 0.0)
        if args.trace:
            layers = per_layer(wl, tracer, results, traced, starts[0], work, yield_)
            layers["session.warmup_s"] = warmup_s
            os.makedirs(os.path.join(root, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(os.path.join(root, ".perfbench", "traces",
                                     f"{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            stop_engine(spark)
    phases = {"prepare_s": inputs.pop("prepare_s"), "setups_s": setup_times,
              "warmup_s": warmup_s, "window_s": window_s, "window": window_jvm,
              "total_s": time.perf_counter() - t_start}
    checks = [c for r in results + traced for c in r.checks] + feed_checks
    for name, ok, got in checks:
        if not ok:
            print(f"perfbench: wrong output from {name}: {got}", file=sys.stderr)
    attempted, failed = len(checks), sum(1 for c in checks if not c[1])
    print("perfbench env " + json.dumps(env))
    print("perfbench inputs " + json.dumps(inputs))
    print("perfbench phases " + json.dumps(phases))
    print("perfbench summary " + json.dumps(
        summary(wl, setup_times, results + traced, rss_mb,
                max(1, attempted), failed)))
    if args.trace:
        values = layers
    else:
        values = end_to_end(wl, setup_times, results)
    units = metric_units()
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(json.dumps({"correct": attempted > 0 and failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0


def metric_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
