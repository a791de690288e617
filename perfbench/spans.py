"""Spans around the benchmark's calls into each layer of the engine.

A span records its layer, name, start, end, parent span and run id.  With
tracing on, each span also runs under its own Spark job group, so the
Spark UI status store can attribute stage metrics (CPU, GC, tasks,
shuffle, spill) to it; spans stay in memory and are written out when the
run ends.  With tracing off a span only costs a clock read, so the timed
runs see no job groups and no status-store queries.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

OPERATOR_LAYERS = (
    "operators.aggregate", "operators.joins", "operators.sort",
    "operators.dedup", "operators.text", "operators.similarity",
)
STAGE_COUNTERS = ("wall_s", "cpu_s", "gc_s", "tasks", "shuffle_mb", "spill_mb")


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.spark = None
        self._stack: list[Span] = []

    def attach(self, spark) -> None:
        """Trace the calls made on ``spark`` (None turns tracing off)."""
        self.spark = spark

    @contextmanager
    def span(self, layer: str, name: str):
        if self.spark is None:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name, parent.id if parent else None,
                 self.run_id, time.perf_counter())
        s.group = f"{self.run_id}-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, f"{layer}:{name}")
        try:
            yield
        finally:
            s.end = time.perf_counter()
            s.jobs = list(sc.statusTracker().getJobIdsForGroup(s.group))
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, f"{parent.layer}:{parent.name}")
            else:
                sc._jsc.clearJobGroup()

    def stage_counters(self) -> dict[str, dict[str, float]]:
        """Per-layer span wall time plus the stage metrics of every job
        started inside the layer's spans, read from the status store's
        REST endpoint of this application's UI."""
        sc = self.spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - internal API; fall back to a short wait
            time.sleep(2.0)
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = {j["jobId"]: j for j in _get_json(f"{base}/jobs")}
        stages: dict[int, list[dict]] = {}
        for st in _get_json(f"{base}/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            c = out.setdefault(s.layer, dict.fromkeys(STAGE_COUNTERS, 0.0))
            c["wall_s"] += s.end - s.start
            for jid in s.jobs:
                for sid in jobs.get(jid, {}).get("stageIds", []):
                    for att in stages.get(sid, []):
                        c["cpu_s"] += att.get("executorCpuTime", 0) / 1e9
                        c["gc_s"] += att.get("jvmGcTime", 0) / 1e3
                        c["tasks"] += att.get("numCompleteTasks", 0)
                        c["shuffle_mb"] += att.get("shuffleWriteBytes", 0) / 1e6
                        c["spill_mb"] += att.get("diskBytesSpilled", 0) / 1e6
        return out

    def job_count(self, layer: str) -> int:
        return sum(len(s.jobs) for s in self.spans if s.layer == layer)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)
