"""Measurement pieces shared by the workloads.

- ``Tracer``: spans (name, layer, start, end, parent) kept in memory and
  written out at exit; per-layer self time.
- ``JobLedger``: Spark job groups per phase, and job and stage totals read
  from the JVM status store.
- ``ProgressLog``: a ``StreamingQueryListener`` that keeps every
  progress event with its full ``durationMs`` breakdown.
- ``Result``: the metrics, with sample counts, and the final JSON line.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters (user, nice, system, idle, iowait, irq,
    softirq, steal) from /proc/stat; empty where it does not exist."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) == 8 and sum(d) else None


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into each layer. A disabled tracer still times
    each span (the workloads read ``Span.seconds``) but keeps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        sp = Span(name, layer, time.time())
        if self.enabled:
            sp.parent = self._stack[-1] if self._stack else None
            self.spans.append(sp)
            self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                self._stack.pop()

    @contextmanager
    def paused(self):
        """Record nothing inside: set-up work the layer figures leave out."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None) -> int:
        """Record a span measured elsewhere (e.g. a streaming batch)."""
        self.spans.append(Span(name, layer, start, end, parent))
        return len(self.spans) - 1

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's children."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            covered, edge = 0.0, sp.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[sp.layer] = out.get(sp.layer, 0.0) + sp.seconds - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)


class JobLedger:
    """Job groups per phase, and what the status store says they cost."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Executor run/CPU time, shuffle write and spill over the jobs'
        stages (every attempt; skipped stages read zero)."""
        tot = {"run_s": 0.0, "cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        seen: set[int] = set()
        for jid in job_ids:
            ids = self.store.job(jid).stageIds()
            for sid in (ids.apply(i) for i in range(ids.size())):
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    tot["run_s"] += st.executorRunTime() / 1e3
                    tot["cpu_s"] += st.executorCpuTime() / 1e9
                    tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                    tot["spill_mb"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    ) / 1e6
        return tot

    def jobs_by_group(self) -> dict[str, int]:
        """Job count per job group over every job the store retains."""
        jobs = self.store.jobsList(None)
        out: dict[str, int] = {}
        for i in range(jobs.size()):
            g = jobs.apply(i).jobGroup()
            key = g.get() if g.isDefined() else ""
            out[key] = out.get(key, 0) + 1
        return out


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


@dataclass
class Batch:
    batch_id: int
    start: float
    duration_ms: dict[str, int]
    rows: int

    @property
    def end(self) -> float:
        return self.start + self.duration_ms.get("triggerExecution", 0) / 1e3


class ProgressLog(StreamingQueryListener):
    """Keeps each micro-batch's start, phase durations and row count."""

    def __init__(self) -> None:
        super().__init__()
        self._lock = threading.Lock()
        self.batches: dict[int, Batch] = {}
        self.on_batch = None  # optional callback(Batch)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        b = Batch(int(p.batchId), _epoch(p.timestamp),
                  dict(p.durationMs or {}), int(p.numInputRows))
        with self._lock:
            self.batches[b.batch_id] = b
        if self.on_batch is not None:
            self.on_batch(b)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def data_batches(self) -> list[Batch]:
        with self._lock:
            return [b for _, b in sorted(self.batches.items()) if b.rows > 0]

    def wait_for(self, batch_id: int, timeout: float = 10.0) -> None:
        """Progress events arrive asynchronously; wait for ``batch_id``."""
        end = time.time() + timeout
        while time.time() < end:
            with self._lock:
                if batch_id in self.batches:
                    return
            time.sleep(0.05)
        raise RuntimeError(f"no progress event for batch {batch_id}")


def stream_phases(res: "Result", tracer: Tracer, batches: list[Batch],
                  source_layer: str, land_layer: str) -> None:
    """Per-phase medians of the given micro-batches, and (traced runs)
    each batch as a span whose phases are laid end to end in the order the
    engine runs them."""
    dm = [b.duration_ms for b in batches]

    def p50(*keys: str) -> float:
        return pct([sum(m.get(k, 0) for k in keys) for m in dm], 50)

    res.put("streaming.batch_ms_p50", p50("triggerExecution"), "ms", len(dm))
    res.put("streaming.add_batch_ms_p50", p50("addBatch"), "ms", len(dm))
    res.put("streaming.source_ms_p50", p50("latestOffset", "getBatch"), "ms", len(dm))
    res.put("streaming.commit_log_ms_p50", p50("walCommit", "commitOffsets"), "ms", len(dm))
    for b in batches:
        root = tracer.add("streaming.batch", "streaming", b.start, b.end)
        t = b.start
        for name, layer, key in (
            ("streaming.source", source_layer, "latestOffset"),
            ("streaming.commit_log", "streaming", "walCommit"),
            ("streaming.source", source_layer, "getBatch"),
            ("streaming.planning", "streaming", "queryPlanning"),
            ("streaming.add_batch", land_layer, "addBatch"),
            ("streaming.commit_log", "streaming", "commitOffsets"),
        ):
            ms = b.duration_ms.get(key, 0)
            tracer.add(name, layer, t, t + ms / 1e3, root)
            t += ms / 1e3


@dataclass
class Result:
    """Named metrics with units and sample counts, plus correctness."""

    metrics: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    checks: dict[str, bool] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def put(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        self.metrics[name] = (float(value), unit, int(samples))

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)

    def line(self, units: dict[str, str]) -> str:
        """The final result line: exactly the metrics in ``units``."""
        missing = [n for n in units if n not in self.metrics]
        wrong = [n for n in units if n in self.metrics and self.metrics[n][1] != units[n]]
        if missing or wrong:
            raise RuntimeError(f"metrics not measured: {missing}; wrong unit: {wrong}")
        return json.dumps({
            "correct": all(self.checks.values()) and bool(self.checks),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                n: {"value": self.metrics[n][0], "unit": self.metrics[n][1]}
                for n in units
            },
        })

    def detail(self, **extra) -> str:
        return json.dumps({
            "samples": {n: m[2] for n, m in self.metrics.items()},
            "checks": self.checks,
            **extra,
        })

