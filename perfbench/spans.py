"""Measurement helpers: per-layer spans with Spark counters, a streaming
progress listener, and a process-tree RSS sampler.

Every span in a traced run records one ``SpanRecord``: the layer (a
package module name), the call, its wall time and the counters of the
Spark jobs it ran. Jobs are found by job group (one group per span)
through ``statusTracker()``, and stage counters come from the status
store, which works with the UI disabled. Streaming micro-batches run
in their own thread under the query's ``runId`` job group, so their
counters are read by that group and their phase durations come from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: Spark counters kept for every span, summed over its jobs' stages.
STAGE_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


@dataclass
class SpanRecord:
    """One layer call: the record shape every workload emits."""

    layer: str
    span: str
    start_s: float
    wall_s: float
    counters: dict = field(default_factory=dict)


def group_counters(spark, group: str) -> dict:
    """Job, stage and task counters of every job run under ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    tracker = sc.statusTracker()
    out = dict.fromkeys(STAGE_COUNTERS, 0)
    stage_ids = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        stage_ids.update(info.stageIds)
    store = jsc.statusStore()
    for sid in stage_ids:
        attempts = store.stageData(sid, False, None, False, None)
        ran = False
        for i in range(attempts.size()):
            d = attempts.apply(i)
            ran = ran or d.numCompleteTasks() > 0
            out["tasks"] += d.numCompleteTasks()
            out["executor_run_ms"] += d.executorRunTime()
            out["gc_ms"] += d.jvmGcTime()
            out["shuffle_read_bytes"] += d.shuffleReadBytes()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            out["input_bytes"] += d.inputBytes()
        out["stages"] += ran  # stages AQE skipped ran no task
    return out


class Tracer:
    """Layer spans for a traced run; every method is a no-op otherwise.

    In a traced run a lazy layer output is materialized inside its own
    span (``materialize``: cache and count), so each span's time is that
    layer's own work and the next layer reads the cached rows. That
    extra materialization is part of the tracing overhead the run
    record reports.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[SpanRecord] = []
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._cached = []
        self._n = 0
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._n += 1
        group = f"perfbench-{self._n}"
        sc.setJobGroup(group, f"{layer}.{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            counters = group_counters(self.spark, group)
            self.spans.append(SpanRecord(layer, name, t0 - self._t0, wall, counters))
            self.add(layer, f"{name}_s", wall)
            for k, v in counters.items():
                self.add(layer, k, v)

    @contextmanager
    def paused(self):
        """No spans or counts inside (set-up is not part of the trace)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def add(self, layer: str, metric: str, value: float) -> None:
        if self.enabled:
            self.totals[layer][metric] += value

    def put(self, layer: str, metric: str, value: float) -> None:
        """Set a gauge (a size at the end of the run, not a sum)."""
        if self.enabled:
            self.totals[layer][metric] = value

    def materialize(self, df):
        """Cache and count ``df`` in a traced run; returns (df, rows)."""
        if not self.enabled:
            return df, None
        df = df.cache()
        self._cached.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def record(self) -> dict:
        return {
            "layers": {k: dict(v) for k, v in self.totals.items()},
            "spans": [asdict(s) for s in self.spans],
        }


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress of the queries it sees."""

    def __init__(self):
        self.run_ids: list[str] = []
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append({
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _tree_pids(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    mine, grew = {root}, True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return list(mine)


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident bytes of ``root`` (default: this process) and descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and its live descendants. Time the hypervisor gave to
    other guests (steal) is not in it."""
    ticks = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks += int(f[11]) + int(f[12])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall time and process-tree CPU time of a ``with`` block."""

    def __enter__(self):
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        self.cpu = tree_cpu_s() - self._cpu0


class RssSampler:
    """Samples the process tree's RSS in a thread; ``peak`` in bytes."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())
