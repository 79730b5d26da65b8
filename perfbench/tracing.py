"""Outside-in tracing: one span around each public engine call.

A span holds its name, start, end, parent span and run id, plus the phase
it ran in (set-up, an op, a probe or a check). Spans stay in memory until
the run ends. A span's self time is its duration minus the time its child
spans cover.

Spark counters are read from outside the engine: each span runs under its
own job group (``SparkContext.setJobGroup``), and after the run the jobs,
stages, tasks and failed tasks of every group are read back from
``statusTracker()``. Only stages that ran a task are counted; stages that
adaptive execution skipped or reused are left out, so the counts repeat
between identical passes.

With tracing off, ``span`` is a no-op and nothing touches Spark.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# the layers of the engine the benchmark drives, by module name
LAYERS = [
    "session", "documents", "tokenize", "stats", "bm25", "index.build",
    "index.codec", "index.merge", "streaming.incremental", "query.wand",
]
COUNTERS = ["jobs", "stages", "tasks", "failed_tasks"]


@dataclass
class Span:
    sid: int
    layer: str
    call: str
    parent: int | None
    run_id: str
    phase: str
    op: int | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}-{self.sid}"

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.sc = None
        self.phase = "setup"
        self.op: int | None = None
        self.cached: list = []

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, layer: str, call: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        s = Span(
            len(self.spans), layer, call, parent.sid if parent else None,
            self.run_id, self.phase, self.op, time.perf_counter(),
        )
        self.spans.append(s)
        self.stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.group, f"{layer}.{call}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent.child_s += s.end - s.start
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, f"{parent.layer}.{parent.call}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def force(self, df):
        """Traced runs only: materialise a lazy DataFrame at a layer
        boundary so its time lands on the layer that built it."""
        if not self.enabled:
            return df
        df = df.cache()
        df.count()
        self.cached.append(df)
        return df

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def read_counters(self, timeout_s: float = 20.0) -> None:
        """Fill each span's Spark counters once every job has finished
        (the status store is fed asynchronously by the listener bus)."""
        if not self.enabled or self.sc is None:
            return
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        for s in self.spans:
            while True:
                jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(s.group)]
                pending = [j for j in jobs if j is None or j.status == "RUNNING"]
                if not pending or time.monotonic() > deadline:
                    break
                time.sleep(0.05)
            stages = tasks = failed = 0
            for j in jobs:
                if j is None:
                    continue
                for sid in j.stageIds:
                    info = st.getStageInfo(sid)
                    if info is None:
                        continue
                    if info.numCompletedTasks + info.numFailedTasks > 0:
                        stages += 1
                    tasks += info.numCompletedTasks
                    failed += info.numFailedTasks
            s.counters = {
                "jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed,
            }

    def _per_unit(self, pick, fold) -> float:
        """Median over ops of each op's total of pick(span) for the spans it
        selects. When no op has any, fold the values of the set-up, then the
        probe, then the check phase."""
        by_op: dict[int, float] = {}
        for s in self.spans:
            v = pick(s)
            if v is not None and s.phase == "op":
                by_op[s.op] = by_op.get(s.op, 0.0) + v
        if by_op:
            return statistics.median(by_op.values())
        for phase in ("setup", "probe", "check"):
            vals = [v for s in self.spans if s.phase == phase
                    for v in [pick(s)] if v is not None]
            if vals:
                return fold(vals)
        return 0.0

    def self_time(self, layer: str, call: str) -> float:
        """Self time (seconds) of layer.call: per op, else per call."""
        return self._per_unit(
            lambda s: s.self_s if (s.layer, s.call) == (layer, call) else None,
            statistics.median,
        )

    def counter(self, layer: str, name: str) -> float:
        """A Spark counter summed over a layer's spans: per op, else per phase."""
        return self._per_unit(
            lambda s: float(s.counters.get(name, 0)) if s.layer == layer else None,
            sum,
        )


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) summed over this process, the driver JVM
    and every process below it (the Python workers), in MiB."""
    kids = _proc_children()
    pids, todo = [os.getpid()], [jvm_pid] if jvm_pid else []
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(kids.get(p, []))
    return sum(_hwm_kb(p) for p in pids) / 1024.0
