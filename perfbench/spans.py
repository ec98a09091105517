"""Spans, Spark status-store harvesting and memory sampling for the benchmark.

A span is recorded around each call the benchmark makes into one layer of
the engine (name, layer, start, end, parent). Spans live in memory and are
written out once, when the run ends. With Spark probes on, each layer span
also takes a job-id watermark at its start and end, so the jobs, stages and
tasks it caused are read from Spark's status store afterwards: the driver
runs one action at a time, so jobs between two watermarks belong to the span.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_no: int | None = None
    jobs: list[int] = field(default_factory=list)
    sql_executions: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SparkProbe:
    """Reads jobs, stages and final AQE plans from the driver's status stores
    through the JVM gateway."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def settle(self) -> None:
        """Wait until every posted listener event has reached the stores."""
        self._bus.waitUntilEmpty()

    @staticmethod
    def _max_id(seq, get) -> int:
        # the stores list by id, in one order or the other
        n = seq.size()
        return max(get(seq.apply(0)), get(seq.apply(n - 1))) if n else -1

    def job_watermark(self) -> int:
        return self._max_id(self._store.jobsList(None), lambda j: j.jobId())

    def sql_watermark(self) -> int:
        return self._max_id(self._sql.executionsList(), lambda e: e.executionId())

    def job_stats(self, job_ids: list[int]) -> dict:
        """Totals over the given jobs and every stage attempt they ran."""
        out = dict(jobs=0, stages=0, tasks=0, task_run_s=0.0,
                   task_cpu_s=0.0, gc_s=0.0, shuffle_read_b=0, shuffle_write_b=0,
                   spill_b=0, input_b=0, output_b=0, output_rows=0,
                   input_tasks=0)
        seen: set[int] = set()
        for jid in job_ids:
            out["jobs"] += 1
            ids = self._store.job(jid).stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                done_tasks = st.numCompleteTasks()
                if done_tasks == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += done_tasks
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_b"] += st.shuffleReadBytes()
                out["shuffle_write_b"] += st.shuffleWriteBytes()
                out["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_b"] += st.inputBytes()
                out["output_b"] += st.outputBytes()
                out["output_rows"] += st.outputRecords()
                if st.shuffleReadBytes() == 0 and st.shuffleReadRecords() == 0:
                    out["input_tasks"] += done_tasks
        return out

    def exchanges(self, lo: int, hi: int) -> int:
        """Exchanges in the final plans of SQL executions (lo, hi]; a reused
        exchange is printed as ReusedExchange and so is counted once."""
        n = 0
        for eid in range(lo + 1, hi + 1):
            e = self._sql.execution(eid)
            if e.isDefined():
                n += count_final_exchanges(e.get().physicalPlanDescription())
        return n


_EXCHANGE = re.compile(r"^[\s|:+\-*]*(?:Broadcast)?Exchange \(\d+\)")


def count_final_exchanges(plan: str) -> int:
    """Count exchange nodes in a formatted plan, skipping every
    ``== Initial Plan ==`` subtree of an adaptive plan."""
    n, skip_indent = 0, None
    for line in plan.splitlines():
        if not line.strip() or line.startswith("("):
            skip_indent = None
            continue
        indent = len(line) - len(line.lstrip(" |:+-"))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "== Initial Plan ==" in line:
            skip_indent = len(line) - len(line.lstrip(" |:"))
            continue
        if _EXCHANGE.match(line):
            n += 1
    return n


class Tracer:
    """Span recorder. ``probe`` is None in untraced runs, where a span is
    a no-op."""

    def __init__(self, probe: SparkProbe | None = None):
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_no: int | None = None

    @property
    def on(self) -> bool:
        return self.probe is not None

    @contextmanager
    def span(self, name: str, layer: str, spark_work: bool = False):
        if not self.on:
            yield None
            return
        if spark_work:
            self.probe.settle()
            j0, s0 = self.probe.job_watermark(), self.probe.sql_watermark()
        sp = Span(
            id=len(self.spans), name=name, layer=layer, start=time.perf_counter(),
            parent=self._stack[-1].id if self._stack else None, pass_no=self.pass_no,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if spark_work:
                self.probe.settle()
                j1, s1 = self.probe.job_watermark(), self.probe.sql_watermark()
                sp.jobs = list(range(j0 + 1, j1 + 1))
                sp.sql_executions = [s0, s1]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f, indent=1)


# CPU seconds this process has spent scanning /proc for the benchmark's own
# measurements; counted in the process tree's CPU time, so subtracted from it
_harness_cpu = 0.0
_harness_lock = threading.Lock()


def harness_cpu_seconds() -> float:
    return _harness_cpu


def _proc_tree() -> tuple[dict[int, list[int]], dict[int, list[str]]]:
    """(ppid -> child pids, pid -> /proc stat fields after the command)."""
    global _harness_cpu
    t = time.thread_time()
    children: dict[int, list[int]] = {}
    fields: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we looked
        pid = int(entry)
        fields[pid] = stat[stat.rfind(")") + 2:].split()
        children.setdefault(int(fields[pid][1]), []).append(pid)
    with _harness_lock:
        _harness_cpu += time.thread_time() - t
    return children, fields


def _descendants(children: dict[int, list[int]]) -> list[int]:
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds() -> float:
    """CPU time (user + system, including reaped children) of this process
    and all its descendants."""
    children, fields = _proc_tree()
    ticks = os.sysconf("SC_CLK_TCK")
    return sum(
        sum(int(x) for x in fields[p][11:15]) for p in _descendants(children)
        if p in fields
    ) / ticks


def program_cpu_seconds() -> float:
    """``tree_cpu_seconds`` less the CPU time of the benchmark's own /proc
    scans (this one's included), so only the engine's work is counted."""
    total = tree_cpu_seconds()
    return total - harness_cpu_seconds()


def reference_cpu_s() -> float:
    """CPU seconds this thread spends on a fixed pure-Python and numpy
    computation: a probe of how fast the machine runs right now."""
    import numpy as np

    t = time.thread_time()
    x = 0
    for i in range(200_000):
        x = (x * 31 + i) % 1_000_003
    np.sort(np.random.default_rng(0).random(500_000))
    return time.thread_time() - t


def cpu_times() -> dict[str, int]:
    """Machine-wide CPU time counters (clock ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq",
                     "softirq", "steal"), vals))


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of machine CPU time the hypervisor gave to others between two
    ``cpu_times`` readings: a noisy window shows here."""
    total = sum(after.values()) - sum(before.values())
    return (after["steal"] - before["steal"]) / total if total else 0.0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc on a daemon thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children, fields = _proc_tree()
        return sum(
            int(fields[p][21]) * self._page for p in _descendants(children)
            if p in fields
        )

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
