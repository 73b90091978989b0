"""Measurement helpers: spans, Spark status-store reads and process-tree RSS.

Everything here reads state the program already keeps; nothing submits a
Spark job. Job and stage data come from the in-process status store
(``setJobGroup``, ``statusTracker``, ``statusStore().lastStageAttempt``),
which is filled with ``spark.ui.enabled=false`` too.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans. Each span records its name, start, end, the span
    that caused it and a trace id shared by the spans of one operation."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if not trace and parent is not None:
            trace = self.spans[parent].trace
        s = Span(name, time.perf_counter(), 0.0, parent, trace, dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "trace": s.trace, **({"attrs": s.attrs} if s.attrs else {})}
            for i, s in enumerate(self.spans)
        ]


# ------------------------------------------------------------ status store


@dataclass
class StageStats:
    stage_id: int
    status: str
    executor_run_ms: int
    shuffle_write_b: int
    spill_b: int
    output_b: int
    task_ms_p50: float = 0.0
    task_ms_max: float = 0.0


@dataclass
class JobStats:
    job_id: int
    start_ms: int
    end_ms: int
    stages: list[StageStats]


def sum_stages(jobs: list[JobStats], attr: str) -> int:
    return sum(getattr(s, attr) for j in jobs for s in j.stages)


def ran_stages(jobs: list[JobStats]) -> list[StageStats]:
    return [s for j in jobs for s in j.stages if s.status != "SKIPPED"]


def split_at_watermark(job_ids, watermark: int) -> tuple[list[int], list[int]]:
    """(build, exec) job ids: a job whose id is at or below the watermark
    (the highest job id of the group when the query's DataFrame was
    returned) ran while the query was being built."""
    ids = sorted(job_ids)
    return [j for j in ids if j <= watermark], [j for j in ids if j > watermark]


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusCollector:
    """Reads jobs and stages of a job group from the status store.

    The store is filled by an asynchronous listener, so every read first
    waits for the listener bus to drain. ``self_seconds`` accumulates the
    time spent in this collector, which is the tracing overhead."""

    QUANTILES = (0.5, 1.0)

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self.sc.statusTracker()
        self.self_seconds = 0.0

    @contextmanager
    def _timed(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.self_seconds += time.perf_counter() - t0

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def job_ids(self, group: str) -> list[int]:
        with self._timed():
            self._bus.waitUntilEmpty()
            return sorted(self._tracker.getJobIdsForGroup(group))

    def watermark(self, group: str) -> int:
        ids = self.job_ids(group)
        return ids[-1] if ids else -1

    def jobs(self, ids: list[int], quantiles: bool = False) -> list[JobStats]:
        with self._timed():
            self._bus.waitUntilEmpty()
            return [self._job(j, quantiles) for j in ids]

    def _job(self, job_id: int, quantiles: bool) -> JobStats:
        jd = self._store.job(job_id)
        start = jd.submissionTime().get().getTime()
        end = jd.completionTime().get().getTime() if jd.completionTime().isDefined() else start
        info = self._tracker.getJobInfo(job_id)
        stages = [self._stage(s, quantiles) for s in info.stageIds] if info else []
        return JobStats(job_id, start, end, stages)

    def _stage(self, stage_id: int, quantiles: bool) -> StageStats:
        sd = self._store.lastStageAttempt(stage_id)
        st = StageStats(
            stage_id,
            sd.status().toString(),
            sd.executorRunTime(),
            sd.shuffleWriteBytes(),
            sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            sd.outputBytes(),
        )
        if quantiles and st.status != "SKIPPED":
            gw = self.sc._gateway
            arr = gw.new_array(gw.jvm.double, len(self.QUANTILES))
            for i, q in enumerate(self.QUANTILES):
                arr[i] = q
            summary = self._store.taskSummary(stage_id, sd.attemptId(), arr)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                st.task_ms_p50, st.task_ms_max = run.apply(0), run.apply(1)
        return st


# ----------------------------------------------------------- process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its
    descendants, including descendants that have exited and been reaped."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def host_cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the whole machine so far, from /proc/stat:
    time the hypervisor gave to other guests while this one wanted to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def tree_rss_bytes(root: int, jvm: int) -> dict[str, int]:
    """Resident set of the JVM ``jvm`` and the summed resident set of the
    Python processes in ``root``'s tree (``root`` itself and its Python
    workers). Other descendants are short-lived helpers the JVM spawns; one
    caught before its exec still shares the JVM's pages, so it is skipped."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = {"jvm": 0, "python": 0}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        if pid == jvm:
            total["jvm"] += rss
        elif pid == root or comm.startswith("python"):
            total["python"] += rss
    return total


class RssSampler:
    """Samples the RSS of this process tree (driver Python, the JVM and its
    Python workers) on a background thread and keeps the peaks of the
    total, of the JVM and of the Python processes. It also records the
    machine's CPU steal over its lifetime, to tell host noise from a slower
    program."""

    INTERVAL_S = 0.25

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            rss = tree_rss_bytes(root, self.jvm_pid)
            rss["total"] = rss["jvm"] + rss["python"]
            for k, v in rss.items():
                self.peak[k] = max(self.peak[k], v)
            if self._stop.wait(self.INTERVAL_S):
                return

    def record(self, r) -> None:
        """Peaks into a result: the Python processes' peak is the end-to-end
        metric; the JVM's peak moves with its garbage collector's timing, so
        it and the total are per-layer figures."""
        mb = {k: v / 2**20 for k, v in self.peak.items()}
        r.metrics["py_peak_rss_mb"] = (mb["python"], "MB")
        r.metrics["mem.peak_rss_mb"] = (mb["total"], "MB")
        r.metrics["mem.jvm_peak_rss_mb"] = (mb["jvm"], "MB")
        r.report.append(f"host CPU steal while timed: {self.steal_ratio:.1%} of machine CPU time")

    def __enter__(self) -> "RssSampler":
        self._steal0 = host_cpu_jiffies()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        stolen, total = (b - a for a, b in zip(self._steal0, host_cpu_jiffies()))
        self.steal_ratio = stolen / max(total, 1)
        self._stop.set()
        self._thread.join(timeout=10)
