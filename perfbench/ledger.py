"""Measurement plumbing: op timing, spans, Spark status-store reads and
peak RSS sampling.

Spark's own job/stage statistics are read over py4j from the
application status store, which is populated with the UI disabled.
Each op runs under its own job group, so the jobs of one op are
``statusTracker().getJobIdsForGroup(op_group)``.  Micro-batch jobs run
on the stream's own thread and never carry the group; streaming ops are
described by ``StreamingQuery.recentProgress`` instead.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_SUMS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_group(spark, group: str, t0_wall: float, t1_wall: float) -> dict:
    """Job, stage and task statistics of one op's job group, plus
    driver-only time: the op's wall time not covered by any job."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_SUMS, 0.0)
    intervals = []
    seen_stages = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        out["stages"] += job.numCompletedStages()
        out["tasks"] += job.numCompletedTasks()
        out["failed_tasks"] += job.numFailedTasks()
        start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if start is not None:
            intervals.append((start, end if end is not None else t1_wall))
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            if str(st.status()) != "COMPLETE":
                continue
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    covered = _union_length(intervals, t0_wall, t1_wall)
    out["driver_only_s"] = max(0.0, (t1_wall - t0_wall) - covered)
    first = min(s for s, _ in intervals) if intervals else t1_wall
    out["first_job_s"] = max(0.0, first - t0_wall)  # driver time before the op's first job
    return out


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out
    once at exit.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # status-store reads made for the trace
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "start": time.perf_counter(), "end": None,
               "parent": parent["id"] if parent else None,
               "op": op_id if op_id is not None else (parent["op"] if parent else None)}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, skip_op: int | None = None) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        direct children, leaving out the spans of op ``skip_op``."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if skip_op is not None and s["op"] == skip_op:
                continue
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)


class RssSampler:
    """Peak summed RSS of this process and every descendant (the Spark
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        rss = process_tree()
        self.peak_bytes = max(self.peak_bytes, sum(rss.values()) * self._page)


def process_tree(root: int | None = None) -> dict[int, int]:
    """pid -> resident pages for ``root`` (default: this process) and
    every descendant, read from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(entry))
        rss[int(entry)] = int(fields[21])
    out, todo = {}, [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return out
