"""Spans, Spark counters and process-tree RSS for the benchmark.

A span wraps one call into a layer of the program, made from the
benchmark's own files. Spans nest through a stack (all calls come from
one client thread), share the run id, and are kept in memory until
`Tracer.write` puts them in a JSON-lines file at the end of the run.

Each span sets its own Spark job group, so the jobs a call ran can be
read back afterwards from `sc.statusTracker()` (job ids per group) and
the application status store (`sc._jsc.sc().statusStore()`: per-stage
executor run time, shuffle bytes, spill, failed tasks, skipped stages).
Counters are resolved once, after the traced work, so reading them adds
nothing to any span's time.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

TRACE_PREFIX = "trace."  # spans of work the tracer itself adds (checkpoints, counts)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = math.nan
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"span-{self.span_id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


_SPARK_KEYS = (
    "jobs",
    "stages_run",
    "stages_skipped",
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.span_id if parent else None, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, f"{self.run_id}:{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"{self.run_id}:{parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.span_id]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        ivs = sorted((max(c.start, s.start), min(c.end, s.end)) for c in self.children(s))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return s.duration - covered

    def resolve_counters(self, extra_groups: dict[int, str] | None = None) -> None:
        """Fill `span.spark` for every span from its job group. A stage
        shared by several jobs (a reused shuffle shows as skipped in the
        later job) is charged once, to the first job that listed it.
        `extra_groups` maps a span id to a job group set by Spark itself
        (a streaming query's run id)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        groups = {s.span_id: s.group for s in self.spans}
        groups.update(extra_groups or {})
        job_owner: dict[int, int] = {}
        for sid, g in groups.items():
            for jid in tracker.getJobIdsForGroup(g):
                job_owner[jid] = sid
        stage_job: dict[int, int] = {}
        for jid in sorted(job_owner):
            info = tracker.getJobInfo(jid)
            for st in info.stageIds if info else ():
                stage_job.setdefault(st, jid)
        for s in self.spans:
            s.spark = dict.fromkeys(_SPARK_KEYS, 0)
        for jid, sid in job_owner.items():
            acc = self.spans[sid].spark
            acc["jobs"] += 1
            try:
                jd = store.job(jid)
                acc["stages_skipped"] += jd.numSkippedStages()
            except Py4JJavaError:
                pass
        for st, jid in stage_job.items():
            acc = self.spans[job_owner[jid]].spark
            try:
                sd = store.lastStageAttempt(st)
            except Py4JJavaError:
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            acc["stages_run"] += 1
            acc["tasks"] += sd.numTasks()
            acc["tasks_failed"] += sd.numFailedTasks()
            acc["executor_run_s"] += sd.executorRunTime() / 1000.0
            acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            acc["shuffle_read_bytes"] += sd.shuffleReadBytes()
            acc["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    def inclusive(self, s: Span, key: str) -> float:
        """Counter summed over the span and its descendants, leaving out
        the tracer's own spans."""
        total = s.spark.get(key, 0)
        for c in self.children(s):
            if not c.name.startswith(TRACE_PREFIX):
                total += self.inclusive(c, key)
        return total

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "run_id": self.run_id,
                    "span_id": s.span_id,
                    "parent": s.parent,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self.self_time(s),
                    **s.attrs,
                    **{f"spark.{k}": v for k, v in s.spark.items()},
                }
                f.write(json.dumps(rec) + "\n")


# ------------------------------------------------------------ process tree

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _resident_bytes(pid: int) -> int:
    """Proportional resident set size: pages shared between processes
    (a JVM's short-lived forked helpers share all of its pages until
    exec) are split among them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_rss(root: int) -> dict[int, int]:
    """pid -> resident bytes for `root` and every descendant."""
    return {pid: _resident_bytes(pid) for pid in [root, *descendants(root)]}


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Background sampler of the peak resident memory of this process and
    all its descendants (Python driver, JVM, Python workers). One sample
    costs ~50 ms of one core (the kernel walks the JVM's page tables for
    the proportional size), hence the 1 s default interval."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}  # process name -> RSS at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss(me)
            total = sum(rss.values())
            if total > self.peak:
                self.peak = total
                parts: dict[str, int] = {}
                for pid, b in rss.items():
                    name = "driver" if pid == me else _comm(pid)
                    parts[name] = parts.get(name, 0) + b
                self.peak_parts = parts
            self._stop.wait(self.interval_s)

    def describe(self) -> str:
        return ", ".join(f"{k} {v / 2**20:.0f} MB" for k, v in sorted(self.peak_parts.items()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest whole percentile that leaves at
    least 10 samples beyond it (nearest rank); the maximum, reported as
    percentile 100, when there are fewer than 11 samples."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100
    p = (100 * (n - 10)) // n
    k = max(1, math.ceil(p * n / 100))
    return s[k - 1], p
