"""Traced run: spans and Spark stage metrics around the engine's layers.

The tracer replaces public functions of the ``etl_spark.cdc`` modules
(module or class attributes) with wrappers for the duration of a
``with tracer.installed():`` block and restores them afterwards; the
engine's code is not touched. Each wrapper

- records a span (name, start, end, parent, thread) in memory;
- sets a thread-local Spark job group ``layer:<name>`` while the call
  runs, so jobs started by the pipelined prepare on the replay's pool
  thread are attributed to it, and restores the caller's group after.

``harvest()`` reads the stage metrics of every finished job per group
from the status store (works with the UI off). The store keeps a bounded
number of jobs, so it is called after every batch. Jobs started on
threads the engine creates itself (the duplicate probe inside
``prepare_batch``) carry no group and are not attributed.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

from etl_spark.cdc import changelog, lake, maintain, merge, runner

GROUP_PREFIX = "layer:"


def layer_targets() -> list[tuple[object, str, str]]:
    """(owner, attribute, span name) of every traced public function."""
    T = lake.SnapshotTable
    return [
        (runner, "replay", "runner.replay"),
        (merge, "prepare_batch", "merge.prepare_batch"),
        (merge, "apply_prepared", "merge.apply_prepared"),
        (T, "read_for_merge", "lake.read_for_merge"),
        (lake, "build_file_blooms", "lake.build_file_blooms"),
        (T, "commit", "lake.commit"),
        (T, "read", "lake.read"),
        (T, "lookup", "lake.lookup"),
        (changelog, "read_changelog", "changelog.read_changelog"),
        (maintain, "compact", "maintain.compact"),
        (maintain, "bucket_file_stats", "maintain.bucket_file_stats"),
    ]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str


@dataclass
class GroupStats:
    jobs: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.groups: dict[str, GroupStats] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None   # outermost open span, any thread
        self._seen_jobs: set[int] = set()
        # time spent in the tracer itself (job-group calls, span records,
        # stage-metric harvests): its direct overhead on the traced run
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        """Record a span named ``name`` and run Spark jobs started inside
        it under the job group ``layer:<name>``. The benchmark also opens
        one around a lazy read call plus the action that executes it, so
        the read's Spark work lands in the layer that built the plan."""
        t_enter = time.perf_counter()
        group = GROUP_PREFIX + name
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        sid = next(self._ids)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        stack.append(sid)
        if self._root is None:
            self._root = sid
        start = time.perf_counter()
        enter_s = start - t_enter
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if self._root == sid:
                self._root = None
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, prev_group)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent,
                                       threading.current_thread().name))
                self.groups.setdefault(group, GroupStats())
            if name == "merge.apply_prepared":
                self.harvest()  # once per batch
            with self._lock:
                self.bookkeeping_s += enter_s + time.perf_counter() - end

    def _wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def installed(self):
        saved = []
        try:
            for owner, attr, name in layer_targets():
                fn = getattr(owner, attr)
                saved.append((owner, attr, fn))
                setattr(owner, attr, self._wrap(fn, name))
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)
            self.harvest()

    def harvest(self) -> None:
        """Fold the stage metrics of newly finished jobs into their group."""
        t0 = time.perf_counter()
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        with self._lock:
            groups = list(self.groups)
        for group in groups:
            for jid in st.getJobIdsForGroup(group):
                if jid in self._seen_jobs:
                    continue
                info = st.getJobInfo(jid)
                if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                    continue
                self._seen_jobs.add(jid)
                gs = self.groups[group]
                gs.jobs += 1
                for sid in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue  # evicted from the store, or never ran
                    gs.executor_run_s += sd.executorRunTime() / 1e3
                    gs.executor_cpu_s += sd.executorCpuTime() / 1e9
                    gs.shuffle_read_bytes += sd.shuffleReadBytes()
                    gs.shuffle_write_bytes += sd.shuffleWriteBytes()
                    gs.spill_bytes += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
                    gs.gc_s += sd.jvmGcTime() / 1e3
        with self._lock:
            self.bookkeeping_s += time.perf_counter() - t0

    # --- span arithmetic ----------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            ivs = sorted((max(c.start, s.start), min(c.end, s.end))
                         for c in children.get(s.id, []))
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = (s.end - s.start) - covered
        return out

    def self_s(self, name: str) -> float:
        st = self.self_times()
        return sum(st[s.id] for s in self.spans if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def group(self, name: str) -> GroupStats:
        return self.groups.get(GROUP_PREFIX + name, GroupStats())

    def overlap_frac(self, name: str, other: str) -> float:
        """Share of ``name``'s span time that an ``other`` span covers."""
        mine = [s for s in self.spans if s.name == name]
        theirs = [s for s in self.spans if s.name == other]
        total = sum(s.end - s.start for s in mine)
        ov = sum(max(0.0, min(a.end, b.end) - max(a.start, b.start))
                 for a in mine for b in theirs)
        return ov / total if total > 0 else 0.0

    def gap_p50(self, name: str) -> float:
        """Median driver time between the end of one ``name`` call and
        the start of the next."""
        ss = sorted((s for s in self.spans if s.name == name),
                    key=lambda s: s.start)
        gaps = [b.start - a.end for a, b in zip(ss, ss[1:])]
        return statistics.median(gaps) if gaps else 0.0

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps(header) + "\n")
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")
            for g, gs in sorted(self.groups.items()):
                f.write(json.dumps({"group": g, **asdict(gs)}) + "\n")
