"""Spans around layer calls, Spark job-group counts, and process-tree RSS.

Spans are recorded only by the benchmark, around its calls into the
package (no span lives inside the program).  Each span runs under its own
Spark job group, so the jobs, stages and tasks it launched are read back
from Spark's in-process status store once the listener bus has drained.
Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0

    def __iadd__(self, other: "Counts") -> "Counts":
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.shuffle_bytes += other.shuffle_bytes
        self.output_bytes += other.output_bytes
        self.output_records += other.output_records
        return self


class JobGroups:
    """Run a block under a fresh Spark job group and count what it ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0
        self._open: list[tuple[str, str]] = []

    @contextlib.contextmanager
    def group(self, label: str):
        """Jobs of a nested group count for it alone, not for its parent."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self._open.append((gid, label))
        self.sc.setJobGroup(gid, label)
        counts = Counts()
        try:
            yield counts
        finally:
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(*self._open[-1])
            else:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)
        counts += self.count(gid)

    def count(self, gid: str) -> Counts:
        # job/stage events reach the status store asynchronously
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = Counts()
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out.jobs += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numTasks()
                out.shuffle_bytes += st.shuffleWriteBytes()
                out.output_bytes += st.outputBytes()
                out.output_records += st.outputRecords()
        return out


@dataclass
class Span:
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    counts: Counts = field(default_factory=Counts)
    values: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  Disabled, every span is a bare ``yield``."""

    def __init__(self, groups: JobGroups, enabled: bool):
        self.groups = groups
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0

    @contextlib.contextmanager
    def span(self, name: str, on: bool = True):
        """Record ``name`` when the tracer is enabled and ``on``; yields a
        dict of values stored with the span."""
        if not (self.enabled and on):
            yield {}
            return
        sp = Span(name, self._stack[-1] if self._stack else None, self.op, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            with self.groups.group(name) as counts:
                yield sp.values
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
        sp.counts = counts

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        out = {i: s.end - s.start for i, s in enumerate(self.spans)}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def busy_s(self, name: str) -> float:
        """Self time of the spans called ``name``, per op that ran one."""
        st = self.self_times()
        hits = [i for i, s in enumerate(self.spans) if s.name == name]
        ops = {self.spans[i].op for i in hits}
        return sum(st[i] for i in hits) / len(ops) if ops else 0.0

    def dump(self, path: str) -> None:
        st = self.self_times()
        rows = []
        for i, s in enumerate(self.spans):
            row = asdict(s)
            row["self_s"] = st[i]
            rows.append(row)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size of one process: its resident pages, each page
    it shares (a forked worker's copy-on-write pages) split among sharers."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited since the listing
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process tree (driver, JVM, Python
    workers): every ``interval_s``, the summed Pss of the processes alive
    in the tree at that moment; the peak is the largest such sum.  One
    sample costs about 13 ms of this process's CPU time, so samples are
    kept sparse."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kids = _children()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            total += _pss_bytes(pid)
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
