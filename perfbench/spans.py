"""Spans, Spark counters and process-tree resources for the benchmark.

A span records one call into a layer: name, start, end, parent span
and operation id. Each span runs under its own Spark job group, so
the jobs, stages, tasks and stage metrics Spark's status store holds
for that group belong to exactly that span (read with the UI off).
Spans stay in memory and are written out once, at exit.

Layer calls the benchmark does not make itself (``catalog.load_table``
inside a catalog entry, ``TableStore.write`` inside
``FeatureStore.materialize``) are timed by :meth:`Tracer.wrap`, which
replaces the attribute on its owner with a timing wrapper. Only the
traced run installs wrappers, and while its tracer is disabled (the
untraced passes that measure tracing overhead) they pass calls
straight through.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

#: Spark stage counters summed per span (StageData getter -> key)
STAGE_COUNTERS = {
    "executorCpuTime": "executor_cpu_ns",
    "executorRunTime": "executor_run_ms",
    "jvmGcTime": "jvm_gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "inputBytes": "input_bytes",
}


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end", "counters", "attrs")

    def __init__(self, sid, name, op, parent):
        self.sid, self.name, self.op, self.parent = sid, name, op, parent
        self.start = self.end = 0.0
        self.counters: dict[str, float] = {}
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "op": self.op,
            "parent": self.parent, "start": self.start, "end": self.end,
            "counters": self.counters, **self.attrs,
        }


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a
    pass-through, so the untraced run pays one attribute check."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self.op = None  # current operation id, stamped on new spans
        self._sc = spark.sparkContext

    # ------------------------------------------------------------ spans

    def begin_op(self, name: str) -> None:
        """Spans opened from now on belong to a new operation."""
        self.op = f"{next(self._ops)}:{name}"

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, self.op, parent.sid if parent else None)
        sp.attrs.update(attrs)
        group = f"perfbench-{sp.sid}"
        self._sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._restore_group(parent)
            self._collect(sp, group)
            if parent is not None:
                for k, v in sp.counters.items():
                    parent.counters[k] = parent.counters.get(k, 0) + v
            self.spans.append(sp)

    def _restore_group(self, parent: Span | None) -> None:
        if parent is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)

    def _collect(self, sp: Span, group: str) -> None:
        """Own jobs of ``sp`` (children already ran under their own
        groups) with their stage counters, after the listener bus has
        delivered every event of those jobs to the status store."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        c = sp.counters
        for jid in tracker.getJobIdsForGroup(group):
            c["jobs"] = c.get("jobs", 0) + 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # evicted or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] = c.get("stages", 0) + 1
                c["tasks"] = c.get("tasks", 0) + sd.numTasks()
                for getter, key in STAGE_COUNTERS.items():
                    c[key] = c.get(key, 0) + getattr(sd, getter)()

    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        """Time every call of ``owner.attr`` as a ``name`` span while
        the tracer is enabled; ``post(result, span, args)`` may add
        counters from the call's result."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name) as sp:
                out = fn(*a, **kw)
                if sp is not None and post is not None:
                    post(out, sp, a)
                return out

        setattr(owner, attr, traced)

    # --------------------------------------------------------- analysis

    @staticmethod
    def self_times(spans) -> dict[str, float]:
        """Per span name: total duration minus the part of it that
        child spans cover (children of one span never overlap: the
        benchmark is single-threaded)."""
        covered: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered.get(s.sid, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.as_dict() for s in self.spans], fh)


# ------------------------------------------------------- process tree

_TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, the Python worker
    daemon and its forked workers)."""
    parent: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(parent.get(p, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the process tree: user + system of every live
    process, plus what each has collected from children it reaped."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_pss_mb(root: int | None = None) -> dict[str, float]:
    """Proportional set size of the process tree by process name:
    resident pages, with each page shared between processes (forked
    Python workers) split among them, so the sum counts every page
    once."""
    out: dict[str, float] = {}
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[name] = out.get(name, 0.0) + int(line.split()[1]) / 1024
                        break
        except OSError:
            continue
    return out


class RssSampler:
    """Background sampler of the process tree's resident memory (as
    PSS); the peak of the sum, not the sum of per-process peaks, and
    how that peak split by process name."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_split: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        split = tree_pss_mb()
        if sum(split.values()) > self.peak_mb:
            self.peak_mb, self.peak_split = sum(split.values()), split

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole box since boot: the time
    the hypervisor ran something else on this VM's CPUs, which no
    process here is charged for but which stretches every wall time."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK
