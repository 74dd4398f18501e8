"""Span recorder, layer instrumentation, Spark status-store reader and
process sampler.

Spans are recorded only from the benchmark's side: ``instrument`` wraps a
layer's public functions by replacing the module attribute, and also every
other loaded module attribute that is bound to the same function object,
so ``api.exact_knn`` is wrapped as well as ``operators.knn.exact_knn``.
While a span is open its Spark jobs run under a job group of its own
(``sc.setJobGroup``), so the jobs each span started can be read back from
Spark's status store.
"""

from __future__ import annotations

import contextlib
import os
import sys
import threading
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    req: int
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)  # self (own job group) stats

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "parent": self.parent, "req": self.req,
            "name": self.name, "start": self.start, "end": self.end,
            "attrs": self.attrs, "spark": self.spark,
        }


SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "input_records", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes",
)


class Tracer:
    """In-memory span store. ``enabled=False`` makes ``span`` a plain
    timer-free context with no Spark side effects."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_req = 0
        # job groups stay unique even when tracers share a SparkContext
        self._prefix = f"pb-{uuid.uuid4().hex[:8]}-"
        self.reader = StatusReader(sc) if (enabled and sc is not None) else None

    def group(self, s: Span) -> str:
        return f"{self._prefix}{s.sid}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self._open(name, attrs)
        try:
            yield s
        finally:
            self._close(s)

    def _open(self, name: str, attrs: dict) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_req += 1
        s = Span(
            sid=len(self.spans), parent=parent.sid if parent else None,
            req=parent.req if parent else self._next_req, name=name,
            start=time.perf_counter(), attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(self.group(s), name, False)
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        self._stack.pop()
        if self.sc is not None:
            if self._stack:
                p = self._stack[-1]
                self.sc.setJobGroup(self.group(p), p.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        if not self._stack and self.reader is not None:
            # a request ended: read its jobs while the store retains them
            self.reader.fill([x for x in self.spans if x.req == s.req], self.group)


def descendants(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        x = todo.pop()
        out.append(x)
        todo.extend(kids.get(x.sid, ()))
    return out


def union_len(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(spans: list[Span], s: Span) -> float:
    """A span's duration minus the part of it its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == s.sid]
    return (s.end - s.start) - union_len(kids)


# --------------------------------------------------------------------------
# layer instrumentation
# --------------------------------------------------------------------------
def instrument(tracer: Tracer, targets, prefix: str):
    """Wrap each (module, attribute, span name, factory) target; a factory
    ``f(tracer, orig, span_name)`` replaces the plain timing wrapper. Every
    loaded module under ``prefix`` whose attribute is the same function
    object gets the wrapper too. Returns an undo callable."""
    import importlib

    undo = []
    for mod_name, attr, span_name, factory in targets:
        mod = importlib.import_module(mod_name)
        owner_name, _, leaf = attr.rpartition(".")
        owner = getattr(mod, owner_name) if owner_name else mod
        orig = getattr(owner, leaf)
        wrapped = (factory or _wrap)(tracer, orig, span_name)
        sites = [(owner, leaf)]
        if not owner_name:
            sites += [
                (m, leaf) for n, m in list(sys.modules.items())
                if n.startswith(prefix) and m is not mod
                and getattr(m, leaf, None) is orig
            ]
        for o, a in sites:
            setattr(o, a, wrapped)
            undo.append((o, a, orig))

    def restore():
        for o, a, f in reversed(undo):
            setattr(o, a, f)

    return restore


def _wrap(tracer: Tracer, fn, span_name: str):
    import functools

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(span_name):
            return fn(*a, **kw)

    return wrapper


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------
class StatusReader:
    """Reads job, stage and task figures per job group from Spark's status
    store (works with the UI disabled). Each stage is counted once, in the
    first span whose jobs ran it; skipped stages are not counted."""

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._seen: set[int] = set()

    def drain(self) -> None:
        # listener events are applied asynchronously; wait for them
        self._jsc.listenerBus().waitUntilEmpty()

    def group_stats(self, group: str) -> tuple[dict, list[tuple[float, float]]]:
        from py4j.protocol import Py4JError

        store = self._jsc.statusStore()
        st = dict.fromkeys(SPARK_KEYS, 0)
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            st["jobs"] += 1
            ids = store.job(jid).stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JError:  # stage evicted from the store, or never run
                    continue
                if str(sd.status()) != "COMPLETE" or not sd.completionTime().isDefined():
                    continue
                self._seen.add(sid)
                st["stages"] += 1
                st["tasks"] += sd.numCompleteTasks()
                st["executor_run_s"] += sd.executorRunTime() / 1e3
                st["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                st["gc_s"] += sd.jvmGcTime() / 1e3
                st["input_bytes"] += sd.inputBytes()
                st["input_records"] += sd.inputRecords()
                st["output_bytes"] += sd.outputBytes()
                st["shuffle_read_bytes"] += sd.shuffleReadBytes()
                st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                intervals.append((
                    sd.submissionTime().get().getTime() / 1e3,
                    sd.completionTime().get().getTime() / 1e3,
                ))
        return st, intervals

    def fill(self, spans: list[Span], group) -> None:
        self.drain()
        for s in spans:
            st, iv = self.group_stats(group(s))
            s.spark = st
            s.attrs["stage_intervals"] = iv


# --------------------------------------------------------------------------
# processes: CPU per role and peak RSS of the whole tree
# --------------------------------------------------------------------------
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after "comm": state ppid ... utime(11) stime(12) cutime(13)
    # cstime(14) ... rss(21), counted from state = 0
    return {
        "ppid": int(rest[1]),
        "cpu": int(rest[11]) + int(rest[12]),
        "ccpu": int(rest[13]) + int(rest[14]),
        "rss": int(rest[21]) * _PAGE,
    }


def _tree(root: int) -> dict[int, dict]:
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    keep, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in procs and p not in keep:
            keep[p] = procs[p]
            todo.extend(c for c, s in procs.items() if s["ppid"] == p)
    return keep


def cpu_by_role() -> dict[str, float]:
    """CPU seconds so far of this (the driver) Python process, the JVM,
    and the JVM's descendants (Python workers, live or already reaped)."""
    root = os.getpid()
    tree = _tree(root)
    out = {"driver_py": tree[root]["cpu"] / _TICK, "jvm": 0.0, "pyworker": 0.0}
    jvms = [p for p, s in tree.items() if s["ppid"] == root]
    for j in jvms:
        out["jvm"] += tree[j]["cpu"] / _TICK
        for p, s in _tree(j).items():
            if p != j:
                out["pyworker"] += (s["cpu"] + s["ccpu"]) / _TICK
    return out


class RssSampler:
    """Background thread sampling the summed RSS of the process tree every
    quarter second."""

    PERIOD = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(s["rss"] for s in _tree(me).values()))
            self._stop.wait(self.PERIOD)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        return False
