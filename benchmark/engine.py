"""Measurement plumbing: process-tree memory from /proc, Spark engine
counters from the in-process status store, and the span tracer of the
traced run.

Everything here observes the package from outside.  Engine counters are
attributed to a span by job id: the benchmark is a single closed-loop
client, so every job whose id falls in ``[jobs before, jobs after)`` of a
span was submitted while that span was open, including jobs that AQE or a
streaming query submit from their own threads.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import os
import pkgutil
import re
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "business_intelligence_and_data_warehouse_spark"
# package layers whose public functions the traced run wraps; ``plans``
# is timed by the runner itself (construct vs execute)
WRAPPED_LAYERS = ("session", "sources", "etl", "operators", "streaming", "analytics")
MB = 1 << 20


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and every process below it."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM) over the
    driver Python process, the JVM it launched and the Python workers."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

@dataclass
class Job:
    jid: int
    start_ms: int
    end_ms: int
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    peak_mem: int = 0


class EngineProbe:
    """Reads jobs and stages of the live SparkContext over py4j."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()

    def next_job(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def jobs(self, j0: int, j1: int) -> list[Job]:
        """Jobs ``j0 <= id < j1`` with their non-skipped stage metrics,
        after the listener bus has delivered every pending event."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = []
        for jid in range(j0, j1):
            try:
                j = self._store.job(jid)
            except Exception:  # py4j: evicted from the store
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            start = sub.get().getTime() if sub.isDefined() else 0
            end = comp.get().getTime() if comp.isDefined() else start
            rec = Job(jid, start, end)
            sids = j.stageIds()
            for i in range(sids.size()):
                try:
                    s = self._store.lastStageAttempt(sids.apply(i))
                except Exception:  # py4j: stage never submitted
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                rec.stages += 1
                rec.tasks += s.numTasks()
                rec.failed_tasks += s.numFailedTasks()
                rec.run_ms += s.executorRunTime()
                rec.cpu_ns += s.executorCpuTime()
                rec.shuffle_read += s.shuffleReadBytes()
                rec.shuffle_write += s.shuffleWriteBytes()
                rec.spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
                rec.peak_mem = max(rec.peak_mem, s.peakExecutionMemory())
            out.append(rec)
        return out

    def pinned(self) -> tuple[int, float]:
        """(persisted RDD count, their memory + disk MB)."""
        infos = self._jsc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / MB


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def engine_counters(jobs: list[Job], start: float, end: float) -> dict[str, float]:
    """Counters of a span from its jobs; ``start``/``end`` are epoch s."""
    busy = _union_s(
        [
            (max(start, j.start_ms / 1000), min(end, j.end_ms / 1000))
            for j in jobs
            if j.end_ms / 1000 > start and j.start_ms / 1000 < end
        ]
    )
    return {
        "jobs": len(jobs),
        "stages": sum(j.stages for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "failed_tasks": sum(j.failed_tasks for j in jobs),
        "driver_gap_s": max(0.0, (end - start) - busy),
        "executor_run_s": sum(j.run_ms for j in jobs) / 1000,
        "executor_cpu_s": sum(j.cpu_ns for j in jobs) / 1e9,
        "shuffle_read_mb": sum(j.shuffle_read for j in jobs) / MB,
        "shuffle_write_mb": sum(j.shuffle_write for j in jobs) / MB,
        "spill_mb": sum(j.spill for j in jobs) / MB,
        "peak_exec_mem_mb": max((j.peak_mem for j in jobs), default=0) / MB,
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    sid: int
    parent: int | None
    run_id: str
    name: str
    kind: str  # run | pass | operation | layer
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    j0: int = 0
    j1: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``probe`` is None for untraced runs, in
    which case spans are still recorded (they are cheap Python objects)
    but no engine or cache counters are read."""

    def __init__(self, run_id: str, probe: EngineProbe | None) -> None:
        self.run_id = run_id
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self.overhead_s = 0.0  # time spent reading counters

    @contextlib.contextmanager
    def span(self, name: str, kind: str, layer: str, **attrs):
        with self._lock:
            parent = self._stack[-1].sid if self._stack else None
            sp = Span(len(self.spans), parent, self.run_id, name, kind, layer, 0.0, attrs=attrs)
            self.spans.append(sp)
            self._stack.append(sp)
        if self.probe is not None:
            t = time.perf_counter()
            sp.j0 = self.probe.next_job()
            self.overhead_s += time.perf_counter() - t
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.probe is not None:
                t = time.perf_counter()
                sp.j1 = self.probe.next_job()
                self.overhead_s += time.perf_counter() - t
            with self._lock:
                self._stack.remove(sp)

    def attach_engine(self, op: Span) -> None:
        """Read the jobs of operation ``op`` once and attach counters to it
        and to every span below it; also record pinned-cache state."""
        if self.probe is None:
            return
        t = time.perf_counter()
        jobs = self.probe.jobs(op.j0, op.j1)
        for sp in self.subtree(op):
            mine = [j for j in jobs if sp.j0 <= j.jid < sp.j1]
            sp.attrs["engine"] = engine_counters(mine, sp.start, sp.end)
        op.attrs["pinned_rdds"], op.attrs["pinned_mb"] = self.probe.pinned()
        self.overhead_s += time.perf_counter() - t

    def subtree(self, root: Span) -> list[Span]:
        ids, out = {root.sid}, [root]
        for sp in self.spans[root.sid + 1 :]:
            if sp.parent in ids:
                ids.add(sp.sid)
                out.append(sp)
        return out

    def self_times(self, root: Span) -> dict[str, float]:
        """Layer -> self time (duration minus time covered by children)
        over the spans below ``root``."""
        spans = self.subtree(root)
        child = {sp.sid: 0.0 for sp in spans}
        for sp in spans[1:]:
            child[sp.parent] += sp.dur
        out: dict[str, float] = {}
        for sp in spans[1:]:
            out[sp.layer] = out.get(sp.layer, 0.0) + sp.dur - child[sp.sid]
        return out

    def outermost(self, root: Span, layer: str) -> list[Span]:
        """Spans of ``layer`` below ``root`` with no ancestor of the same
        layer (nested calls inside a layer are not counted twice)."""
        by_id = {sp.sid: sp for sp in self.spans}
        out = []
        for sp in self.subtree(root)[1:]:
            if sp.layer != layer:
                continue
            p = by_id.get(sp.parent)
            while p is not None and p.sid != root.sid and p.layer != layer:
                p = by_id.get(p.parent)
            if p is None or p.sid == root.sid:
                out.append(sp)
        return out

    def to_json(self) -> list[dict]:
        return [
            {
                "id": sp.sid, "parent": sp.parent, "run_id": sp.run_id,
                "name": sp.name, "kind": sp.kind, "layer": sp.layer,
                "start": sp.start, "end": sp.end, **sp.attrs,
            }
            for sp in self.spans
        ]


# ---------------------------------------------------------------------------
# wrapping the package's public functions (traced run only)
# ---------------------------------------------------------------------------

_SPARK_ANN = re.compile(r"(?<![\w.])(DataFrame|SparkSession)\b")


def layer_of(module: str, fn_name: str) -> str:
    """``operators.dedup`` style layer name of a package function."""
    parts = module.split(".")[1:]
    if fn_name.startswith("write_") and parts[0] in ("sources", "etl"):
        return "sources.write"
    return ".".join(parts[:2]) if parts[0] in ("operators", "streaming") else parts[0]


def _driver_api(fn) -> bool:
    """Driver-side API functions take or return a Spark DataFrame or
    session; UDF bodies (pandas/Arrow batches) are left alone so nothing
    the workers unpickle ever references the tracer."""
    try:
        sig = inspect.signature(fn)
    except (TypeError, ValueError):
        return False
    anns = [p.annotation for p in sig.parameters.values()] + [sig.return_annotation]
    return any(isinstance(a, str) and _SPARK_ANN.search(a) for a in anns)


def instrument(tracer: Tracer) -> int:
    """Replace every public driver-API function of the wrapped layers, in
    every loaded package module that holds a reference to it, with a
    span-recording wrapper.  Every package module is imported first, so
    calls bound at import time and lazy in-function imports both resolve
    to the wrapper.  Returns how many functions were wrapped."""
    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        importlib.import_module(info.name)
    originals: dict[int, object] = {}
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if not name.startswith(PACKAGE + "."):
            continue
        for attr, fn in list(vars(mod).items()):
            if not inspect.isfunction(fn) or attr.startswith("_"):
                continue
            owner = getattr(fn, "__module__", "") or ""
            top = owner.split(".")[1:2]
            if not owner.startswith(PACKAGE + ".") or not top or top[0] not in WRAPPED_LAYERS:
                continue
            if getattr(fn, "__bench_wrapped__", False) or not _driver_api(fn):
                continue
            wrapped = originals.get(id(fn))
            if wrapped is None:
                wrapped = _wrap(tracer, fn, layer_of(owner, fn.__name__))
                originals[id(fn)] = wrapped
            setattr(mod, attr, wrapped)
    return len(originals)


def _wrap(tracer: Tracer, fn, layer: str):
    label = f"{fn.__module__.split('.', 1)[1]}.{fn.__name__}"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(label, "layer", layer):
            return fn(*args, **kwargs)

    wrapper.__bench_wrapped__ = True
    return wrapper
