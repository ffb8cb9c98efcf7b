"""Spans around calls into graft's layers, read from Spark's own status store.

A :class:`Tracer` opens a span with :meth:`Tracer.span`. Each span runs
its Spark jobs under a job group of its own (a fresh id per span, so
counts never accumulate across spans or passes). Once a top-level span
and all its children have closed, the tracer reads each group's job ids
from ``statusTracker`` and, per stage, the last attempt's metrics from
``statusStore().lastStageAttempt``; reading after the tree closes keeps
the lookups out of every span's wall. The status store is a
``private[spark]`` API reached through py4j; a span whose lookup fails
keeps its wall and job count, and the failure is counted.

Spans nest: a child (``checkpoint.save`` inside ``algos.lpa``)
takes its own job group and hands the parent's back when it ends. A
span's counters in the report include its children's, and its
``self_s`` is its wall minus its direct children's walls.

Jobs that run outside the calling thread, such as a streaming query's
micro-batches, carry no job group; the streaming counters come from the
query's own progress reports instead.

With tracing off, :class:`NullTracer` times nothing and sets no job
group.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import statistics
import time
from dataclasses import dataclass, field

# counters summed over the stages of a span (Spark StageData fields)
_STAGE_FIELDS = {
    "tasks_failed": "numFailedTasks",
    "executor_cpu_s": "executorCpuTime",  # ns
    "gc_s": "jvmGcTime",  # ms
    "shuffle_write_bytes": "shuffleWriteBytes",
    "mem_spill": "memoryBytesSpilled",
    "disk_spill": "diskBytesSpilled",
}
_SCALE = {"executor_cpu_s": 1e-9, "gc_s": 1e-3}


@dataclass
class Span:
    name: str
    group: str
    start: float = 0.0
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)

    def total(self, key: str) -> float:
        """This span's counter plus every descendant's."""
        return self.counters.get(key, 0) + sum(c.total(key) for c in self.children)

    def count(self, name: str) -> int:
        """Descendants called ``name``."""
        return sum((c.name == name) + c.count(name) for c in self.children)


def walk(spans):
    """Every span in ``spans`` and below, parents first."""
    for s in spans:
        yield s
        yield from walk(s.children)


class NullTracer:
    """Tracing off: a span is an empty context manager."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    """Records the spans of one pass; ``spans`` holds the top-level ones."""

    enabled = True

    def __init__(self, spark, prefix: str):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._tracker = self._sc._jsc.sc().statusTracker()
        self._ids = itertools.count()
        self._prefix = prefix
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.store_errors = 0

    @property
    def current(self) -> str | None:
        return self._stack[-1].name if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"{self._prefix}-{next(self._ids)}-{name}")
        (parent.children if parent else self.spans).append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                for t in walk([s]):
                    t.counters = self._read_group(t.group)

    def _read_group(self, group: str) -> dict:
        job_ids = list(self._tracker.getJobIdsForGroup(group))
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out.update(jobs=len(job_ids), stages=0)
        try:
            stage_ids = set()
            for jid in job_ids:
                seq = self._store.job(jid).stageIds()
                stage_ids.update(int(seq.apply(i)) for i in range(seq.length()))
            for sid in sorted(stage_ids):
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, attr in _STAGE_FIELDS.items():
                    out[key] += getattr(sd, attr)() * _SCALE.get(key, 1)
        except Exception:  # noqa: BLE001 — private API; keep wall + jobs
            self.store_errors += 1
        out["spill_bytes"] = out.pop("mem_spill") + out.pop("disk_spill")
        return out


# graft functions that the streaming layer calls internally; a traced
# pass wraps them so those calls get spans of their own
_INNER_CALLS = {
    "algos.pagerank": ("graft.algos.pagerank", "pagerank"),
    "algos.leiden": ("graft.algos.leiden", "leiden"),
}


@contextlib.contextmanager
def instrument(tracer):
    """Wrap graft's algorithm entry points in spans for the duration of a
    traced pass. A call made directly inside a span of the same name (the
    benchmark's own span around it) is not wrapped twice."""
    if not tracer.enabled:
        yield
        return
    saved = []
    for name, (mod_name, attr) in _INNER_CALLS.items():
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)

        def wrapped(*a, _fn=fn, _name=name, **kw):
            if tracer.current == _name:
                return _fn(*a, **kw)
            with tracer.span(_name):
                return _fn(*a, **kw)

        saved.append((mod, attr, fn))
        setattr(mod, attr, functools.wraps(fn)(wrapped))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


# --- per-layer report -------------------------------------------------

_BASIC = ("wall_s", "jobs", "stages", "shuffle_write_bytes", "executor_cpu_s")
_ALGO = _BASIC + ("tasks_failed",)
LAYERS = {
    "session.get_spark": ("wall_s",),
    "io.derive": _ALGO,
    "graph.build": _ALGO,
    "algos.pagerank": _ALGO + ("self_s",),
    "algos.lpa": _ALGO + (
        "supersteps", "jobs_per_superstep", "edge_rows_per_s_per_superstep", "self_s",
    ),
    "algos.leiden": _ALGO + ("spill_bytes", "gc_s", "self_s"),
    "checkpoint.save": ("count", "wall_s", "jobs_per_save", "bytes_written"),
    "streaming.drain": (
        "wall_s", "batches", "input_rows", "add_batch_s", "wal_commit_s",
        "state_rows", "state_memory_bytes",
    ),
    "streaming.incremental_pagerank": _BASIC,
    "streaming.incremental_leiden": _BASIC,
    "executor": ("cpu_util",),
    "trace": ("job_s", "untraced_job_s", "overhead_s", "counters_repeat"),
    "passes": ("leaked_caches",),
}
METRIC_NAMES = [f"{span}.{c}" for span, cs in LAYERS.items() for c in cs]
# counters that do not depend on host load: they must repeat pass to pass
REPEATING = ("jobs", "stages", "shuffle_write_bytes", "supersteps", "count",
             "bytes_written", "batches", "input_rows", "state_rows")

UNITS = {"wall_s": "s", "self_s": "s", "executor_cpu_s": "s", "gc_s": "s",
         "add_batch_s": "s", "wal_commit_s": "s", "job_s": "s",
         "untraced_job_s": "s", "overhead_s": "s",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
         "bytes_written": "bytes", "state_memory_bytes": "bytes",
         "edge_rows_per_s_per_superstep": "rows/s", "cpu_util": "frac",
         "counters_repeat": "bool", "jobs_per_superstep": "jobs",
         "jobs_per_save": "jobs"}


def pass_counters(spans, *, wall: float, k: int, extra: dict) -> dict:
    """One traced pass's per-layer counters, summed over every span of a
    name (a layer called twice in a pass reports both calls)."""
    out = dict.fromkeys(METRIC_NAMES, 0.0)
    by_name: dict[str, list[Span]] = {}
    for s in walk(spans):
        by_name.setdefault(s.name, []).append(s)
    for name, ss in by_name.items():
        for c in LAYERS.get(name, ()):
            key = f"{name}.{c}"
            if c == "wall_s":
                out[key] = sum(s.wall_s for s in ss)
            elif c == "self_s":
                out[key] = sum(s.self_s for s in ss)
            elif c == "count":
                out[key] = len(ss)
            elif c in ("jobs", "stages", "shuffle_write_bytes", "executor_cpu_s",
                       "tasks_failed", "spill_bytes", "gc_s"):
                out[key] = sum(s.total(c) for s in ss)
    # a superstep loop checkpoints once per superstep
    loop = by_name.get("algos.lpa", [])
    steps = sum(s.count("checkpoint.save") for s in loop)
    out["algos.lpa.supersteps"] = steps
    if steps:
        out["algos.lpa.jobs_per_superstep"] = out["algos.lpa.jobs"] / steps
        rows = extra.get("lpa_edge_rows", [])
        work = sum(r * s.count("checkpoint.save") for r, s in zip(rows, loop))
        out["algos.lpa.edge_rows_per_s_per_superstep"] = work / max(
            sum(s.wall_s for s in loop), 1e-9
        )
    saves = by_name.get("checkpoint.save", [])
    if saves:
        out["checkpoint.save.jobs_per_save"] = sum(s.total("jobs") for s in saves) / len(saves)
    out["checkpoint.save.bytes_written"] = extra.get("checkpoint_bytes", 0)
    prog = extra.get("progress", [])
    if prog:
        dur = [p.get("durationMs") or {} for p in prog]
        state = (prog[-1].get("stateOperators") or [{}])[0]
        out.update({
            "streaming.drain.batches": len(prog),
            "streaming.drain.input_rows": sum(p.get("numInputRows", 0) for p in prog),
            "streaming.drain.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
            "streaming.drain.wal_commit_s": sum(d.get("walCommit", 0) for d in dur) / 1e3,
            "streaming.drain.state_rows": state.get("numRowsTotal", 0),
            "streaming.drain.state_memory_bytes": state.get("memoryUsedBytes", 0),
        })
    cpu = sum(s.total("executor_cpu_s") for s in spans)
    out["executor.cpu_util"] = cpu / (wall * k)
    return out


def layer_report(traced: list[dict], untraced_walls: list[float],
                 get_spark_s: list[float], leaks: list[int]) -> tuple[dict, list]:
    """Median per-layer counters over the traced passes, plus tracing
    overhead; also returns the counters that did not repeat."""
    rows = [t["counters"] for t in traced]
    out = {m: statistics.median(r[m] for r in rows) for m in METRIC_NAMES}
    unstable = [
        m for m in METRIC_NAMES
        if m.rsplit(".", 1)[1] in REPEATING and len({r[m] for r in rows}) > 1
    ]
    job = statistics.median(t["wall"] for t in traced)
    base = statistics.median(untraced_walls)
    out.update({
        "session.get_spark.wall_s": statistics.median(get_spark_s),
        "trace.job_s": job,
        "trace.untraced_job_s": base,
        "trace.overhead_s": job - base,
        "trace.counters_repeat": float(not unstable),
        "passes.leaked_caches": statistics.median(leaks),
    })
    return out, unstable


def unit(metric: str) -> str:
    return UNITS.get(metric.rsplit(".", 1)[1], "count")
