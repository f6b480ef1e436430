"""Spans around the engine's public calls, with each span's Spark jobs.

A :class:`Tracer` records one span per call into a wrapped method:
name, start, end and parent. Each span runs under its own Spark job
group, and the parent's group is restored on exit, so every Spark job is
attributed to the innermost span that launched it. Spans stay in memory;
:meth:`Tracer.harvest` reads the jobs' stage metrics from the status
store once the run is over (this works with ``spark.ui.enabled=false``).

Self time is a span's duration minus the part of it that child spans
cover. ``driver_ms`` is the part of the self time during which none of
the span's own stages ran: the fixed cost a call pays on the driver.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from collections.abc import Callable
from dataclasses import dataclass, field

#: (span name, module under rfb_cnpj_etl_spark, class, method). A method
#: is wrapped on the class and on every subclass that overrides it.
WRAPPED = [
    ("engine.replay", "engine", "CdcEngine", "replay"),
    ("engine.maintain", "engine", "CdcEngine", "maintain"),
    ("engine.state_as_of", "engine", "CdcEngine", "state_as_of"),
    ("engine.checkpoint_feed", "engine", "CdcEngine", "checkpoint_feed"),
    ("merge.merge", "operators.merge", "StateTable", "merge"),
    ("merge.emit_changes", "operators.merge", "StateTable", "_emit_changes"),
    ("store.stage_write", "operators.store", "BucketedParquetStore", "stage_write"),
    ("store.commit_staged", "operators.store", "BucketedParquetStore", "commit_staged"),
    ("store.append_delta", "operators.store", "BucketedParquetStore", "append_delta"),
    ("store.delta_file_counts", "operators.store", "BucketedParquetStore", "delta_file_counts"),
    ("store.compact", "operators.store", "BucketedParquetStore", "compact"),
    ("ivm.advance", "operators.ivm", "IncrementalAggregate", "advance"),
    ("checkpoint.commit", "plans.checkpoint", "Manifest", "commit"),
    ("checkpoint.entries", "plans.checkpoint", "Manifest", "entries"),
    ("dedup.index_ingest", "operators.dedup", "MinhashIndex", "ingest"),
]
#: skipped when the method is absent, so a refactor that drops it loses
#: its span instead of breaking the run
OPTIONAL = {"merge.emit_changes"}

SPANS = [w[0] for w in WRAPPED]

#: spans whose work is mostly Spark jobs; they also report bytes moved.
SPARK_HEAVY = [
    "store.stage_write",
    "store.compact",
    "merge.emit_changes",
    "ivm.advance",
    "engine.state_as_of",
    "dedup.index_ingest",
]

SPAN_METRICS = ["ms", "calls", "jobs", "cpu_ms", "driver_ms"]
HEAVY_METRICS = ["shuffle_write_bytes", "shuffle_stages", "input_bytes", "output_bytes"]


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    #: filled by Tracer.harvest
    jobs: int = 0
    stages: list[dict] = field(default_factory=list)


def _union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[a, b)`` intervals, in the input's unit."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def _subtract(
    base: list[tuple[float, float]], cut: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """``base`` minus the union of ``cut`` (both lists of intervals)."""
    out = []
    for a, b in base:
        pieces = [(a, b)]
        for c, d in sorted(cut):
            nxt = []
            for x, y in pieces:
                if d <= x or c >= y:
                    nxt.append((x, y))
                    continue
                if c > x:
                    nxt.append((x, c))
                if d < y:
                    nxt.append((d, y))
            pieces = nxt
        out.extend(pieces)
    return out


class Tracer:
    """Records spans in memory; one Spark job group per span."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        # a wrapped method calling an overridden or re-wrapped one of the
        # same span (StateTable.compact → BucketedParquetStore.compact)
        # stays one span
        if self._stack and self.spans[self._stack[-1]].name == name:
            yield self.spans[self._stack[-1]]
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, f"perfbench-span-{idx}", parent, time.time())
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self.spans[parent] if parent is not None else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(sp.group, sp.name)

    # -- derived figures -----------------------------------------------

    def self_intervals(self, idx: int) -> list[tuple[float, float]]:
        sp = self.spans[idx]
        kids = [(self.spans[c].start, self.spans[c].end) for c in sp.children]
        return _subtract([(sp.start, sp.end)], kids)

    def self_ms(self, idx: int) -> float:
        return 1000.0 * sum(b - a for a, b in self.self_intervals(idx))

    def driver_ms(self, idx: int) -> float:
        """Self time during which none of this span's own stages ran."""
        own = self.self_intervals(idx)
        ran = [
            (s["submitted"], s["completed"])
            for s in self.spans[idx].stages
            if s["submitted"] is not None and s["completed"] is not None
        ]
        busy = sum(_union(_clip(ran, a, b)) for a, b in own)
        return max(0.0, 1000.0 * (sum(b - a for a, b in own) - busy))

    def top_level(self, t0: float, t1: float) -> list[int]:
        return [
            i
            for i, s in enumerate(self.spans)
            if s.parent is None and s.start >= t0 and s.end <= t1
        ]

    # -- Spark status store --------------------------------------------

    def harvest(self) -> None:
        """Attach each span's jobs and stage metrics, read from the
        status store after the listener bus has drained."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for sp in self.spans:
            sp.stages = []
            jobs = tracker.getJobIdsForGroup(sp.group)
            sp.jobs = len(jobs)
            for j in jobs:
                it = store.job(j).stageIds().iterator()
                while it.hasNext():
                    s = it.next()
                    if s in seen:
                        continue
                    seen.add(s)
                    sp.stages.append(stage_metrics(store, s))

    def failed_tasks(self) -> int:
        return sum(s["failed_tasks"] for sp in self.spans for s in sp.stages)

    def layer_metrics(self, spans: list[int]) -> dict[str, float]:
        """``<span>.<metric>`` totals over the given span indices, for
        every span name in :data:`SPANS` (zero when it never ran)."""
        out: dict[str, float] = {}
        for name in SPANS:
            mine = [i for i in spans if self.spans[i].name == name]
            stages = [s for i in mine for s in self.spans[i].stages]
            out[f"{name}.ms"] = sum(self.self_ms(i) for i in mine)
            out[f"{name}.calls"] = len(mine)
            out[f"{name}.jobs"] = sum(self.spans[i].jobs for i in mine)
            out[f"{name}.cpu_ms"] = sum(s["cpu_ns"] for s in stages) / 1e6
            out[f"{name}.driver_ms"] = sum(self.driver_ms(i) for i in mine)
            if name in SPARK_HEAVY:
                out[f"{name}.shuffle_write_bytes"] = sum(
                    s["shuffle_write_bytes"] for s in stages
                )
                out[f"{name}.shuffle_stages"] = sum(
                    1 for s in stages if s["shuffle_write_bytes"] > 0
                )
                out[f"{name}.input_bytes"] = sum(s["input_bytes"] for s in stages)
                out[f"{name}.output_bytes"] = sum(s["output_bytes"] for s in stages)
        return out

    def within(self, t0: float, t1: float) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.start >= t0 and s.end <= t1]

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_ms": self.self_ms(i),
                "driver_ms": self.driver_ms(i),
                "jobs": s.jobs,
                "stages": s.stages,
            }
            for i, s in enumerate(self.spans)
        ]


class NullTracer:
    """Stand-in for untraced runs: spans cost one context switch."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


def stage_metrics(store, stage_id: int) -> dict:
    sd = store.lastStageAttempt(stage_id)
    sub, comp = sd.submissionTime(), sd.completionTime()
    return {
        "stage": int(stage_id),
        "status": sd.status().toString(),
        "cpu_ns": int(sd.executorCpuTime()),
        "run_ms": int(sd.executorRunTime()),
        "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
        "input_bytes": int(sd.inputBytes()),
        "output_bytes": int(sd.outputBytes()),
        "failed_tasks": int(sd.numFailedTasks()),
        "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
        "completed": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
    }


def install(tracer) -> Callable[[], None]:
    """Wrap every method in :data:`WRAPPED` so each call opens its span.
    Returns a function that restores the originals."""
    saved: list[tuple[type, str, object]] = []

    def wrap(cls, meth: str, name: str) -> None:
        orig = cls.__dict__[meth]

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        saved.append((cls, meth, orig))
        setattr(cls, meth, traced)

    def subclasses(cls):
        for sub in cls.__subclasses__():
            yield sub
            yield from subclasses(sub)

    for name, module, clsname, meth in WRAPPED:
        cls = getattr(importlib.import_module(f"rfb_cnpj_etl_spark.{module}"), clsname)
        if not hasattr(cls, meth):
            if name in OPTIONAL:
                continue
            raise AttributeError(f"{clsname}.{meth} is gone; update WRAPPED")
        for c in [cls, *subclasses(cls)]:
            if meth in c.__dict__:
                wrap(c, meth, name)

    def uninstall() -> None:
        for cls, meth, orig in reversed(saved):
            setattr(cls, meth, orig)

    return uninstall
