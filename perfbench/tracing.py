"""Spans around the engine's public calls, and Spark counters read from outside.

Used only by the traced run (``--trace 1``). ``Tracer.wrap`` replaces a
module or class attribute with a wrapper that records a span: name, start,
end, parent and a trace id shared by every span of one operation. While a
span is open its thread runs under its own Spark job group, so the Spark
jobs it launches are attributed to it alone; a child span's jobs go to the
child. After the run, ``collect_spark`` reads each group's jobs from the
status tracker and the stage metrics from the status store, which work with
the Spark UI off.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    parent: int | None
    trace: int
    name: str
    phase: str
    start: float = 0.0
    end: float = 0.0
    group: str | None = None
    result: dict = field(default_factory=dict)
    jobs: int = 0
    stages: frozenset = frozenset()

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    """Summed status-store metrics of a set of completed stages."""

    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.sc = None  # set once the SparkContext exists
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._stage_metrics: dict[int, tuple] = {}

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = Span(sid, parent and parent.id, parent.trace if parent else sid, name, self.phase)
        sc = self.sc
        if sc is not None:
            sp.group = f"perfbench-{sid}"
            sc.setLocalProperty(_GROUP, sp.group)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(_GROUP, parent.group if parent else None)
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Record a span around every call of ``owner.attr``; ``after(span,
        args, result)`` may add facts about the call to ``span.result``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
            if after is not None:
                after(sp, args, out)
            return out

        setattr(owner, attr, traced)

    # -- Spark counters ---------------------------------------------------

    def collect_spark(self) -> None:
        """Attach job counts and completed stage ids to every span."""
        sc = self.sc
        tracker = sc.statusTracker()
        for sp in self.spans:
            if sp.group is None:
                continue
            job_ids = tracker.getJobIdsForGroup(sp.group)
            sp.jobs = len(job_ids)
            stage_ids = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            sp.stages = frozenset(stage_ids)
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        it = store.stageList(None, False, False, no_quantiles, None).iterator()
        while it.hasNext():
            s = it.next()
            status = s.status().toString()
            if status == "SKIPPED":
                continue
            prev = self._stage_metrics.get(s.stageId(), (0,) * 8)
            self._stage_metrics[s.stageId()] = (
                prev[0] or int(status == "COMPLETE"),
                prev[1] + s.numCompleteTasks(),
                prev[2] + s.executorRunTime() / 1e3,
                prev[3] + s.executorCpuTime() / 1e9,
                prev[4] + s.shuffleReadBytes(),
                prev[5] + s.shuffleWriteBytes(),
                prev[6] + s.diskBytesSpilled(),
                prev[7] + s.jvmGcTime() / 1e3,
            )

    def stage_totals(self, spans: list[Span]) -> StageTotals:
        ids = set().union(*(sp.stages for sp in spans)) if spans else set()
        rows = [self._stage_metrics[i] for i in ids if i in self._stage_metrics]
        sums = [sum(col) for col in zip(*rows)] if rows else [0] * 8
        return StageTotals(*sums)


def self_seconds(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that its child spans cover."""
    covered, edge = 0.0, span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, edge), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            edge = hi
    return span.seconds - covered


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
