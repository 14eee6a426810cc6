"""Layer spans plus Spark's own job, stage and task counters.

A ``Tracer`` opens one span per call into a program layer. Each span
runs under its own Spark job group, so the jobs it launched can be read
back from ``SparkContext.statusTracker()`` and their stages from the
JVM status store once the call returns. Spans are kept in memory and
summarised when the run ends. With ``enabled=False`` a span only yields:
no job group, no counters, no records.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "shuffle_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "run_ms",
    "cpu_ms",
)


@dataclass
class Span:
    name: str
    run_id: int
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.run_id = 0
        self.sc = None

    def bind(self, spark) -> None:
        """Point at a (new) SparkSession; spans already recorded stay.
        Until the first bind, spans record wall time only."""
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.run_id, next(self._ids), parent and parent.span_id,
                  time.perf_counter())
        sc = self.sc
        group = f"perfbench-{sp.span_id}"
        self._stack.append(sp)
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(f"perfbench-{parent.span_id}", parent.name)
                else:
                    sc._jsc.clearJobGroup()
                sp.counters = self._collect(group)
            self.spans.append(sp)

    def _collect(self, group: str) -> dict[str, float]:
        # Listener events arrive asynchronously; drain them before reading.
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        c = dict.fromkeys(COUNTERS, 0.0)
        stages: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage AQE skipped has no attempt
                continue
            c["tasks"] += st.numTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["shuffle_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["input_bytes"] += st.inputBytes()
            c["output_bytes"] += st.outputBytes()
            c["run_ms"] += st.executorRunTime()
            c["cpu_ms"] += st.executorCpuTime() / 1e6
        return c

    def layer_totals(self, since: int = 0) -> dict[str, dict[str, float]]:
        """Per layer, over the spans of runs ``since`` and later: summed
        wall and self time plus summed counters.
        Self time is the span's duration minus the time its child spans
        cover; a parent's counters exclude jobs its children launched,
        because each child runs under its own job group."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            if sp.run_id < since:
                continue
            t = out[sp.name]
            t["calls"] += 1
            t["wall_s"] += sp.end - sp.start
            t["self_s"] += sp.end - sp.start - child_time[sp.span_id]
            for k, v in sp.counters.items():
                t[k] += v
        return {k: dict(v) for k, v in out.items()}

    def records(self) -> list[dict]:
        return [
            {
                "name": sp.name, "run_id": sp.run_id, "span_id": sp.span_id,
                "parent": sp.parent, "start": sp.start, "end": sp.end,
                **sp.counters,
            }
            for sp in self.spans
        ]

    def unbind(self) -> None:
        """Forget the SparkContext (before it is stopped)."""
        self.sc = None
