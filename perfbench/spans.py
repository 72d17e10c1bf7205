"""Spans and Spark counters for the traced run, taken from outside the engine.

A span is one timed call into an engine layer: name, start, end, parent
span and run id. Each span that runs Spark jobs tags them with its own
job group; when the span ends its jobs are read back from the status
tracker and the status store (after draining the listener bus) to get
job count, shuffle-write bytes and spill bytes. Spans are kept in memory
and written out by the caller when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    run_id: str
    jobs: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        idx = len(self.spans)
        group = f"{self.run_id}/{idx}/{name}"
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(idx)
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                _read_counters(sc, group, s)
                outer = self._stack[-1] if self._stack else None
                sc.setLocalProperty(
                    "spark.jobGroup.id",
                    None if outer is None else f"{self.run_id}/{outer}/{self.spans[outer].name}",
                )

    def self_time(self, idx: int) -> float:
        """Duration minus the time its (sequential) child spans cover."""
        children = sum(s.duration for s in self.spans if s.parent == idx)
        return self.spans[idx].duration - children

    def total(self, name: str, field: str = "self") -> float:
        """Sum over every span called ``name`` of its self time or a counter."""
        out = 0.0
        for i, s in enumerate(self.spans):
            if s.name == name:
                out += self.self_time(i) if field == "self" else getattr(s, field)
        return out

    def records(self) -> list[dict]:
        return [asdict(s) | {"self_s": self.self_time(i)} for i, s in enumerate(self.spans)]


def _read_counters(sc, group: str, span: Span) -> None:
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in job_ids:
        seq = store.job(j).stageIds()
        stages.update(seq.apply(i) for i in range(seq.size()))
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stage: never attempted
            continue
        span.shuffle_write_bytes += st.shuffleWriteBytes()
        span.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
    span.jobs = len(job_ids)
