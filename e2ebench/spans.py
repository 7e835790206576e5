"""Spans around the benchmark's calls into each engine layer.

A span records name, start, end, parent span, run id and the batch or
query id it served. While a span is open its id is the Spark job group,
so the jobs and stages Spark ran for it are read back from
``statusTracker`` when it closes, and the input records those stages read
from Spark's status store: the counts come from Spark, not from the
engine's own bookkeeping. Spans stay in memory and are written once,
when the run ends.

A disabled tracer keeps the same call shape and records nothing, so the
untraced runs pay one attribute test per call site.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    op_id: str | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    input_records: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Job groups live on the session's context."""
        self._sc = spark.sparkContext

    def _group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{self.run_id}:{span.span_id}", span.name)

    def open(self, name: str, op_id: str | None = None) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(len(self.spans), name, parent, self.run_id, op_id, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._group(span)
        return span

    def close(self, span: Span | None, **attrs) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        span.attrs.update(attrs)
        if self._sc is not None:
            tracker = self._sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(f"{self.run_id}:{span.span_id}")
            span.jobs = len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for stage in info.stageIds if info is not None else ():
                    span.stages += 1
                    span.input_records += self._input_records(stage)
        if self._stack and self._stack[-1] is span:
            self._stack.pop()
        self._group(self._stack[-1] if self._stack else None)

    def _input_records(self, stage: int) -> int:
        """Records read from storage by every attempt of ``stage``."""
        from py4j.protocol import Py4JJavaError

        store = self._sc._jsc.sc().statusStore()
        try:
            attempts = store.stageData(
                stage,
                False,
                getattr(store, "stageData$default$3")(),
                False,
                getattr(store, "stageData$default$5")(),
            )
        except Py4JJavaError:  # a stage the store no longer holds read nothing we can count
            return 0
        return sum(attempts.apply(k).inputRecords() for k in range(attempts.size()))

    def span(self, name: str, op_id: str | None = None) -> _SpanCtx:
        return _SpanCtx(self, name, op_id)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its children cover.
        Children of one span run one after another on the driver thread,
        so the covered part is the sum of their durations."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.duration
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.duration - child_time[s.span_id]
        return dict(out)

    def layer_table(self) -> dict[str, dict]:
        """Per layer (span name prefix): self time, span count, Spark jobs, stages."""
        selfs = self.self_times()
        table: dict[str, dict] = {}
        for s in self.spans:
            row = table.setdefault(
                s.name.split(".")[0], {"self_s": 0.0, "spans": 0, "jobs": 0, "stages": 0}
            )
            row["spans"] += 1
            row["jobs"] += s.jobs
            row["stages"] += s.stages
        for name, t in selfs.items():
            table[name.split(".")[0]]["self_s"] += t
        return table

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: str | None):
        self.tracer, self.name, self.op_id = tracer, name, op_id
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        self.span = self.tracer.open(self.name, self.op_id)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.close(self.span)
