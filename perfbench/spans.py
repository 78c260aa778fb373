"""Spark counters read from outside the program, and the traced run's
spans.

Counters come from the DAGScheduler's job-id counter and the status
store (``sc.statusStore()``, which answers with the UI disabled). Reading
them launches no Spark job. Stage metrics are read only after the
listener bus has drained, so every finished stage is accounted for.

Spans are recorded by wrappers the benchmark installs around the names
each layer's callers bind (for example ``ariadne_spark.index._locate``
rather than ``plans.locate.locate_files``); nothing inside
``ariadne_spark`` is changed. Spans are kept in memory and summarised
when the run ends.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class StageTotals:
    input_b: int = 0
    shuffle_b: int = 0
    task_ms: int = 0
    gc_ms: int = 0

    def add(self, other: "StageTotals") -> None:
        self.input_b += other.input_b
        self.shuffle_b += other.shuffle_b
        self.task_ms += other.task_ms
        self.gc_ms += other.gc_ms


class SparkCounters:
    """Job ids and per-job stage metrics of one SparkContext."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._jobs: dict[int, StageTotals] = {}
        self._stages: dict[int, StageTotals] = {}

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def _stage(self, sid: int) -> StageTotals:
        got = self._stages.get(sid)
        if got is None:
            sd = self._store.stageAttempt(sid, 0, False, None, False, None)._1()
            # shuffle bytes are counted on the write side: every
            # exchange writes once, while a skipped stage re-reads
            got = StageTotals(
                int(sd.inputBytes()),
                int(sd.shuffleWriteBytes()),
                int(sd.executorRunTime()),
                int(sd.jvmGcTime()),
            )
            self._stages[sid] = got
        return got

    def job(self, jid: int) -> StageTotals:
        got = self._jobs.get(jid)
        if got is None:
            got = StageTotals()
            ids = self._store.job(jid).stageIds()
            for i in range(ids.size()):
                got.add(self._stage(int(ids.apply(i))))
            self._jobs[jid] = got
        return got

    def jobs(self, first: int, end: int) -> StageTotals:
        """Totals over job ids ``[first, end)``; call after :meth:`drain`."""
        out = StageTotals()
        for j in range(first, end):
            out.add(self.job(j))
        return out


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    job0: int
    end: float = 0.0
    job1: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Wraps layer entry points; each call becomes one :class:`Span`."""

    def __init__(self, counters: SparkCounters) -> None:
        self.counters = counters
        self.spans: list[Span] = []
        self.op = -1
        # set by the runner: (index, column) -> file -> holds a match,
        # and index name -> files it covers
        self.truth: dict = {}
        self.totals: dict[str, int] = {}
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.
        ``after(span, result, args, kwargs)`` may add attributes."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        raw = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig
        tracer = self

        @functools.wraps(raw)
        def wrapper(*args, **kwargs):
            span = tracer.open(name)
            try:
                result = raw(*args, **kwargs)
            except BaseException as e:
                tracer.spans[span].attrs["raised"] = type(e).__name__
                raise
            finally:
                tracer.close(span)
            if after is not None:
                after(tracer.spans[span], result, args, kwargs)
            return result

        if isinstance(orig, staticmethod):
            wrapper = staticmethod(wrapper)
        elif isinstance(orig, classmethod):
            wrapper = classmethod(wrapper)
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, self.op, parent, time.perf_counter(), self.counters.next_job_id())
        )
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.job1 = self.counters.next_job_id()
        self._stack.pop()

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def self_seconds(self) -> dict[str, float]:
        """Per span name: summed duration minus the time covered by its
        direct children (children of one span never overlap: one
        client thread)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_s[i]
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]
