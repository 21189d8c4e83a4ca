"""Spans for the traced run, recorded from the benchmark's side of each call.

The tracer wraps public entry points of the engine at run time (nothing in
the engine's package changes), counts py4j round trips by wrapping the py4j
client's ``send_command``, and attributes Spark jobs to a span by the job
ids submitted between its start and its end (the client is one sequential
thread). Spans stay in memory; stage metrics are read from Spark's status
store once, after the listener bus has drained, when the run ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float  # perf_counter
    w0: float  # wall clock, to intersect with Spark job times
    job_lo: int | None
    t1: float = 0.0
    w1: float = 0.0
    job_hi: int | None = None
    py4j_self: int = 0
    tags: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


@dataclass
class JobInfo:
    stage_ids: list[int]
    submit_s: float | None
    end_s: float | None


@dataclass
class StageInfo:
    run_s: float
    tasks: int
    input_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    gc_s: float


class Tracer:
    """In-memory span recorder bound to one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self._scala_sc = spark.sparkContext._jsc.sc()
        self._client = spark.sparkContext._gateway._gateway_client
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[type, str, object]] = []
        self._own_calls = False
        self._orig_send = None
        self.jobs: dict[int, JobInfo] = {}
        self.stages: dict[int, StageInfo] = {}
        self._kids: dict[int | None, list[Span]] = {}
        self._kids_n = 0

    # ---------------------------------------------------------------- spans

    def job_mark(self) -> int:
        """Number of Spark jobs submitted so far (the next job's id)."""
        self._own_calls = True
        try:
            return int(self._scala_sc.dagScheduler().numTotalJobs())
        finally:
            self._own_calls = False

    @contextmanager
    def span(self, name: str, jobs: bool = True, **tags):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(
            len(self.spans), parent, name, time.perf_counter(), time.time(),
            self.job_mark() if jobs else None, tags=dict(tags),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.w1 = time.time()
            if jobs:
                sp.job_hi = self.job_mark()
            self._stack.pop()

    # -------------------------------------------------------------- wrapping

    def wrap(self, cls: type, attr: str, name: str, jobs: bool = True, tag=None) -> None:
        """Replace ``cls.attr`` by a version that runs inside a span named
        ``name``; ``tag(result)`` may add tags from the call's result."""
        orig = cls.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, jobs=jobs) as sp:
                out = orig(*args, **kwargs)
                if tag is not None:
                    sp.tags.update(tag(out))
                return out

        setattr(cls, attr, traced)
        self._patched.append((cls, attr, orig))

    def count_py4j(self) -> None:
        client = self._client
        self._orig_send = client.send_command
        orig = self._orig_send
        tracer = self

        def send_command(*args, **kwargs):
            if not tracer._own_calls and tracer._stack:
                tracer._stack[-1].py4j_self += 1
            return orig(*args, **kwargs)

        client.send_command = send_command

    def uninstall(self) -> None:
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)
        self._patched.clear()
        if self._orig_send is not None:
            del self._client.send_command  # drop the instance attribute
            self._orig_send = None

    # ------------------------------------------------------- Spark metrics

    def collect_spark(self, job_lo: int, job_hi: int) -> None:
        """Read job and stage metrics for jobs ``[job_lo, job_hi)`` after the
        listener bus has recorded every event."""
        sc = self._scala_sc
        self._own_calls = True
        try:
            sc.listenerBus().waitUntilEmpty(60_000)
            store = sc.statusStore()
            for jid in range(job_lo, job_hi):
                try:
                    j = store.job(jid)
                except Py4JJavaError:
                    continue  # evicted from the status store
                seq = j.stageIds()
                sids = [int(seq.apply(i)) for i in range(seq.length())]
                sub, end = j.submissionTime(), j.completionTime()
                self.jobs[jid] = JobInfo(
                    sids,
                    sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    end.get().getTime() / 1000.0 if end.isDefined() else None,
                )
                for sid in sids:
                    if sid in self.stages:
                        continue
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue  # skipped stage: its output was reused
                    self.stages[sid] = StageInfo(
                        st.executorRunTime() / 1000.0,
                        int(st.numCompleteTasks()),
                        int(st.inputBytes()),
                        int(st.shuffleWriteBytes()),
                        int(st.diskBytesSpilled()) + int(st.memoryBytesSpilled()),
                        st.jvmGcTime() / 1000.0,
                    )
        finally:
            self._own_calls = False

    # ------------------------------------------------------------ derived

    def children(self, sp: Span) -> list[Span]:
        if self._kids_n != len(self.spans):  # reindex after new spans
            self._kids = {}
            for s in self.spans:
                self._kids.setdefault(s.parent, []).append(s)
            self._kids_n = len(self.spans)
        return self._kids.get(sp.id, [])

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        ivs = sorted((max(c.t0, sp.t0), min(c.t1, sp.t1)) for c in self.children(sp))
        covered, end = 0.0, sp.t0
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return sp.dur - covered

    def py4j_calls(self, sp: Span) -> int:
        """py4j round trips made inside ``sp`` and its descendants."""
        total, todo = 0, [sp]
        while todo:
            s = todo.pop()
            total += s.py4j_self
            todo.extend(self.children(s))
        return total

    def span_jobs(self, sp: Span) -> list[int]:
        if sp.job_lo is None:
            return []
        return [j for j in range(sp.job_lo, sp.job_hi) if j in self.jobs]

    def span_stages(self, sp: Span) -> list[StageInfo]:
        sids = {sid for j in self.span_jobs(sp) for sid in self.jobs[j].stage_ids}
        return [self.stages[s] for s in sorted(sids) if s in self.stages]

    def driver_time(self, sp: Span) -> float:
        """Span time during which none of its Spark jobs was running."""
        ivs = []
        for j in self.span_jobs(sp):
            info = self.jobs[j]
            if info.submit_s is None:
                continue
            end = info.end_s if info.end_s is not None else sp.w1
            a, b = max(info.submit_s, sp.w0), min(end, sp.w1)
            if b > a:
                ivs.append((a, b))
        covered, last = 0.0, sp.w0
        for a, b in sorted(ivs):
            a = max(a, last)
            if b > a:
                covered += b - a
                last = b
        return max(sp.dur - covered, 0.0)
