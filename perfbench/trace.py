"""Span tracer for the traced benchmark run.

A span records (name, start, end, parent). While a span is open, every
Spark job the calling thread starts carries the span's id as its job
group, so ``harvest`` can read the jobs back from Spark's own status
store (``sc._jsc.sc().statusStore()``, populated with the UI off) and
attribute each job's stages to the span that started it.

Layers are traced from outside the program: ``wrap`` replaces a public
function on the object the caller looks it up on (a module attribute or
a dict entry such as ``app.STAGES["1"]``) and ``restore`` puts every
original back. Work that runs in Python workers is counted with Spark
accumulators through ``CountingFn``. ``NullTracer`` has the same span
interface and records nothing, so one code path serves traced and
untraced runs.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# StageData getter -> (stat name, scale to the reported unit)
_STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "executorRunTime": ("executor_run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_records", 1),
    "outputBytes": ("output_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}
STAT_NAMES = ("jobs", "stages", *dict.fromkeys(n for n, _ in _STAGE_FIELDS.values()))


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, done)
    stats: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    marks: dict[str, float] = field(default_factory=dict)  # epoch seconds

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class CountingFn:
    """Adds to a Spark accumulator on every call, then delegates.

    ``batched=True`` counts ``len(first argument)`` (an encoder taking a
    list of texts); otherwise each call counts one (a per-text cleaner).
    Instances are pickled into Python workers with the closure that
    holds them, so the count covers executor-side calls."""

    def __init__(self, fn, acc, batched: bool):
        self.fn, self.acc, self.batched = fn, acc, batched

    def __call__(self, *args, **kwargs):
        self.acc.add(len(args[0]) if self.batched else 1)
        return self.fn(*args, **kwargs)


class NullTracer:
    """Spans that record nothing and tag no job; it keeps no state, so
    one instance serves every caller."""

    active = False

    @property
    def tags(self) -> dict[str, str]:
        return {}  # a fresh dict: writes to it are dropped

    @contextmanager
    def span(self, name: str):
        yield Span("", name, None, 0.0)

    def harvest(self) -> None:
        pass


NULL = NullTracer()


class Tracer:
    active = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self.by_id: dict[str, Span] = {}
        self.tags: dict[str, str] = {}
        self.missing_stages = 0
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._restore: list = []
        # jobs that ran before tracing began belong to no span
        self._seen_jobs: set[int] = set(self._job_ids())
        self._seen_stages: set[int] = set()

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        """Open a span named ``name`` (formatted with ``self.tags``)."""
        s = Span(
            f"trace-{next(self._ids)}",
            name.format(**self.tags),
            self._stack[-1].sid if self._stack else None,
            time.time(),
        )
        self._stack.append(s)
        self.sc.setJobGroup(s.sid, s.name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].sid, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)
            self.by_id[s.sid] = s

    def wrap(self, owner, key, name: str) -> None:
        """Trace calls to ``owner.key`` (or ``owner[key]`` for a dict) as
        spans named ``name``. ``app.STAGES`` entries are (label, fn)
        tuples; the fn is wrapped and the label kept."""
        is_dict = isinstance(owner, dict)
        orig = owner[key] if is_dict else getattr(owner, key)
        fn = orig[1] if isinstance(orig, tuple) else orig

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        new = (orig[0], traced) if isinstance(orig, tuple) else traced
        if is_dict:
            owner[key] = new
            self._restore.append(lambda: owner.__setitem__(key, orig))
        else:
            setattr(owner, key, new)
            self._restore.append(lambda: setattr(owner, key, orig))

    def patch(self, owner, key: str, replacement) -> None:
        """Replace ``owner.key`` with ``replacement(original)``."""
        orig = getattr(owner, key)
        setattr(owner, key, replacement(orig))
        self._restore.append(lambda: setattr(owner, key, orig))

    def restore(self) -> None:
        while self._restore:
            self._restore.pop()()

    # ------------------------------------------------------ status store
    def _jobs(self):
        return self.store.jobsList(self.sc._jvm.java.util.ArrayList())

    def _job_ids(self) -> list[int]:
        it = self._jobs().iterator()
        out = []
        while it.hasNext():
            out.append(it.next().jobId())
        return out

    def harvest(self) -> None:
        """Attribute every finished job not yet seen to its span."""
        it = self._jobs().iterator()
        while it.hasNext():
            job = it.next()
            jid = job.jobId()
            if jid in self._seen_jobs or job.status().toString() == "RUNNING":
                continue
            self._seen_jobs.add(jid)
            group = job.jobGroup()
            span = self.by_id.get(group.get()) if group.isDefined() else None
            if span is None:  # started outside any span
                continue
            submit = job.submissionTime()
            done = job.completionTime()
            if submit.isDefined() and done.isDefined():
                span.jobs.append(
                    (submit.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            span.stats["jobs"] += 1
            ids = job.stageIds().iterator()
            while ids.hasNext():
                self._add_stage(span, ids.next())

    def settle(self, timeout: float = 10.0) -> None:
        """Harvest until the status store stops changing and holds no
        job left unattributed; an asynchronous listener feeds it."""
        deadline = time.time() + timeout
        previous = None
        while True:
            self.harvest()
            ids = set(self._job_ids())
            if (ids <= self._seen_jobs and ids == previous) or time.time() > deadline:
                return
            previous = ids
            time.sleep(0.2)

    def _add_stage(self, span: Span, stage_id: int) -> None:
        """Count a stage once, for the first job that lists it: a later job
        that reuses its shuffle output lists it again."""
        from py4j.protocol import Py4JJavaError

        if stage_id in self._seen_stages:
            return
        self._seen_stages.add(stage_id)
        try:
            st = self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # evicted past spark.ui.retainedStages
            self.missing_stages += 1
            return
        if st.status().toString() == "SKIPPED":
            return
        span.stats["stages"] += 1
        for getter, (name, scale) in _STAGE_FIELDS.items():
            span.stats[name] += getattr(st, getter)() * scale

    # --------------------------------------------------------- queries
    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, root: Span) -> list[Span]:
        kids: dict[str | None, list[Span]] = defaultdict(list)
        for s in self.spans:
            kids[s.parent].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s.sid])
        return out

    def totals(self, root: Span) -> dict[str, float]:
        """Stage stats of ``root`` and every span under it, plus
        ``driver_s``: the part of the span's wall no Spark job covered
        (plan construction, py4j, driver-side Python, scheduling gaps)."""
        spans = self.subtree(root)
        out = {k: 0.0 for k in STAT_NAMES}
        for s in spans:
            for k, v in s.stats.items():
                out[k] += v
        busy, cursor = 0.0, root.start
        for a, b in sorted(j for s in spans for j in s.jobs):
            a, b = max(a, cursor), min(b, root.end)
            if b > a:
                busy += b - a
                cursor = b
        out["driver_s"] = root.wall_s - busy
        return out
