"""Spans around the engine's public calls, for the traced run.

``Tracer.install()`` wraps the calls named below, from this file only;
the engine itself is untouched. Each span records its name, start, end,
parent and the run id, and tags the Spark jobs started inside it with a
job group of its own, so each Spark stage's executor metrics can be
read back from the status store and charged to the span that caused it.
Spans stay in memory until the run ends.

Wrapped calls: ``CdcRunner.apply_batch``; ``merge_into`` as bound in
``cdc.runner``; ``LakeTable.write_data_files`` (split into
``table.write_delta`` and ``table.write_base`` by ``subdir``);
``LakeTable.commit``; ``LakeTable.current``; ``ChangeFeedConsumer.poll``.
The sink ``save()``, the change-feed materialisation, the ``lake_cdf``
read, ``conversation()`` and ``optimize()`` are wrapped where the
workload calls them, with :meth:`Tracer.span`.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def install(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer's own calls

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.run}:{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        t0 = time.perf_counter()
        self._group(s)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(f"{self.run}:{s.id}"))
            self.bookkeeping_s += time.perf_counter() - s.end

    def _wrap(self, owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name_of(args, kwargs)):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from picsure_dictionary_etl_spark.cdc import runner
        from picsure_dictionary_etl_spark.lake.consume import ChangeFeedConsumer
        from picsure_dictionary_etl_spark.lake.table import LakeTable

        def fixed(name):
            return lambda args, kwargs: name

        def write_kind(args, kwargs):
            subdir = kwargs.get("subdir", args[4] if len(args) > 4 else None)
            return "table.write_base" if subdir == "base" else "table.write_delta"

        self._wrap(runner.CdcRunner, "apply_batch", fixed("cdc.apply_batch"))
        self._wrap(runner, "merge_into", fixed("merge.merge_into"))
        self._wrap(LakeTable, "write_data_files", write_kind)
        self._wrap(LakeTable, "commit", fixed("table.commit"))
        self._wrap(LakeTable, "current", fixed("table.current"))
        self._wrap(ChangeFeedConsumer, "poll", fixed("consume.poll"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---------- derived figures ----------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, last = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return span.seconds - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def stages(self, spans: list[Span]) -> list[dict]:
        """Executor metrics of every stage of every job the spans
        started, read from Spark's status store."""
        store = self.sc._jsc.sc().statusStore()
        quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        tracker = self.sc.statusTracker()
        out = []
        for s in spans:
            for job in s.jobs:
                info = tracker.getJobInfo(job)
                for stage_id in info.stageIds if info else []:
                    attempts = store.stageData(int(stage_id), False, None, False, quantiles)
                    for i in range(attempts.size()):
                        d = attempts.apply(i)
                        out.append(
                            {
                                "span": s.name,
                                "job": job,
                                "stage": int(stage_id),
                                "status": d.status().toString(),
                                "tasks": d.numTasks(),
                                "run_s": d.executorRunTime() / 1e3,
                                "cpu_s": d.executorCpuTime() / 1e9,
                                "gc_s": d.jvmGcTime() / 1e3,
                                "shuffle_write_b": d.shuffleWriteBytes(),
                                "shuffle_read_b": d.shuffleReadBytes(),
                                "spill_b": d.diskBytesSpilled(),
                            }
                        )
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "run": s.run,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_seconds(s),
                "jobs": s.jobs,
            }
            for s in self.spans
        ]
