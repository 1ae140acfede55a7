"""In-memory span tracer for the traced mode of the benchmark.

A span is opened by the benchmark around one call into a layer of the
package. It records name, start, end, parent span and run id, and the
Spark engine work done on its behalf: each span runs its calls under its
own Spark job group, so the jobs it started are read back by group from
the JVM status store (which works with the UI off) when it closes. JVM
GC time comes from the GarbageCollector MXBeans.

Spans are only recorded when the benchmark is started with ``--trace 1``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field
from pathlib import Path

_MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # Spark work of the jobs started under this span's own job group
    jobs: int = 0
    tasks: int = 0
    job_sum_s: float = 0.0
    max_over_median_task: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0  # inclusive of child spans

    @property
    def dur(self) -> float:
        return self.end - self.start


class Engine:
    """Reads per-job-group Spark statistics and JVM GC time through py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        q = self.sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def group_stats(self, group: str) -> dict:
        out = dict(jobs=0, tasks=0, job_sum_s=0.0, skew=0.0, shuffle=0, spill=0)
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        for jid in job_ids:
            job = self._store.job(jid)
            out["jobs"] += 1
            out["tasks"] += job.numTasks() - job.numSkippedTasks()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_sum_s"] += (done.get().getTime() - sub.get().getTime()) / 1000.0
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a stage the store no longer holds
                    continue
                if str(st.status()) != "COMPLETE":
                    continue  # skipped stages reuse an earlier shuffle
                out["shuffle"] += st.shuffleWriteBytes()
                out["spill"] += st.diskBytesSpilled()
                summary = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, top = run.apply(0), run.apply(1)
                    if med > 0:
                        out["skew"] = max(out["skew"], top / med)
        return out


class NullTracer:
    """The untraced mode's tracer: spans cost nothing and record nothing."""

    def span(self, name, **attrs):
        return nullcontext()


class Tracer:
    """Collects spans in memory; ``dump`` writes them as JSON."""

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._engine = Engine(spark)
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
            attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}:{sp.id}"
        gc0 = self._engine.gc_s()
        self._sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"{self.run_id}:{parent.id}", parent.name)
            else:
                self._sc._jsc.clearJobGroup()
            st = self._engine.group_stats(group)
            sp.jobs, sp.tasks = st["jobs"], st["tasks"]
            sp.job_sum_s = st["job_sum_s"]
            sp.max_over_median_task = st["skew"]
            sp.shuffle_mb = st["shuffle"] / _MB
            sp.spill_mb = st["spill"] / _MB
            sp.gc_s = self._engine.gc_s() - gc0

    def self_time(self, sp: Span) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == sp.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def children_gc(self, sp: Span) -> float:
        return sum(c.gc_s for c in self.spans if c.parent == sp.id)

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and its descendants: spans are opened on one thread,
        so they are the spans created until the next top-level span."""
        end = next(
            (s.id for s in self.spans[root.id + 1 :] if s.parent is None), len(self.spans)
        )
        return self.spans[root.id : end]

    def dump(self, path: str) -> None:
        rows = []
        for sp in self.spans:
            row = asdict(sp)
            row["self_s"] = self.self_time(sp)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows}, fh, indent=1)


class CheckpointSpans:
    """While entered, wraps the public ``runtime.checkpoint.save``/``load``
    so the checkpoint writes and reads that ``Pipeline.run`` and the corpus
    pipeline make on the benchmark's behalf show as spans (the package
    itself records none)."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.saved: list[str] = []

    def __enter__(self):
        from knetminer_etl_spark.runtime import checkpoint as ck

        self._ck, self._orig = ck, (ck.save, ck.load)
        save, load = self._orig
        tracer = self.tracer

        def traced_save(df, path, *a, **k):
            self.saved.append(str(path))
            with tracer.span("checkpoint.save", stage=Path(str(path)).name.removesuffix(".parquet")):
                return save(df, path, *a, **k)

        def traced_load(source, spark, *a, **k):
            if not isinstance(source, (str, Path)):
                return load(source, spark, *a, **k)
            with tracer.span("checkpoint.load", stage=Path(str(source)).name.removesuffix(".parquet")):
                return load(source, spark, *a, **k)

        ck.save, ck.load = traced_save, traced_load
        return self

    def __exit__(self, *exc):
        self._ck.save, self._ck.load = self._orig
        return False
