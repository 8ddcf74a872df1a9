"""Spans around the engine's public functions, plus Spark's own job and
stage metrics per span.

Tracing lives in the benchmark, not the engine: ``Tracer.patch`` swaps a
public function for a timing wrapper in the module that defines it and
in every module that imported it by name. Each span tags the Spark jobs
it launches with its own job group (``sc.setJobGroup``) and restores its
parent's group on exit, so jobs are attributed to the innermost span.
Job and stage metrics come from ``statusTracker()`` and
``statusStore().lastStageAttempt``, which work with the Spark UI off.

Spans stay in memory and are written out once, at the end of the run.
A span records: id, name, start, end, parent id, pass id.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_id: int | None = None
    label: str = ""
    counts: dict[str, float] = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the part of it covered by
    child spans (children of one span never overlap: the benchmark is
    single-threaded)."""
    child_cover: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_cover[s.parent] = child_cover.get(s.parent, 0.0) + (s.end - s.start)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_cover.get(s.id, 0.0)
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.pass_id: int | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    # -- spans ---------------------------------------------------------
    def span(self, name: str, label: str = ""):
        """A span context, or a no-op one while tracing is off."""
        if not self.active:
            return contextlib.nullcontext()
        return self._span(name, label)

    @contextlib.contextmanager
    def _span(self, name: str, label: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next, name, time.perf_counter(), parent=parent, pass_id=self.pass_id, label=label)
        self._next += 1
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), name)
        try:
            yield s
        finally:
            self._close(s)

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            p = self._stack[-1]
            self.sc.setJobGroup(self._group(p), p.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        s.counts.update(self.spark_metrics(self._group(s)))
        self.spans.append(s)

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.id}"

    # -- patching ------------------------------------------------------
    def patch(self, module, attr: str, name: str, on_result=None):
        """Wrap ``module.attr`` in a span named ``name`` wherever it is
        bound: the defining module and every loaded module that imported
        it by name. ``on_result(span, result)`` may add counts."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name) as s:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, result)
                return result

        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not d:
                continue
            for k, v in list(d.items()):
                if v is orig:
                    setattr(mod, k, wrapper)
        return wrapper

    # -- Spark status store --------------------------------------------
    def spark_metrics(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks and summed stage metrics of one job group."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        m = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
             "output_mb", "task_skew"),
            0.0,
        )
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            m["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                m["stages"] += 1
                m["tasks"] += sd.numCompleteTasks()
                m["executor_run_s"] += sd.executorRunTime() / 1e3
                m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                m["gc_s"] += sd.jvmGcTime() / 1e3
                m["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                m["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                m["spill_mb"] += sd.diskBytesSpilled() / MB
                m["input_mb"] += sd.inputBytes() / MB
                m["output_mb"] += sd.outputBytes() / MB
                if sd.numCompleteTasks() >= 2:
                    m["task_skew"] = max(m["task_skew"], self._skew(store, sid, sd.attemptId()))
        return m

    def _skew(self, store, sid: int, attempt: int) -> float:
        """max / median task run time of one stage attempt."""
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        opt = store.taskSummary(sid, attempt, q)
        if not opt.isDefined():
            return 0.0
        rt = opt.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


SPARK_SUMS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
)


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-layer figures of one pass from its spans. Every Spark job sits
    in exactly one span (the innermost open one), so summing the spans'
    job metrics counts each job once."""
    by_id = {s.id: s for s in spans}

    def under(s: Span, name: str) -> bool:
        while s is not None:
            if s.name == name:
                return True
            s = by_id.get(s.parent)
        return False

    def total(name: str, key: str | None = None) -> float:
        return sum(
            (s.counts.get(key, 0.0) if key else s.end - s.start)
            for s in spans if s.name == name
        )

    m = {f"spark.{k}": sum(s.counts.get(k, 0.0) for s in spans) for k in SPARK_SUMS}
    m["spark.task_skew"] = max((s.counts.get("task_skew", 0.0) for s in spans), default=0.0)
    selfs = self_times(spans)
    m.update({
        "catalog.load_tables_calls": float(sum(s.name == "catalog.load_tables" for s in spans)),
        "catalog.load_tables_s": total("catalog.load_tables"),
        "queries.build_s": total("queries.build"),
        "queries.build_self_s": selfs.get("queries.build", 0.0),
        "queries.build_jobs": sum(s.counts.get("jobs", 0.0) for s in spans if under(s, "queries.build")),
        "spark.plan_s": total("spark.plan"),
        "session.blocks_left": total("session.release", "blocks"),
        "quality.file_gate_s": total("quality.file_gate"),
        "sources.read_csv_s": total("sources.read_csv"),
        "sinks.write_s": total("sinks.write"),
        "sinks.bytes_written_mb": sum(s.counts.get("output_mb", 0.0) for s in spans if under(s, "sinks.write")),
        "pipelines.ingest_self_s": selfs.get("pipelines.run_validated_ingest", 0.0),
    })
    return m
