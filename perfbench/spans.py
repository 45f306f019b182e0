"""Span tracer for the traced run, installed from outside the program.

Every public function of the modules in :data:`TRACED_MODULES` (plus the
registered ``q_*`` builders and the ``_t`` parquet reader of
``__spark_entry__``) is replaced by a wrapper that records a span —
name, start, end, parent span, owning benchmark job — and sets the Spark
job group to the span id, so each Spark job and its stage metrics are
attributed to the innermost open span.  The wrappers are bound into
every module that holds a reference to the original function, before
``__spark_entry__`` is imported, so calls the program makes internally
are covered too.

Spans stay in memory; :meth:`Tracer.dump` writes them once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import time
import types
from dataclasses import dataclass, field

#: modules whose public functions get spans (named ``<module minus package>.<fn>``)
TRACED_MODULES = [
    "gdp_etl_spark.session",
    "gdp_etl_spark.sources",
    "gdp_etl_spark.io",
    "gdp_etl_spark.operators.hierarchy",
    "gdp_etl_spark.operators.closure",
    "gdp_etl_spark.operators.cluster",
    "gdp_etl_spark.operators.graph",
    "gdp_etl_spark.operators.dedup",
    "gdp_etl_spark.operators.similarity",
    "gdp_etl_spark.operators.kmeans",
    "gdp_etl_spark.operators.ann_index",
    "gdp_etl_spark.plans.gdp",
    "gdp_etl_spark.plans.compare",
    "gdp_etl_spark.plans.qa",
    "gdp_etl_spark.plans.corpus",
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    job: str | None
    start: float
    end: float = 0.0
    extra: dict = field(default_factory=dict)


class Tracer:
    """Collects spans; ``span(name)`` is the context manager the
    benchmark's job runner uses, the wrappers use the same path."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.sc = None          # set once the SparkContext exists
        self.job: str | None = None
        self.overhead_s = 0.0   # time spent in the tracer's own bookkeeping
        self._originals: dict = {}

    # ----------------------------------------------------------- spans
    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self.stack[-1].sid if self.stack else None
        sp = Span(len(self.spans), name, parent, self.job, 0.0)
        self.spans.append(sp)
        self.stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sp.sid}", name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self.stack.pop()
        if self.sc is not None:
            if self.stack:
                top = self.stack[-1]
                self.sc.setJobGroup(f"span-{top.sid}", top.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - sp.end

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    # -------------------------------------------------------- wrappers
    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(sp)
                if name == "io.write_single_csv" and len(args) > 1:
                    t0 = time.perf_counter()
                    sp.extra["bytes"] = dir_bytes(str(args[1]))
                    self.overhead_s += time.perf_counter() - t0

        return wrapper

    def install(self) -> None:
        """Wrap the traced modules' public functions and rebind every
        module-level reference to them.  Call before importing
        ``__spark_entry__``; :meth:`install_entry` covers it afterwards."""
        for modname in TRACED_MODULES:
            mod = importlib.import_module(modname)
            short = modname.removeprefix("gdp_etl_spark.")
            for attr, val in list(vars(mod).items()):
                if (isinstance(val, types.FunctionType) and not attr.startswith("_")
                        and val.__module__ == modname):
                    self._originals[val] = self._wrap(val, f"{short}.{attr}")
        self._rebind()

    def install_entry(self, entry_mod) -> None:
        for attr, val in list(vars(entry_mod).items()):
            if isinstance(val, types.FunctionType) and val.__module__ == entry_mod.__name__ \
                    and (attr.startswith("q_") or attr == "_t"):
                self._originals[val] = self._wrap(val, f"entry.{attr}")
        self._rebind()

    def _rebind(self) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("gdp_etl_spark") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                try:
                    wrapped = self._originals.get(val)
                except TypeError:  # unhashable module attribute
                    continue
                if wrapped is not None:
                    setattr(mod, attr, wrapped)

    # ------------------------------------------------------------ dump
    def self_times(self) -> dict:
        """Per span name: calls, total time and self time — a span's
        duration minus the time its child spans cover (spans of one
        thread nest, so the children's durations simply add up)."""
        child_s = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] += sp.end - sp.start
        out: dict = {}
        for sp in self.spans:
            row = out.setdefault(sp.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += sp.end - sp.start
            row["self_s"] += sp.end - sp.start - child_s[sp.sid]
        return out

    def dump(self, path: str, job_records: list[dict]) -> None:
        with open(path, "w") as fh:
            json.dump({
                "spans": [
                    {"id": s.sid, "name": s.name, "parent": s.parent, "job": s.job,
                     "start": s.start, "end": s.end, **s.extra}
                    for s in self.spans
                ],
                "self_time": self.self_times(),
                "spark_jobs": job_records,
            }, fh)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def status_store_jobs(sc) -> list[dict]:
    """Every Spark job the status store still holds, with its job group
    and the summed metrics of its stages (read through py4j; works with
    the UI disabled)."""
    store = sc._jsc.sc().statusStore()
    out = []
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        grp = j.jobGroup()
        rec = {
            "job_id": j.jobId(), "name": j.name(),
            "group": grp.get() if grp.isDefined() else None,
            "tasks": j.numTasks(), "tasks_failed": j.numFailedTasks(),
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "stage_wait_s": 0.0,
        }
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Exception:  # skipped stages are not in the store
                continue
            rec["run_s"] += st.executorRunTime() / 1e3
            rec["cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle_read"] += st.shuffleReadBytes()
            rec["shuffle_write"] += st.shuffleWriteBytes()
            rec["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                rec["stage_wait_s"] += (first.get().getTime() - sub.get().getTime()) / 1e3
        out.append(rec)
    return out
