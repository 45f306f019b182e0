"""Per-layer metrics of a traced run: each is the mean per timed job.

A layer is a set of spans picked by name (see :data:`LAYERS`).  Its time
is the summed duration of its outermost spans, so a function of the
layer calling another of the same layer is not counted twice; its Spark
jobs are the jobs whose job group is one of its spans or a descendant of
one.  Self time per span name (a span's duration minus what its children
cover) is in the trace file, see ``spans.Tracer.self_times``.
"""

from __future__ import annotations

#: layer -> predicate on the span name
LAYERS = {
    "build": lambda n: n == "build",
    "plan": lambda n: n == "plan",
    "execute": lambda n: n == "execute",
    "sources.read": lambda n: n.startswith("sources.read_csv"),
    "io.read": lambda n: n.startswith("io.load_") or n == "entry._t",
    "io.write": lambda n: n == "io.write_single_csv",
    "plans.gdp.run_pipeline": lambda n: n == "plans.gdp.run_pipeline",
    "plans.gdp.compute_aggregates": lambda n: n == "plans.gdp.compute_aggregates",
    "operators.hierarchy.expand_hierarchy":
        lambda n: n == "operators.hierarchy.expand_hierarchy",
    "plans.compare": lambda n: n.startswith("plans.compare."),
    "plans.qa": lambda n: n.startswith("plans.qa."),
    "plans.corpus": lambda n: n.startswith("plans.corpus."),
    "operators.dedup": lambda n: n.startswith("operators.dedup."),
    "operators.similarity": lambda n: n.startswith("operators.similarity."),
    "operators.kmeans": lambda n: n.startswith("operators.kmeans."),
    "operators.ann_index": lambda n: n.startswith("operators.ann_index."),
    "operators.cluster": lambda n: n.startswith("operators.cluster."),
    "operators.closure": lambda n: n.startswith("operators.closure."),
    "operators.graph.pagerank": lambda n: n == "operators.graph.pagerank",
}

#: (metric, unit, how it is computed) in the order BENCHMARK.json lists them:
#: ("s" | "jobs", layer) sums a layer's time or Spark jobs; ("stage", field)
#: sums a status-store field over the jobs of ``execute`` spans; ("run", key)
#: is a per-run figure computed in :func:`per_layer`.
METRICS = [
    ("session.start_s", "s", ("run", "session")),
    ("build.s", "s", ("s", "build")),
    ("build.jobs", "count", ("jobs", "build")),
    ("build.jobs_share", "ratio", ("run", "build_share")),
    ("plan.s", "s", ("s", "plan")),
    ("execute.s", "s", ("s", "execute")),
    ("execute.jobs", "count", ("jobs", "execute")),
    ("execute.tasks", "count", ("stage", "tasks")),
    ("execute.tasks_failed", "count", ("stage", "tasks_failed")),
    ("execute.stage_wait_s", "s", ("stage", "stage_wait_s")),
    ("execute.executor_run_s", "s", ("stage", "run_s")),
    ("execute.executor_cpu_s", "s", ("stage", "cpu_s")),
    ("execute.jvm_gc_s", "s", ("stage", "gc_s")),
    ("execute.shuffle_read_bytes", "bytes", ("stage", "shuffle_read")),
    ("execute.shuffle_write_bytes", "bytes", ("stage", "shuffle_write")),
    ("execute.spill_bytes", "bytes", ("stage", "spill")),
    ("sources.read_s", "s", ("s", "sources.read")),
    ("sources.read_jobs", "count", ("jobs", "sources.read")),
    ("io.read_s", "s", ("s", "io.read")),
    ("io.read_jobs", "count", ("jobs", "io.read")),
    ("io.write_s", "s", ("s", "io.write")),
    ("io.bytes_written", "bytes", ("run", "csv_bytes")),
    ("plans.gdp.run_pipeline.s", "s", ("s", "plans.gdp.run_pipeline")),
    ("plans.gdp.run_pipeline.jobs", "count", ("jobs", "plans.gdp.run_pipeline")),
    ("plans.gdp.compute_aggregates.s", "s", ("s", "plans.gdp.compute_aggregates")),
    ("plans.gdp.compute_aggregates.jobs", "count", ("jobs", "plans.gdp.compute_aggregates")),
    ("operators.hierarchy.expand_hierarchy.s", "s",
     ("s", "operators.hierarchy.expand_hierarchy")),
    ("operators.hierarchy.expand_hierarchy.jobs", "count",
     ("jobs", "operators.hierarchy.expand_hierarchy")),
    ("plans.compare.s", "s", ("s", "plans.compare")),
    ("plans.qa.s", "s", ("s", "plans.qa")),
    ("plans.corpus.s", "s", ("s", "plans.corpus")),
    ("plans.corpus.jobs", "count", ("jobs", "plans.corpus")),
    ("operators.dedup.s", "s", ("s", "operators.dedup")),
    ("operators.dedup.jobs", "count", ("jobs", "operators.dedup")),
    ("operators.similarity.s", "s", ("s", "operators.similarity")),
    ("operators.kmeans.s", "s", ("s", "operators.kmeans")),
    ("operators.kmeans.jobs", "count", ("jobs", "operators.kmeans")),
    ("operators.ann_index.s", "s", ("s", "operators.ann_index")),
    ("operators.ann_index.jobs", "count", ("jobs", "operators.ann_index")),
    ("operators.ann_index.bytes_written", "bytes", ("run", "table_bytes")),
    ("operators.cluster.s", "s", ("s", "operators.cluster")),
    ("operators.cluster.jobs", "count", ("jobs", "operators.cluster")),
    ("operators.closure.s", "s", ("s", "operators.closure")),
    ("operators.closure.jobs", "count", ("jobs", "operators.closure")),
    ("operators.graph.pagerank.s", "s", ("s", "operators.graph.pagerank")),
    ("operators.graph.pagerank.jobs", "count", ("jobs", "operators.graph.pagerank")),
    ("cache.leaked_rdds", "count", ("run", "leaked_rdds")),
    ("trace.overhead_s", "s", ("run", "overhead")),
]


def per_layer(tracer, spark_jobs: list[dict], records: list[dict], session_s: float) -> dict:
    """Every per-layer metric as ``{"value", "unit"}``, the mean per timed job."""
    spans = tracer.spans
    timed = {r["id"] for r in records}
    n = len(records)
    by_id = {s.sid: s for s in spans}

    def chain(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid].parent

    totals = {("s", k): 0.0 for k in LAYERS} | {("jobs", k): 0 for k in LAYERS}
    for s in spans:
        if s.job not in timed:
            continue
        for layer, pred in LAYERS.items():
            if pred(s.name) and not any(pred(a.name) for a in chain(s.parent)):
                totals["s", layer] += s.end - s.start
    all_jobs = 0
    for j in spark_jobs:
        grp = j["group"] or ""
        if not grp.startswith("span-") or by_id[int(grp[5:])].job not in timed:
            continue
        all_jobs += 1
        names = [a.name for a in chain(int(grp[5:]))]
        for layer, pred in LAYERS.items():
            if any(pred(x) for x in names):
                totals["jobs", layer] += 1
        if "execute" in names:
            for _, _, (kind, field) in METRICS:
                if kind == "stage":
                    totals["stage", field] = totals.get(("stage", field), 0) + j[field]
    totals.update({
        ("run", "session"): session_s * n,  # once per run, not per job
        ("run", "build_share"): totals["jobs", "build"] / all_jobs * n if all_jobs else 0.0,
        ("run", "csv_bytes"): sum(s.extra.get("bytes", 0) for s in spans if s.job in timed),
        ("run", "table_bytes"): sum(r.get("table_bytes", 0) for r in records),
        ("run", "leaked_rdds"): sum(r.get("leaked_rdds", 0) for r in records),
        ("run", "overhead"): tracer.overhead_s,
    })
    return {m: {"value": totals.get(src, 0) / n, "unit": u} for m, u, src in METRICS}
