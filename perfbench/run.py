#!/usr/bin/env python3
"""gdp-etl-spark benchmark: one workload, one process, one client in a
closed loop.

    python3 perfbench/run.py --workload gdp_release --seed 1 --seconds 5 --trace 0

Run from the repository root.  The seed fixes the generated inputs; the
jobs always run in their listed order, and the program only sees the
generated inputs.  Spark runs as ``local[N]`` with N = the number of
usable CPUs and the session's own memory defaults, in a private
warehouse and scratch directory under ``.perfbench_work/``.

Phases: set-up (imports, session start, input generation, one tiny
warm-up job), then the timed loop — whole rounds of the workload's jobs
until ``--seconds`` have passed — then the output checks, outside the
timed region.  With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics of a
traced run (see ``perfbench/README.md``), and the spans are written to
``.perfbench_out/``.  The line before it is a JSON record of the run's
host context, input sizes, sample counts and failures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

import layers
import workloads
from spans import Tracer, dir_bytes, status_store_jobs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------- memory

def process_tree() -> set[int]:
    """This process and its descendants (the JVM and the Python workers),
    minus the JVM's own ``java`` children: a child the JVM spawns shares
    its address space until it execs a helper, and counting it would
    double the JVM."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
            except (OSError, ValueError):
                continue
            comm[int(d)] = head.partition("(")[2]
            children.setdefault(int(tail.split()[1]), []).append(int(d))
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for c in children.get(parent, []):
            if not (comm.get(c) == "java" and comm.get(parent) == "java"):
                tree.add(c)
                frontier.append(c)
    return tree


def tree_pss_mb() -> float:
    """Proportional set size of the process tree, so pages a forked
    Python worker shares with its parent are not counted twice."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def retained_memory(spark) -> dict:
    """What the process tree holds once the JVM has collected its heap
    down to the live data: its proportional set size, minus the free
    part of the JVM's committed heap.

    One full collection is not enough: it clears the weak references
    through which Spark's ContextCleaner learns that a broadcast, shuffle
    or RDD is unused; the cleaner then drops the blocks behind them, and
    only a later collection frees those.  So collect until the live heap
    stops falling.
    After each collection G1 hands freed regions back to the OS in the
    background; poll until the figure settles.  The free part of the heap
    is left out because G1 sizes it at several times the live data, in
    steps that differ from run to run.  What the jobs keep alive (cached
    and persisted RDDs, broadcasts, session state, compiled code) shows;
    garbage, whose amount depends on when the collector last ran, does
    not.  Returns the figure (``retained_mb``) with its parts, in MB."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = float("inf")
    for _ in range(8):
        jvm.System.gc()
        pss = tree_pss_mb()
        for _ in range(20):
            time.sleep(0.1)
            before, pss = pss, tree_pss_mb()
            if before - pss < 1.0:
                break
        usage = heap.getHeapMemoryUsage()
        before, live = live, usage.getUsed()
        if live > 0.99 * before:
            break
    committed, live = usage.getCommitted() / 2**20, live / 2**20
    return {"retained_mb": pss - (committed - live), "pss_mb": pss,
            "heap_committed_mb": committed, "heap_live_mb": live}


def cpu_times() -> list[int]:
    """The machine's CPU time counters (user ... steal) from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: on a shared
    host it shows a slowed run that the load average, which counts only
    this machine's processes, does not."""
    return (end[7] - start[7]) / max(1, sum(end) - sum(start))


# ------------------------------------------------------------------ jobs

class Ctx:
    """What a job's builder and sink see."""

    def __init__(self, spark, entry, seed, work, tracer):
        self.spark, self.entry, self.seed, self.work, self.tracer = \
            spark, entry, seed, work, tracer
        self.reads: set[str] = set()


def record_parquet_reads(ctx) -> None:
    """Note which parquet tables each job reads (for ``rows_per_s``)."""
    from pyspark.sql.readwriter import DataFrameReader

    original = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        ctx.reads.update(os.path.basename(str(p)).removesuffix(".parquet") for p in paths)
        return original(self, *paths, **options)

    DataFrameReader.parquet = parquet


def user_tables(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if not t.isTemporary}


def run_job(ctx, job, job_id: str, warehouse: str) -> dict:
    """One job: builder call, physical planning, sink.  Tables the job
    created are dropped afterwards, so repeats see the same state."""
    tr = ctx.tracer
    span = tr.span if tr else (lambda name: contextlib.nullcontext())
    sc = ctx.spark.sparkContext
    rdds_before = sc._jsc.getPersistentRDDs().size() if tr else 0
    tables_before = user_tables(ctx.spark)
    ctx.reads = set()
    if tr:
        tr.job = job_id
    rec = {"id": job_id, "name": job.name, "error": None, "output": None}
    t0 = time.perf_counter()
    try:
        with span(f"job.{job.name}"):
            with span("build"):
                df = job.build(ctx)
            with span("plan"):
                df._jdf.queryExecution().executedPlan()
            with span("execute"):
                rec["output"] = job.sink(ctx, df)
    except Exception as ex:  # a failed job is counted and named; the run goes on
        rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
    rec["latency_s"] = time.perf_counter() - t0
    rec["reads"] = set(ctx.reads)
    new_tables = user_tables(ctx.spark) - tables_before
    if tr:
        tr.job = None
        rec["table_bytes"] = sum(dir_bytes(os.path.join(warehouse, t)) for t in new_tables)
    for t in new_tables:
        ctx.spark.sql(f"DROP TABLE IF EXISTS {t}")
    if tr:
        rec["leaked_rdds"] = sc._jsc.getPersistentRDDs().size() - rdds_before
    return rec


# ----------------------------------------------------------------- main

def main(argv) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "gdp_etl_spark"))):
        print(f"perfbench: no gdp_etl_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in (os.path.join(work, "local"), os.path.join(work, "warehouse"), out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "local"),
        # spark-submit's launcher JVM: no perf-data file and no temp files
        # outside the checkout
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'local')}",
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    try:
        context, result = run(args, t_start, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


def start_spark(work: str):
    from gdp_etl_spark.session import get_spark

    local = os.path.join(work, "local")
    spark = get_spark(
        "perfbench", master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Duser.timezone=UTC -Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, t_start: float, work: str) -> tuple[dict, dict]:
    import numpy as np

    load_start = os.getloadavg()[0]
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
    import __spark_entry__ as entry
    if tracer:
        tracer.install_entry(entry)

    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    warehouse = os.path.join(work, "warehouse")
    try:
        sc = spark.sparkContext
        if tracer:
            tracer.sc = sc
        ctx = Ctx(spark, entry, args.seed, work, tracer)
        record_parquet_reads(ctx)
        wl = workloads.make(args.workload)
        t0 = time.perf_counter()
        inputs = wl.prepare(ctx)
        t1 = time.perf_counter()
        # the first Spark job of a JVM pays one-off start-up costs; keep
        # them in set-up rather than in the first timed job
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        setup_s = time.perf_counter() - t_start
        setup_parts = {"session_start_s": session_s, "inputs_s": t1 - t0,
                       "warmup_s": time.perf_counter() - t1}

        # timed loop: whole rounds, each in listed order, until --seconds
        # have passed.  A fixed order puts each plan shape's one-off
        # compilation cost on the same job in every run.
        if tracer:
            tracer.overhead_s = 0.0  # count the timed jobs' bookkeeping only
        records, rows_of, rounds, wall, memory = [], {}, 0, 0.0, []
        cpu_start = cpu_times()
        while rounds == 0 or wall < args.seconds:
            t0 = time.perf_counter()
            for job in wl.jobs():
                rec = run_job(ctx, job, str(len(records)), warehouse)
                if job.name not in rows_of:  # computed once per job, from its inputs
                    rows_of[job.name] = job.rows or wl.input_rows(rec["reads"])
                rec["rows"] = rows_of[job.name]
                records.append(rec)
            wall += time.perf_counter() - t0
            rounds += 1
            # outside the timed region: the memory the round leaves behind
            memory.append(retained_memory(spark))
        cpu_end = cpu_times()

        for rec in records:  # output checks, outside the timed region
            if rec["error"] is None:
                try:
                    rec["error"] = wl.check(rec["name"], rec["output"])
                except Exception as ex:  # a crashing check is a failed job
                    rec["error"] = f"check raised {type(ex).__name__}: {ex}"
        failed = [r for r in records if r["error"]]
        lat = np.array([r["latency_s"] for r in records])
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "job_p50_s": (float(np.percentile(lat, 50)), "s"),
            "job_p90_s": (float(np.percentile(lat, 90)), "s"),
            "rows_per_s": (sum(r["rows"] for r in records) / wall, "rows/s"),
            "failed_frac": (len(failed) / len(records), "ratio"),
            "retained_mb": (max(m["retained_mb"] for m in memory), "MB"),
        }
        end_to_end = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": {
                "nproc": len(os.sched_getaffinity(0)), "loadavg_1m_start": load_start,
                "loadavg_1m_end": os.getloadavg()[0],
                "cpu_steal_share": steal_share(cpu_start, cpu_end),
                "spark": spark.version,
                "java": sc._jvm.System.getProperty("java.version"),
            },
            "inputs": inputs, "input_rows_per_job": rows_of, "setup": setup_parts,
            "timed_jobs": len(records), "rounds": rounds, "timed_wall_s": wall,
            "latency_s": [(r["name"], round(r["latency_s"], 4)) for r in records],
            "memory_per_round": memory,
            "failures": [(r["name"], r["error"]) for r in failed],
            "end_to_end": end_to_end,
        }
        if tracer:
            spark_jobs = status_store_jobs(sc)
            metrics = layers.per_layer(tracer, spark_jobs, records, session_s)
            tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"trace-{args.workload}-{args.seed}.json"), spark_jobs)
        else:
            metrics = {k: v for k, v in end_to_end.items() if k != "failed_frac"}
        result = {"correct": not failed, "attempted": len(records),
                  "failed": len(failed), "metrics": metrics}
        return context, result
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
