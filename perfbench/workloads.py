"""The two workloads: their seeded inputs, their jobs and the checks
that every job's output is correct.

A job is one builder call followed by its sink.  ``Job.build`` returns a
DataFrame; ``Job.sink`` forces it and returns what the check reads.  Checks run after the timed
loop, against answers that do not come from Spark: DuckDB oracles for
registered queries, the generator's own totals for the GDP release, and
answers known by construction for the graphs.
"""

from __future__ import annotations

import glob
import math
import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import gen_gdp
import gen_graph
import gen_tables


@dataclass
class Job:
    name: str
    build: Callable
    sink: Callable
    rows: int = 0


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


def _arrow(df):
    return df.toArrow()


# =====================================================================
# registered queries checked against their DuckDB oracles
# =====================================================================

class RegisteredQueries:
    """A fixed list of registered queries over seeded, generated parquet
    tables; each query's output is compared with its
    ``oracle_sql()`` on DuckDB."""

    def __init__(self, queries: list[str], sf: float, n_docs: int, n_vecs: int):
        self.queries, self.sf, self.n_docs, self.n_vecs = queries, sf, n_docs, n_vecs

    def prepare(self, ctx) -> dict:
        self.dir = os.path.join(ctx.work, "tables")
        tables = gen_tables.make_tables(ctx.seed, self.sf, self.n_docs, self.n_vecs)
        self.table_rows = gen_tables.write_tables(tables, self.dir)
        self.entry = ctx.entry
        self._oracle: dict = {}
        return {"tables": self.table_rows}

    def jobs(self) -> list[Job]:
        qs = self.entry.queries()
        return [self._job(q, qs[q]) for q in self.queries]

    def _job(self, name, fn) -> Job:
        return Job(name, lambda ctx: fn(ctx.spark, self.dir), lambda ctx, df: _collect(df))

    def input_rows(self, tables_read: set[str]) -> int:
        return sum(self.table_rows.get(t, 0) for t in tables_read)

    def oracle(self, name):
        if name not in self._oracle:
            import duckdb

            con = duckdb.connect()
            for t in self.table_rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.dir, t)}.parquet'")
            cur = con.execute(self.entry.oracle_sql()[name])
            self._oracle[name] = ([d[0] for d in cur.description], cur.fetchall())
            con.close()
        return self._oracle[name]

    def check(self, name: str, out) -> str | None:
        cols, rows = out
        ocols, orows = self.oracle(name)
        return compare_rows(cols, rows, ocols, orows)


def _cell_key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def compare_rows(cols, rows, ocols, orows) -> str | None:
    """Order-insensitive comparison: same columns by name, same row
    count, equal values (doubles within 1e-9 relative)."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    si = [cols.index(c) for c in sorted(cols)]
    oi = [ocols.index(c) for c in sorted(ocols)]
    norm = lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else v  # noqa: E731
    a = sorted((tuple(norm(r[i]) for i in si) for r in rows), key=_cell_key)
    b = sorted((tuple(norm(r[i]) for i in oi) for r in orows), key=_cell_key)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x == y:
                continue
            if isinstance(x, float) and isinstance(y, (float, int)) \
                    and math.isclose(x, float(y), rel_tol=1e-9, abs_tol=1e-12):
                continue
            return f"value {x!r} != oracle {y!r} in row {ra}"
    return None


# =====================================================================
# gdp_release
# =====================================================================

class GdpReleaseWorkload:
    """One annual release per round, every deliverable one job."""

    QA_JOBS = ["qa_discrepancies", "qa_top_last_year", "qa_missing", "qa_added",
               "qa_deflator_check"]

    def prepare(self, ctx) -> dict:
        self.rel = gen_gdp.GdpRelease(ctx.seed)
        self.inp = os.path.join(ctx.work, "gdp_inputs")
        self.out_root = os.path.join(ctx.work, "gdp_outputs")
        self.releases = 0
        r = self.rel.write(self.inp)
        n_update, n_cmp = len(self.rel.expected_update), len(self.rel.expected_comparison())
        update = sum(r[n] for n in ("unsd_constant", "unsd_current", "growth_rates",
                                    "dim_countries", "labels", "hierarchy", "cpi",
                                    "deflators", "exchange_rates"))
        # input rows per job: the CSV files (inputs or published outputs) it reads
        self.job_rows = {
            "gdp_update": update, "gdp_update_usis": update,
            "gdp_comparison": n_update + r["old_release"] + r["labels"],
            "qa_deflator_check": n_update + r["cpi"] + r["deflators"] + r["exchange_rates"],
            **{name: n_cmp for name in self.QA_JOBS if name != "qa_deflator_check"},
        }
        self._expected_qa = None
        return {"csv_rows": r, "gdp_update_rows": n_update}

    # ---------------------------------------------------------- readers
    def _csv(self, ctx, name, schema_key=None):
        from gdp_etl_spark import sources

        return sources.read_csv(ctx.spark, os.path.join(self.inp, f"{name}.csv"),
                                gen_gdp.CSV_SCHEMAS[schema_key or name])

    def _deflators(self, ctx):
        from gdp_etl_spark.plans import gdp

        return gdp.get_gdp_deflators(self._csv(ctx, "cpi", "usis"),
                                     self._csv(ctx, "deflators", "usis"),
                                     self._csv(ctx, "exchange_rates", "usis"),
                                     target_year=gen_gdp.LAST_YEAR,
                                     base_year=gen_gdp.BASE_YEAR)

    def _published(self, ctx, out, name):
        from gdp_etl_spark import sources

        return sources.read_csv(ctx.spark, os.path.join(out, name),
                                gen_gdp.CSV_SCHEMAS[name])

    # ------------------------------------------------------------- jobs
    def _build_update(self, ctx):
        from pyspark.sql import functions as F

        from gdp_etl_spark.plans import gdp

        fact = gdp.get_unsd_gdp_data(self._csv(ctx, "unsd_constant", "unsd"),
                                     self._csv(ctx, "unsd_current", "unsd"))
        growth_wide = self._csv(ctx, "growth_rates")
        growth = growth_wide.select("UNCTcc", F.col(f"`{growth_wide.columns[-1]}`")
                                    .alias("growth_pct"))
        generic, usis = gdp.run_pipeline(
            fact, self._csv(ctx, "dim_countries"), self._csv(ctx, "labels"),
            self._csv(ctx, "hierarchy"), growth, self._deflators(ctx),
            last_year=gen_gdp.LAST_YEAR, run_date=gen_gdp.RUN_DATE)
        self._usis = usis
        return generic

    def _build_comparison(self, ctx, out):
        from gdp_etl_spark.plans import compare

        return compare.comparison_with_old_release(
            self._published(ctx, out, "gdp_update"), self._csv(ctx, "old_release"),
            self._csv(ctx, "labels"))

    def _build_qa(self, ctx, out, which):
        from gdp_etl_spark.plans import qa

        last = gen_gdp.LAST_YEAR
        if which == "qa_deflator_check":
            defl = self._deflators(ctx).withColumnRenamed("Country_Code", "Economy_Code")
            return qa.deflator_check(self._published(ctx, out, "gdp_update"), defl, last)
        diff = self._published(ctx, out, "gdp_comparison") \
            .withColumnRenamed("Code", "Economy_Code")
        if which == "qa_discrepancies":
            return qa.discrepancies_before_last_year(diff, last)
        if which == "qa_top_last_year":
            return qa.top_discrepancies_last_year(diff, last)
        if which == "qa_missing":
            return qa.missing_values(diff)
        return qa.added_values(diff)

    @staticmethod
    def _write(path):
        def sink(ctx, df):
            from gdp_etl_spark import io

            io.write_single_csv(df, path)
            return path
        return sink

    def jobs(self) -> list[Job]:
        """One release; its deliverables go to a fresh directory so every
        release's files can be checked after the timed loop."""
        out = os.path.join(self.out_root, str(self.releases))
        self.releases += 1
        rows = self.job_rows
        jobs = [
            Job("gdp_update", self._build_update,
                self._write(os.path.join(out, "gdp_update")), rows["gdp_update"]),
            # the USIS layout is the second frame of the same run_pipeline call
            Job("gdp_update_usis", lambda ctx: self._usis,
                self._write(os.path.join(out, "gdp_update_usis")), rows["gdp_update_usis"]),
            Job("gdp_comparison", lambda ctx: self._build_comparison(ctx, out),
                self._write(os.path.join(out, "gdp_comparison")), rows["gdp_comparison"]),
        ]
        qa_jobs = [Job(name, (lambda ctx, w=name: self._build_qa(ctx, out, w)),
                       lambda ctx, df: _collect(df), rows[name])
                   for name in self.QA_JOBS]
        return jobs + qa_jobs

    # ----------------------------------------------------------- checks
    @staticmethod
    def _read_published(path) -> list[dict]:
        name = os.path.basename(path)
        files = glob.glob(os.path.join(path, "part-*.csv"))
        if len(files) != 1:
            raise ValueError(f"{name}: expected one CSV part file, found {len(files)}")
        opts = pacsv.ConvertOptions(strings_can_be_null=True,
                                    column_types={"Economy_Code": "string", "Code": "string",
                                                  "Country": "string", "Measure": "string"})
        return pacsv.read_csv(files[0], convert_options=opts).to_pylist()

    def check(self, name: str, out) -> str | None:
        rel = self.rel
        if name == "gdp_update":
            got = {(r["Economy_Code"], r["Year"], r["Variable"]): r["Value"]
                   for r in self._read_published(out)}
            return _diff_maps(got, rel.expected_update, "gdp_update")
        if name == "gdp_update_usis":
            measure = {"0100": gen_gdp.CURRENT, "0940": gen_gdp.CONSTANT}
            got = {(r["Country"], r["Year"], measure[r["Measure"]]): r["Value"]
                   for r in self._read_published(out)}
            return _diff_maps(got, rel.expected_individual, "usis")
        if name == "gdp_comparison":
            got = {(r["Code"], r["Year"], r["Variable"]): (r["Value_old"], r["Value_new"])
                   for r in self._read_published(out)}
            return _diff_maps(got, rel.expected_comparison(), "comparison")
        if self._expected_qa is None:
            self._expected_qa = rel.expected_qa()
        cols, rows = out
        got = [dict(zip(cols, r)) for r in rows]
        return _compare_qa(name, got, self._expected_qa[name])


def _diff_maps(got: dict, want: dict, what: str) -> str | None:
    if len(got) != len(want) or got.keys() != want.keys():
        extra = sorted(got.keys() - want.keys())[:3]
        missing = sorted(want.keys() - got.keys())[:3]
        return f"{what}: {len(got)} rows, expected {len(want)}; extra {extra} missing {missing}"
    for k, v in want.items():
        if got[k] != v:
            return f"{what}: {k} = {got[k]!r}, expected {v!r}"
    return None


def _compare_qa(name, got: list[dict], want) -> str | None:
    if name == "qa_top_last_year":
        keys = [(r["Economy_Code"], r["Variable"]) for r in got]
    elif name == "qa_deflator_check":
        keys = sorted((r["Economy_Code"], r["Year"]) for r in got)
    else:
        keys = sorted((r["Economy_Code"], r["Variable"], r["Years"]) for r in got)
    if keys != want:
        return f"{name}: {len(keys)} rows {keys[:3]}..., expected {len(want)} rows {want[:3]}..."
    return None


# =====================================================================
# graph_resolve
# =====================================================================

PAGERANK_ITERATIONS = 3
FOREST_DEPTH = 4


class GraphJobs:
    """Graphs above the 100,000-edge driver threshold, so connected
    components and the closure run their distributed loops."""

    def prepare(self, ctx) -> dict:
        import pyarrow as pa

        # 50,500 pairs are 101,000 directed edges once connected_components
        # symmetrizes them: both graphs sit just above driver_threshold
        self.g = gen_graph.pair_graph(ctx.seed, 50_500)
        self.f = gen_graph.deep_forest(ctx.seed, 100_500, FOREST_DEPTH)
        self.rank_nodes, self.ranks = gen_graph.numpy_pagerank(
            self.g["pairs"][:, 0], self.g["pairs"][:, 1], PAGERANK_ITERATIONS)
        self.dir = os.path.join(ctx.work, "graphs")
        os.makedirs(self.dir, exist_ok=True)
        p = self.g["pairs"]
        pq.write_table(pa.table({"id_a": p[:, 0], "id_b": p[:, 1]}),
                       os.path.join(self.dir, "pairs.parquet"))
        pq.write_table(pa.table({"doc_id": self.g["nodes"]}),
                       os.path.join(self.dir, "nodes.parquet"))
        e = self.f["edges"]
        pq.write_table(pa.table({"parent": e[:, 0], "child": e[:, 1]}),
                       os.path.join(self.dir, "edges.parquet"))
        return {"pairs": len(p), "nodes": len(self.g["nodes"]), "components":
                self.g["n_components"], "forest_edges": len(e), "closure_pairs":
                len(self.f["closure"]), "depth": FOREST_DEPTH}

    def _read(self, ctx, name):
        return ctx.spark.read.parquet(os.path.join(self.dir, f"{name}.parquet"))

    def jobs(self) -> list[Job]:
        from gdp_etl_spark.operators import closure, cluster, graph

        n = len(self.g["pairs"])
        return [
            Job("graph_clusters", lambda ctx: cluster.dedup_clusters(
                self._read(ctx, "nodes"), self._read(ctx, "pairs"), "doc_id"),
                lambda ctx, df: _arrow(df), n + len(self.g["nodes"])),
            Job("graph_closure", lambda ctx: closure.transitive_closure(
                self._read(ctx, "edges")), lambda ctx, df: _arrow(df), len(self.f["edges"])),
            Job("graph_pagerank", lambda ctx: graph.pagerank(
                self._read(ctx, "pairs").toDF("src", "dst"), iterations=PAGERANK_ITERATIONS),
                lambda ctx, df: _arrow(df), n),
        ]

    def check(self, name: str, out) -> str | None:
        if name == "graph_clusters":
            t = out.sort_by("doc_id")
            if not np.array_equal(t["doc_id"].to_numpy(), self.g["nodes"]):
                return "graph_clusters: node set differs"
            bad = int((t["cluster_id"].to_numpy() != self.g["labels"]).sum())
            return f"graph_clusters: {bad} nodes in the wrong cluster" if bad else None
        if name == "graph_closure":
            c = np.stack([out["parent"].to_numpy(), out["child"].to_numpy()], axis=1)
            c = c[np.lexsort((c[:, 1], c[:, 0]))]
            if not np.array_equal(c, self.f["closure"]):
                return f"closure: {len(c)} pairs, expected {len(self.f['closure'])}"
            return None
        t = out.sort_by("node")
        if not np.array_equal(t["node"].to_numpy(), self.rank_nodes):
            return "pagerank: node set differs"
        err = np.abs(t["rank"].to_numpy() - self.ranks) / self.ranks
        return f"pagerank: max relative error {err.max():.2e}" if err.max() > 1e-9 else None


class EngineMix:
    """The engine's traffic besides the GDP release: relational registered
    queries over parquet, corpus-curation queries, and graph resolution on
    graphs above the driver threshold."""

    def __init__(self):
        self.queries = RegisteredQueries(WAREHOUSE_QUERIES + CORPUS_QUERIES, sf=0.05,
                                         n_docs=500, n_vecs=500)
        self.graphs = GraphJobs()

    def prepare(self, ctx) -> dict:
        return {**self.queries.prepare(ctx), **self.graphs.prepare(ctx)}

    def jobs(self) -> list[Job]:
        return self.queries.jobs() + self.graphs.jobs()

    def input_rows(self, tables_read: set[str]) -> int:
        return self.queries.input_rows(tables_read)

    def check(self, name: str, out) -> str | None:
        part = self.graphs if name.startswith("graph_") else self.queries
        return part.check(name, out)


#: scans, shuffles and joins: a star join, a correlated minimum, a full-outer diff
WAREHOUSE_QUERIES = ["flagship_revenue", "min_cost_supplier", "diff_classify"]
#: one query per curation layer: plans.corpus, operators.dedup,
#: operators.similarity, operators.kmeans + operators.ann_index
CORPUS_QUERIES = ["corpus_clean", "exact_dedup", "ann_topk", "ivf_index"]


def make(name: str):
    if name == "gdp_release":
        return GdpReleaseWorkload()
    if name == "engine_mix":
        return EngineMix()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ["gdp_release", "engine_mix"]
