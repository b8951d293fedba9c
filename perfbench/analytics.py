"""Workload ``analytics_sf0.1``: one closed-loop client runs the nine
B-queries through their registry DataFrame builders.

b1..b9 = q07, q22, q05, q10, q18, q28, q25, q26, q04, each pass in a
seed-shuffled order, over a generated fixture of the sf0.1 size, under
``get_spark()``'s engine defaults (AQE on). Each query gets a fresh plan
from its unmemoized module-level builder (the memoized
``REGISTRY[...].build`` would re-serve an already-executed plan) and its
result is fetched in full and compared with DuckDB running the query's
oracle SQL over the same files.

op1 = the median wall of one pass over b1..b9; op2 = the geometric mean
over b1..b9 of each query's median wall, so a slowdown of any single
query moves it.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import harness
from perfbench.fixture import write_fixture
from perfbench.trace import NULL

SCALE = 1  # x sf0.1 row counts
WARMUP_PASSES = 1  # pays the JVM's first-call costs
MIN_PASSES = 2
CONTROL_REPEATS = 3
B_QUERIES = {
    "b1": ("relational", "q07"),
    "b2": ("relational", "q22"),
    "b3": ("relational", "q05"),
    "b4": ("relational", "q10"),
    "b5": ("relational", "q18"),
    "b6": ("extensions", "q28"),
    "b7": ("extensions", "q25"),
    "b8": ("extensions", "q26"),
    "b9": ("relational", "q04"),
}


def _builder(b: str):
    import importlib

    module, name = B_QUERIES[b]
    return getattr(importlib.import_module(f"kfai_pipeline_spark.queries.{module}"), name)


class Analytics:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "fixture")
        self.rng = random.Random(f"analytics:{ctx.seed}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.oracle: dict[str, tuple] = {}
        self.layers: dict[str, float] = {}

    # ------------------------------------------------------------ setup
    def setup(self, tracer=NULL) -> None:
        """Fixture, catalog, oracle results and a warm-up pass. The
        analytics set-up is never traced, so ``tracer`` is unused."""
        import duckdb

        from kfai_pipeline_spark import catalog
        from kfai_pipeline_spark.queries import oracle_queries

        t = time.perf_counter()
        write_fixture(self.sf_dir, self.ctx.seed, SCALE)
        self.layers["setup.inputs_s"] = time.perf_counter() - t

        t = time.perf_counter()
        catalog.register_views(self.ctx.spark, self.sf_dir)
        self.layers["catalog.register_s"] = time.perf_counter() - t

        self.duck = duckdb.connect()
        self.duck.execute(f"SET threads={harness.nproc()}")
        for name in catalog.TABLES:
            path = catalog.table_path(self.sf_dir, name)
            self.duck.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        sqls = oracle_queries()
        self.oracle_sql = {b: sqls[q] for b, (_, q) in B_QUERIES.items()}
        for b, sql in self.oracle_sql.items():
            rel = self.duck.sql(sql)
            self.oracle[b] = harness.canonical(rel.columns, rel.fetchall())

        t = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            self.run_pass()
        self.layers["setup.warmup_s"] = time.perf_counter() - t

    # ---------------------------------------------------------- measure
    def run_query(self, b: str, tracer) -> float:
        """Build, fetch and check one query; returns its wall time."""
        spark, builder = self.ctx.spark, _builder(b)
        self.attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span(f"queries.{b}"):
                with tracer.span(f"queries.{b}.build"):
                    df = builder(spark, self.sf_dir)
                with tracer.span(f"queries.{b}.collect"):
                    rows = df.collect()
            wall = time.perf_counter() - t
            if harness.canonical(df.columns, rows) != self.oracle[b]:
                raise AssertionError(f"{b}: result differs from the DuckDB oracle")
        except Exception as e:  # noqa: BLE001 - every failure counts against the run
            self.failed += 1
            self.errors.append(f"{b}: {type(e).__name__}: {e}"[:300])
            return time.perf_counter() - t
        return wall

    def run_pass(self, tracer=NULL) -> tuple[float, dict[str, float]]:
        """One pass in a seed-shuffled order; its wall and each query's."""
        order = list(B_QUERIES)
        self.rng.shuffle(order)
        t = time.perf_counter()
        with tracer.span("analytics.pass"):
            per_query = {b: self.run_query(b, tracer) for b in order}
        wall = time.perf_counter() - t
        tracer.harvest()
        return wall, per_query

    @staticmethod
    def _record(out: dict, wall: float, per_query: dict[str, float]) -> None:
        out["passes"].append(wall)
        for b, w in per_query.items():
            out["queries"].setdefault(b, []).append(w)

    def measure(self, seconds: float) -> dict:
        out = {"passes": [], "queries": {}}
        deadline = harness.Deadline(seconds, MIN_PASSES)
        while deadline.more(len(out["passes"])):
            self._record(out, *self.run_pass())
        return out

    # ---------------------------------------------------------- results
    @staticmethod
    def op_values(walls) -> tuple[float, float]:
        return harness.median(walls["passes"]), harness.gmean_of_medians(walls["queries"])

    def agreement(self) -> float:
        """Share of query runs whose result equals the oracle's."""
        return (self.attempted - self.failed) / self.attempted

    def summary(self, walls) -> dict[str, tuple[float, str]]:
        suite, query = self.op_values(walls)
        out = {
            "analytics_suite_s": (suite, "s"),
            "analytics_query_gmean_s": (query, "s"),
            "analytics_passes": (len(walls["passes"]), "count"),
        }
        for b in B_QUERIES:
            out[f"analytics.{b}_s"] = (harness.median(walls["queries"][b]), "s")
        return out

    def traced(self, seconds: float, tracer):
        """Untraced and traced passes in ABBA order, so JIT warm-up still
        under way favours neither side. Returns the per-layer report
        (named after the modules measured) and, per op, its traced span
        totals and the tracing overhead: the op's value over the traced
        passes minus its value over the untraced ones."""
        plain = {"passes": [], "queries": {}}
        walls = {"passes": [], "queries": {}}
        deadline = harness.Deadline(2 * seconds, 4)
        n = 0
        while deadline.more(n):  # untraced, traced, traced, untraced, ...
            out, tr = (walls, tracer) if n % 4 in (1, 2) else (plain, NULL)
            self._record(out, *self.run_pass(tr))
            n += 1
        tracer.settle()

        control = []
        for _ in range(CONTROL_REPEATS):
            t = time.perf_counter()
            for sql in self.oracle_sql.values():
                self.duck.sql(sql).fetchall()
            control.append(time.perf_counter() - t)

        rep: dict[str, tuple[float, str]] = {
            "catalog.register_s": (self.layers["catalog.register_s"], "s"),
            "control.duckdb_suite_s": (harness.median(control), "s"),
        }
        pass_spans = tracer.find("analytics.pass")
        pass_totals = [tracer.totals(s) for s in pass_spans]
        for key, unit in (("jobs", "count"), ("tasks", "count"), ("gc_s", "s"),
                          ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
                          ("input_records", "count")):
            rep[f"analytics.{key}"] = (harness.median(t[key] for t in pass_totals), unit)
        query_totals = []
        for b in B_QUERIES:
            builds = tracer.find(f"queries.{b}.build")
            collects = tracer.find(f"queries.{b}.collect")
            totals = [tracer.totals(s) for s in tracer.find(f"queries.{b}")]
            query_totals.extend(totals)
            rep[f"queries.{b}.build_s"] = (harness.median(s.wall_s for s in builds), "s")
            rep[f"queries.{b}.collect_s"] = (harness.median(s.wall_s for s in collects), "s")
            rep[f"queries.{b}.executor_cpu_s"] = (
                harness.median(t["executor_cpu_s"] for t in totals), "s")
            rep[f"queries.{b}.shuffle_write_bytes"] = (
                harness.median(t["shuffle_write_bytes"] for t in totals), "bytes")
        overhead = {
            "op1": harness.median(walls["passes"]) - harness.median(plain["passes"]),
            "op2": harness.gmean_of_medians(walls["queries"])
            - harness.gmean_of_medians(plain["queries"]),
        }
        ops = {"op1": (pass_totals, overhead["op1"]), "op2": (query_totals, overhead["op2"])}
        return rep, ops
