"""The ``bench.py`` headline queries as a control workload.

The query list is read from ``bench.py``'s ``HEADLINE`` without running
that script. A pass executes every query once with Spark's ``noop``
sink; the first pass also builds the DataFrames, later passes re-run
them (the prepared-statement shape ``bench.py`` measures). Each query
is compared with its DuckDB oracle through ``tests/oracle_harness``.
"""

from __future__ import annotations

import ast
import os
import shutil

from radio_data_pipeline_spark.plans.registry import (
    all_oracle_sql,
    all_queries,
    release_deferred,
)
from tests.oracle_harness import compare, duck_connection

import spans
import star_tables

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def headline_names() -> list[str]:
    """The ``HEADLINE`` list literal of ``bench.py``."""
    with open(os.path.join(ROOT, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "HEADLINE" for t in node.targets):
            return ast.literal_eval(node.value)
    raise LookupError("bench.py defines no HEADLINE list")


class Workload:
    """The 15 headline queries over generated star-schema tables."""

    sf = 0.005
    # checked once per run, after the last pass: a check re-executes all
    # 15 queries, and every pass runs the same DataFrames
    check_every_pass = False
    # the plans.build span exists only in the cold pass
    trace_cold = True
    # see radio.Workload.min_warm
    min_warm = 2

    def __init__(self, work_dir: str, seed: int, sf: float | None = None,
                 names: list[str] | None = None):
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "tables")
        shutil.rmtree(self.data_dir, ignore_errors=True)
        self.inputs = star_tables.generate(self.data_dir, seed,
                                           sf or self.sf)
        self.names = names or headline_names()
        self.frames: dict = {}
        self.spark = None

    def bind(self, spark, cpus: int) -> None:
        # the bench.py session shape: AQE off, 8 shuffle partitions at
        # this input size, coalescing floor at one task per core
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum",
            str(cpus))
        self.spark = spark

    def run_pass(self, first: bool, tracer=None) -> None:
        tr = tracer or spans.NO_TRACE
        if first:
            queries = all_queries()
            with tr.span("plans.build"):
                self.frames = {n: queries[n](self.spark, self.data_dir)
                               for n in self.names}
        with tr.span("plans.exec"):
            for df in self.frames.values():
                df.write.format("noop").mode("overwrite").save()

    def check(self) -> list[str]:
        oracles = all_oracle_sql()
        con = duck_connection(self.data_dir)
        errors = []
        try:
            for name, df in self.frames.items():
                res = compare(df, con, oracles[name])
                if not res["values_match"]:
                    errors.append(f"{name}: differs from its DuckDB oracle "
                                  f"({res['rows_spark']} vs "
                                  f"{res['rows_duck']} rows, first diff "
                                  f"{res['first_diff']})")
        finally:
            con.close()
        return errors

    def layer_counters(self, tracer, mark: int) -> dict[str, float]:
        out = {"plans.exec_s": tracer.span_seconds("plans.exec"),
               "plans.jobs_per_query":
                   tracer.span_jobs("plans.exec") / len(self.names)}
        if any(s["name"] == "plans.build" for s in tracer.spans):
            out.update({
                "plans.build_s": tracer.span_seconds("plans.build"),
                "plans.build_jobs": tracer.span_jobs("plans.build")})
        return out

    def close(self) -> None:
        release_deferred()
        shutil.rmtree(self.work_dir, ignore_errors=True)
