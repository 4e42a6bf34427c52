"""Entry queries of the `spark` workload, each forced by the same (row
count, xxhash64 sum) aggregate and checked against the digest recorded in
`digests.json`.

Set-up writes the tables and runs every query once, untimed, so per-plan
code generation, streaming start-up and covering builds land in set-up
time.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

from . import data, probes

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")

# query -> the module whose code it exercises.  The geo one is dominated
# by driver construction (covering, broadcast, streaming micro-batches);
# the corpus one by a shuffle and a localCheckpoint, with no S2 kernel work.
QUERIES = {
    "stream_point_in_polygon": "streaming",
    "text_chunk_dedup": "operators.dedup",
}


def force(df):
    """The forcing aggregate: row count and the sum of a 64-bit hash of
    every column (order-insensitive, so partitioning cannot change it)."""
    from pyspark.sql import functions as F
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.xxhash64(*[F.col(c) for c in df.columns])
                        .cast("long")).alias("h"))


class Queries:
    def __init__(self, spark, work_dir: str, tracer, cpu):
        import __spark_entry__
        self.spark = spark
        self.tables = os.path.join(work_dir, "tables")
        self.tracer = tracer
        self.cpu = cpu
        with open(DIGESTS) as f:
            self.digests: dict[str, list[int]] = json.load(f)
        self.query_fns = __spark_entry__.queries()
        self.sums: dict[str, float] = defaultdict(float)

    def setup(self) -> None:
        data.write_tables(self.tables)
        for name in sorted(QUERIES):
            self._run(name)

    def _build(self, name: str):
        return self.query_fns[name](self.spark, self.tables)

    def _check(self, name: str, row) -> bool:
        return [int(row.n), int(row.h or 0)] == self.digests[name]

    def _run(self, name: str) -> tuple[float, float, bool]:
        t0, c0 = time.perf_counter(), self.cpu()
        row = force(self._build(name)).collect()[0]
        return time.perf_counter() - t0, self.cpu() - c0, self._check(name, row)

    def timed_op(self, name: str, trace: str) -> tuple[float, float, bool]:
        """(wall seconds, process-tree CPU seconds, output correct)"""
        if not self.tracer.enabled:
            return self._run(name)
        c0 = self.cpu()
        dt, good = self._traced(name, trace)
        return dt, self.cpu() - c0, good

    def _traced(self, name: str, trace: str) -> tuple[float, bool]:
        """The same query split into construct (calling the query function), plan
        (forcing the executed plan) and execute (collecting), each in its
        own Spark job group.  The status store keeps only 50 stages, so it
        is read after each phase, outside the phase's span."""
        spark, tr = self.spark, self.tracer
        sc = spark.sparkContext
        module = QUERIES[name]
        latency = 0.0
        out = {}

        def phase(label, parent, fn):
            nonlocal latency
            group = f"{trace}:{label}"
            sc.setJobGroup(group, name)
            with tr.span(label, trace, parent):
                out[label] = fn()
            sc.setLocalProperty("spark.jobGroup.id", None)
            dt = tr.spans[-1]["end"] - tr.spans[-1]["start"]
            latency += dt
            t0 = time.perf_counter()
            self.sums[f"{module}.{label}_s"] += dt
            jobs = probes.job_ids(spark, group)
            if label == "construct":
                self.sums["queries.construct_jobs"] += len(jobs)
            for k, v in probes.stage_totals(spark, jobs).items():
                self.sums[k] += v
            tr.bookkeeping_s += time.perf_counter() - t0

        with tr.span("query", trace, query=name) as root:
            phase("construct", root, lambda: self._build(name))
            forced = force(out["construct"])
            phase("plan", root, lambda: forced._jdf.queryExecution().executedPlan())
            phase("execute", root, lambda: forced.collect()[0])
        t0 = time.perf_counter()
        plan = forced._jdf.queryExecution().executedPlan().toString()
        for k, v in probes.plan_counts(plan).items():
            self.sums[k] += v
        tr.bookkeeping_s += time.perf_counter() - t0
        return latency, self._check(name, out["execute"])

    def layer_metrics(self, passes: int) -> dict[str, float]:
        """Per-pass averages of the summed per-query numbers."""
        return {k: v / passes for k, v in self.sums.items()}
