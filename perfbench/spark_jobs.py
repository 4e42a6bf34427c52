"""The `spark` workload: the flagship pipeline job and the entry queries in
one Spark session, one after another, as one closed-loop client issues
them.

A pass runs every query in `queries.QUERIES` once, in an order the seed
permutes, then the pipeline job; each is followed by
`release_session_state`.  Set-up stores the inputs and runs every
operation once, untimed.  The pipeline job comes last because the JIT is
still compiling its code after set-up, and that background work is charged
to whichever operations run meanwhile: with the job first in a pass it
used about 10% more CPU than after the queries.
"""

from __future__ import annotations

import time

import numpy as np

from . import queries
from .pipeline import PAGES, Pipeline


class SparkJobs:
    def __init__(self, spark, work_dir: str, seed: int, tracer, cpu):
        self.spark = spark
        self.seed = seed
        self.pipeline = Pipeline(spark, work_dir, seed, tracer, cpu)
        self.queries = queries.Queries(spark, work_dir, tracer, cpu)

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.pipeline.setup()
        t1 = time.perf_counter()
        self.queries.setup()
        self.setup_phases_s = {"pipeline": t1 - t0,
                               "queries": time.perf_counter() - t1}

    def order(self, k: int) -> list[str]:
        rng = np.random.default_rng([self.seed, k + 1])
        return [*(str(q) for q in rng.permutation(sorted(queries.QUERIES))),
                "pipeline"]

    def timed_op(self, name: str, trace: str) -> tuple[float, float, bool]:
        """(wall seconds, process-tree CPU seconds, output correct)"""
        if name == "pipeline":
            return self.pipeline.timed_op(name, trace)
        return self.queries.timed_op(name, trace)

    def rows(self, name: str) -> int:
        """Flagship input rows an operation reads: the pipeline's pages."""
        return PAGES if name == "pipeline" else 0

    def release(self) -> None:
        from s2spark.plans.session import release_session_state
        release_session_state(self.spark)

    def layer_metrics(self, passes: int) -> dict[str, float]:
        """Per pass: the pipeline job's layers plus the queries' sums; the
        Spark and plan totals of both add up."""
        out = self.queries.layer_metrics(passes)
        for k, v in self.pipeline.layer_metrics().items():
            out[k] = out.get(k, 0.0) + v
        return out

    def regions(self) -> list:
        import __spark_entry__
        return [*self.pipeline.regions(),
                *__spark_entry__._JOIN_POLYGONS.values()]
