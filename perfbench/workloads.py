"""The benchmark's workloads.

Each workload drives the library from outside, through
`yardstick_spark.MeasureSession` and the `__spark_entry__` driver
contract, with one client in a closed loop.  A workload generates its
operations from the run's seed; the program sees only the operations.
Operations come in rounds: the timed window closes at the first round
boundary after `--seconds`, so every run of a workload measures the same
mix of operations, only in another order.
"""

from __future__ import annotations

import random
import re
import time
from typing import NamedTuple

from sparkmetrics import job_group, plan_shape, read_group


class Op(NamedTuple):
    kind: str  # "query", "ddl" or "operator"
    key: str   # what the output is checked against
    text: str  # what the program receives


class Workload:
    """Common interface; `ctx` is whatever `setup` returns."""

    name = ""

    def __init__(self, spec: dict, entry):
        self.spec = spec
        self.entry = entry
        self.scale = spec["scale_factor"]

    def setup(self, spark, sf_dir: str):
        raise NotImplementedError

    def warmup(self, ctx) -> None:
        """`warmup_rounds` rounds of every operation in a fixed order."""
        for _ in range(self.spec.get("warmup_rounds", 0)):
            for op in next(self.rounds(None)):
                self.between(ctx)
                self.run(ctx, op)

    def between(self, ctx) -> None:
        """Untimed work before each operation."""

    def rounds(self, seed: int):
        raise NotImplementedError

    def run(self, ctx, op: Op):
        raise NotImplementedError

    def run_traced(self, ctx, op: Op, tracer, group: str) -> tuple:
        """Like `run`, recording spans; returns (output, layer counters)."""
        raise NotImplementedError

    def expected(self, oracle, keys) -> dict:
        """Expected digest per key, from the DuckDB oracle."""
        from oracle import oracle_queries

        sql = oracle_queries()
        return {k: None if k == "ddl" else oracle.expected(sql[k])
                for k in keys}

    def plan_shapes(self, ctx) -> dict:
        """Physical-plan operator counts per distinct query."""
        return {}

    def digest(self, ctx, op: Op, output) -> str:
        from oracle import digest

        rows, cols = output
        return digest(rows, cols)


def _exec_counters(sc, group: str, t0: float, t1: float) -> dict:
    return {f"exec.{k}": v for k, v in
            read_group(sc, group, t0 * 1000.0, t1 * 1000.0).items()}


class MeasureScan(Workload):
    """The m_* measure queries of `_MEASURE_QUERIES`, each run through
    `MeasureSession.sql` and collected, plus one `CREATE OR REPLACE VIEW
    ... AS MEASURE` re-sync of an unchanged measure view per round (the
    semantic-layer deploy pattern: catalog writes beside the reads)."""

    name = "measure_scan"

    def __init__(self, spec, entry):
        super().__init__(spec, entry)
        self.queries = {k: v for k, v in entry._MEASURE_QUERIES.items()
                        if k.startswith(tuple(spec["query_prefixes"]))}
        self.ddl: list[str] = []

    def setup(self, spark, sf_dir):
        from yardstick_spark import MeasureSession

        # the measure-view DDL is whatever the driver contract registers;
        # record it on the way through instead of copying it
        seen: list[str] = []
        original = MeasureSession.sql

        def recording(session, text):
            seen.append(text)
            return original(session, text)

        MeasureSession.sql = recording
        try:
            ys = self.entry._ys(spark, sf_dir)
        finally:
            MeasureSession.sql = original
        self.ddl = [t for t in seen if re.match(r"\s*CREATE OR REPLACE VIEW", t)]
        self.run(ys, Op("query", "", self.queries[self.spec["setup_query"]]))
        return ys

    def rounds(self, seed):
        """Every query once per round and one DDL re-sync at a random
        position; seed None keeps name order and the first view."""
        rng = random.Random(seed)
        names = sorted(self.queries)
        while True:
            if seed is not None:
                rng.shuffle(names)
            ops = [Op("query", n, self.queries[n]) for n in names]
            if seed is None:
                ops.insert(0, Op("ddl", "ddl", self.ddl[0]))
            else:
                ops.insert(rng.randint(0, len(ops)),
                           Op("ddl", "ddl", rng.choice(self.ddl)))
            yield ops

    def run(self, ys, op):
        df = ys.sql(op.text)
        if op.kind == "ddl":
            return None
        return df.collect(), df.columns

    def run_traced(self, ys, op, tracer, group):
        sc = ys.spark.sparkContext
        if op.kind == "ddl":
            with tracer.span("session.ddl"):
                ys.sql(op.text)
            return None, {}
        with tracer.span("session.sql"):
            df = ys.sql(op.text)
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with job_group(sc, group):
            t0 = time.time()
            with tracer.span("exec"):
                rows = df.collect()
            t1 = time.time()
        return (rows, df.columns), _exec_counters(sc, group, t0, t1)

    def plan_shapes(self, ys):
        return {n: plan_shape(ys.sql(q)) for n, q in sorted(self.queries.items())}

    def digest(self, ctx, op, output):
        return None if op.kind == "ddl" else super().digest(ctx, op, output)


class Curation(Workload):
    """Library operator calls from `__spark_entry__.queries()`, with the
    session's caches cleared before each call, as a pipeline run on a
    fresh batch pays them every time."""

    name = "curation"

    def __init__(self, spec, entry):
        super().__init__(spec, entry)
        self.operators = list(spec["operators"])
        self.fns = entry.queries()
        self.sf_dir = None

    def setup(self, spark, sf_dir):
        self.sf_dir = sf_dir
        self.entry._ys(spark, sf_dir)
        self.run(spark, Op("operator", self.spec["setup_query"], ""))
        return spark

    def rounds(self, seed):
        """Every operator once per round; seed None keeps spec order."""
        rng = random.Random(seed)
        names = list(self.operators)
        while True:
            if seed is not None:
                rng.shuffle(names)
            yield [Op("operator", n, n) for n in names]

    def between(self, spark):
        """Drop the cached intermediates of the previous call, so each
        call pays its own caches."""
        from yardstick_spark.llm import clear_dedup_caches

        spark.catalog.clearCache()
        clear_dedup_caches()

    def run(self, spark, op):
        df = self.fns[op.key](spark, self.sf_dir)
        return df.collect(), df.columns

    def run_traced(self, spark, op, tracer, group):
        sc = spark.sparkContext
        with job_group(sc, group + ".build"):
            t0 = time.time()
            with tracer.span("llm.build"):
                df = self.fns[op.key](spark, self.sf_dir)
            t1 = time.time()
        with job_group(sc, group):
            with tracer.span("llm.exec"):
                rows = df.collect()
            t2 = time.time()
        counters = _exec_counters(sc, group, t1, t2)
        counters["llm.build_jobs"] = read_group(
            sc, group + ".build", t0 * 1000.0, t1 * 1000.0)["jobs"]
        return (rows, df.columns), counters


WORKLOADS = {w.name: w for w in (MeasureScan, Curation)}
