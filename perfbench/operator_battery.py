"""``operator_battery``: one registered query call per operation.

Each operation is ``registry.spec(name).fn(spark, twin_dir)`` followed by
a ``noop`` write that executes the returned plan, over the jobs-heavy
operators below, on a ``tools/gen_sf.gen`` twin generated in set-up.  A
round is one pass over the list.  The first pass is set-up (warm-up); its
collected outputs are checked against the DuckDB oracle with
``tests/oracle.compare`` after the measured phase (row count only for
rows-only operators).  Every measured call must
return the first pass's row count.

``ext_dedup_cluster`` (52 jobs per call) is left out: one call takes
7-10 s and its recursive-CTE oracle about 40 s, which does not fit the
per-run time budget next to the other eight.
"""

from __future__ import annotations

import gc
import os

from perfbench.harness import Workload, median_over, span_total

OPERATORS = (
    "agg_hodges_lehmann",
    "ext_bleu",
    "agg_somers_d",
    "agg_mood_median",
    "ext_heavy_hitters",
    "agg_benford_test",
    "ext_lis_trend",
    "ext_dedup_minhash",
)
TWIN_SF = 0.01


class Collected:
    """A collected result with the DataFrame surface ``tests/oracle.compare``
    reads (schema, columns, collect), so the check does not re-run the plan."""

    def __init__(self, schema, rows):
        self.schema = schema
        self.columns = schema.names
        self.rows = rows

    def collect(self):
        return self.rows


class OperatorBattery(Workload):
    name = "operator_battery"
    round_size = len(OPERATORS)

    def __init__(self, spark, work: str, seed: int, tracer):
        super().__init__(spark, work, seed, tracer)
        self.twin = os.path.join(work, "twin")
        self.first: dict[str, Collected] = {}
        self.rows: dict[str, int] = {}
        self.calls: dict[int, str] = {}  # op id -> operator
        self.detail["oracle"] = {}

    def setup(self) -> None:
        from satellite_data_ingestion_spark import registry
        from tools.gen_sf import gen

        gen(TWIN_SF, self.twin, self.seed)
        registry.load_all()
        for name in OPERATORS:
            df = registry.spec(name).fn(self.spark, self.twin)
            self.first[name] = Collected(df.schema, df.collect())
            self.rows[name] = len(self.first[name].rows)
            self._cleanup()

    def _call(self, name: str) -> int:
        """One query call; returns the rows written."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from satellite_data_ingestion_spark import registry

        T = self.tracer
        with T.span("registry.build"):
            df = registry.spec(name).fn(self.spark, self.twin)
        obs = Observation()
        with T.span("registry.exec"):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
        return obs.get["rows"]

    def finish(self) -> set[int]:
        """Compare each operator's first-pass output with its DuckDB oracle
        (after the measured phase, so the oracle's memory stays out of
        ``peak_rss_mb``); every call of a mismatching operator fails."""
        from satellite_data_ingestion_spark import registry
        from tests.oracle import compare, duck_con

        con = duck_con(self.twin)
        try:
            for name, first in self.first.items():
                sql = registry.spec(name).oracle
                if sql is None:  # rows-only operator
                    verdict = "rows" if first.rows else "empty"
                else:
                    errs = compare(first, con, sql)
                    verdict = "match" if not errs else "; ".join(errs[:3])
                self.detail["oracle"][name] = verdict
        finally:
            con.close()
        bad = {n for n, v in self.detail["oracle"].items() if v not in ("match", "rows")}
        return {op for op, name in self.calls.items() if name in bad}

    def _cleanup(self) -> None:
        """Drop RDDs an operator left persisted (local checkpoints), so one
        call's leftovers do not slow the next; untimed, between calls."""
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
        gc.collect()

    def op(self, op: int, step: int) -> bool:
        name = OPERATORS[step]
        self.calls[op] = name
        return self._call(name) == self.rows[name]

    def after_op(self, op: int) -> None:
        self._cleanup()

    def layer_metrics(self, ops: list[int]) -> dict:
        T = self.tracer

        def build(o):
            return span_total(T, o, "registry.build")

        def execute(o):
            return span_total(T, o, "registry.exec")

        return {
            "registry.build_s": median_over(ops, build),
            "registry.exec_s": median_over(ops, execute),
            "registry.build_share": median_over(ops, lambda o: build(o) / (build(o) + execute(o))),
        }
