"""``standing_read``: one consumer refresh against standing Delta tables.

Set-up builds one day of slots: 96 ``commit_append`` versions each of a
grid table (seeded cells) and a hash table (seeded md5 strings).  One
refresh runs four reads: a grid rollup over ``read()`` at head; the last
hour through ``table_changes(head - 4)``; a time-travel
``read(version=head - 48)`` aggregate; and a dedup probe of a fresh
5k-hash batch (half already present) by anti-join.  Each answer is checked
against the value the generator derives.  No decode and no commit happen
in the timed phase.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench import gen
from perfbench.harness import Workload, median_over, span_total

APP = "perfbench-standing"
HOUR = 4  # slots per hour
HALF_DAY = 48


class StandingRead(Workload):
    name = "standing_read"

    def __init__(self, spark, work: str, seed: int, tracer):
        from satellite_data_ingestion_spark.sources.delta_log import DeltaLogTable

        super().__init__(spark, work, seed, tracer)
        self.grid = DeltaLogTable(spark, os.path.join(work, "grid"))
        self.hashes = DeltaLogTable(spark, os.path.join(work, "hashes"))
        self.commit_s: list[float] = []
        self.input_bytes = 0
        self._probe_new: dict[int, float] = {}

    def setup(self) -> None:
        import pandas as pd

        n_slots = gen.STANDING_SLOTS
        grids = [gen.standing_grid(self.seed, s) for s in range(n_slots)]
        for slot in range(n_slots):
            for table, cols in (
                (self.grid, grids[slot]),
                (self.hashes, gen.standing_hashes(self.seed, slot)),
            ):
                pdf = pd.DataFrame(cols)
                self.input_bytes += int(pdf.memory_usage(deep=True).sum())
                t = time.perf_counter()
                table.commit_append(self.spark.createDataFrame(pdf), txn=(APP, slot))
                self.commit_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.head = n_slots - 1
        x = np.concatenate([g["cell_x"] for g in grids])
        n_px = np.concatenate([g["n_px"] for g in grids])
        by_x = np.bincount(x, weights=n_px)
        self.want_rollup = {int(i): int(v) for i, v in enumerate(by_x) if v}
        last = grids[self.head - HOUR + 1 :]
        self.want_cdf = (sum(len(g["n_px"]) for g in last), int(sum(g["n_px"].sum() for g in last)))
        old = grids[: self.head - HALF_DAY + 1]
        self.want_tt = (sum(len(g["n_px"]) for g in old), int(sum(g["sum_bytes"].sum() for g in old)))
        self.check_s += time.perf_counter() - t
        self.prepare(-1)
        self._warmup_ok = self._refresh(-1)

    def prepare(self, op: int) -> None:
        import pandas as pd

        hashes, n_known = gen.probe_batch(self.seed, op + 1, gen.STANDING_SLOTS)
        self._probe = (pd.DataFrame({"md5": hashes}), len(hashes) - n_known)

    def op(self, op: int, step: int) -> bool:
        return self._refresh(op)

    def _refresh(self, op: int) -> bool:
        from pyspark.sql import functions as F

        T = self.tracer
        ok = True
        with T.span("delta_log.read_call"):
            head = self.grid.read()
        with T.span("delta_log.read_exec"):
            rows = head.groupBy("cell_x").agg(F.sum("n_px").alias("n")).collect()
        ok &= {r.cell_x: r.n for r in rows} == self.want_rollup
        with T.span("delta_log.cdf_call"):
            changes = self.grid.table_changes(self.head - HOUR)
        with T.span("delta_log.read_exec"):
            c = changes.agg(F.count(F.lit(1)).alias("n"), F.sum("n_px").alias("px")).first()
        ok &= (c.n, c.px) == self.want_cdf
        with T.span("delta_log.read_call"):
            past = self.grid.read(version=self.head - HALF_DAY)
        with T.span("delta_log.read_exec"):
            p = past.agg(F.count(F.lit(1)).alias("n"), F.sum("sum_bytes").alias("b")).first()
        ok &= (p.n, p.b) == self.want_tt
        pdf, want_new = self._probe
        with T.span("dedup.probe"):
            batch = self.spark.createDataFrame(pdf)
            with T.span("delta_log.read_call"):
                known = self.hashes.read()
            with T.span("delta_log.read_exec"):
                new = batch.join(known.select("md5"), "md5", "left_anti").count()
        ok &= new == want_new
        self._probe_new[op] = new / len(pdf)
        return ok

    def finish(self) -> set[int]:
        # A wrong warm-up answer means the tables are wrong for every refresh.
        return set() if self._warmup_ok else set(self._probe_new) - {-1}

    def layer_metrics(self, ops: list[int]) -> dict:
        from perfbench.tables import table_stats

        T = self.tracer
        st = table_stats([self.grid.root, self.hashes.root])
        return {
            "delta_log.commit_s": statistics.median(self.commit_s),
            "delta_log.read_call_s": median_over(ops, lambda o: span_total(T, o, "delta_log.read_call")),
            "delta_log.cdf_call_s": median_over(ops, lambda o: span_total(T, o, "delta_log.cdf_call")),
            "delta_log.read_exec_s": median_over(ops, lambda o: span_total(T, o, "delta_log.read_exec")),
            "delta_log.versions": st["versions"],
            "delta_log.live_files": st["live_files"],
            "delta_log.log_bytes": st["log_bytes"],
            "delta_log.data_bytes": st["data_bytes"],
            "delta_log.bytes_per_input_byte": st["data_bytes"] / self.input_bytes,
            "dedup.probe_s": median_over(ops, lambda o: span_total(T, o, "dedup.probe")),
            "dedup.admitted_ratio": median_over(ops, lambda o: self._probe_new[o]),
        }
