"""``slot_ingest``: one 15-minute slot tick, end to end.

The generator lands one slot file atomically; an ``availableNow``
file-source drain (``maxFilesPerTrigger=1``) hands it to ``foreachBatch``,
which decodes the payloads, clips to the bbox, grids at 0.35 degrees and
commits the grid idempotently, anti-joins the payload md5s against the
standing hash table and commits the new ones, re-delivers the same batch
(which must leave both tables unchanged), and writes the slot watermark.
The tables start empty every run; the warm-up ticks are set-up.
"""

from __future__ import annotations

import json
import os

from perfbench import gen
from perfbench.harness import Workload, median_over, span_self, span_total

APP_GRID = "perfbench-grid"
APP_HASHES = "perfbench-hashes"
# Ticks run in set-up: the first pays Python-worker start and codegen, the
# second still runs about 1.5x a steady tick.
WARMUP_TICKS = 2


class SlotIngest(Workload):
    name = "slot_ingest"

    def __init__(self, spark, work: str, seed: int, tracer):
        from pyspark.sql.types import BinaryType, LongType, StructField, StructType
        from satellite_data_ingestion_spark.sources.delta_log import DeltaLogTable

        super().__init__(spark, work, seed, tracer)
        self.schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("slot", LongType()),
                StructField("payload", BinaryType()),
            ]
        )
        self.landing = os.path.join(work, "landing")
        self.staging = os.path.join(work, "staging")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.state_path = os.path.join(work, "state", "watermark.json")
        for d in (self.landing, self.staging):
            os.makedirs(d, exist_ok=True)
        self.grid = DeltaLogTable(spark, os.path.join(work, "grid"))
        self.hashes = DeltaLogTable(spark, os.path.join(work, "hashes"))
        self.input_bytes = 0
        self._prev: gen.Slot | None = None
        self._staged: str | None = None
        self.slots: dict[int, dict] = {}  # slot -> expected grid, md5s, op id
        self._batches = 0
        self._batch_ok = True
        self._decoded: dict[int, int] = {}  # op -> rows out of the decode (traced ops)
        self._batches_per_op: dict[int, int] = {}
        self._profile_s: dict[int, float] = {}
        self._warmup_ok = True

    # -- inputs ------------------------------------------------------

    def _slot_of(self, op: int) -> int:
        return op + WARMUP_TICKS  # the first slots are the warm-up ticks

    def prepare(self, op: int) -> None:
        slot = self._slot_of(op)
        s = gen.make_slot(self.seed, slot, self._prev)
        path = os.path.join(self.staging, f"slot-{slot:05d}.parquet")
        self.input_bytes += s.write(path)
        self.slots[slot] = {
            "op": op,
            "grid": gen.expected_grid(s),
            "md5": s.md5s(),
        }
        self._prev = s
        self._staged = path

    # -- the tick ----------------------------------------------------

    def setup(self) -> None:
        for op in range(-WARMUP_TICKS, 0):
            self.prepare(op)
            self._warmup_ok &= self._tick(self._slot_of(op))

    def op(self, op: int, step: int) -> bool:
        return self._tick(self._slot_of(op))

    def _tick(self, slot: int) -> bool:
        T = self.tracer
        self._slot = slot
        self._op = self.slots[slot]["op"]
        if T.enabled:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self._batch_ok = True
        before = self._batches
        os.replace(self._staged, os.path.join(self.landing, os.path.basename(self._staged)))
        with T.span("streaming.trigger") as sp:
            q = (
                self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.landing)
                .writeStream.foreachBatch(self._batch)
                .option("checkpointLocation", self.checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            T.claim_group(sp, str(q.runId))
            q.awaitTermination()
        op = self._op
        if T.enabled:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            self._profile_s[op] = udf_profile_s(self.spark)
        n_batches = self._batches - before
        self._batches_per_op[op] = n_batches
        return self._batch_ok and n_batches == 1

    def _batch(self, df, batch_id: int) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from satellite_data_ingestion_spark.llm.multimodal import decoded_features
        from satellite_data_ingestion_spark.streaming.state import atomic_write_json

        T = self.tracer
        slot = self._slot
        self._batches += 1
        obs = None
        with T.span("streaming.batch"):
            with T.span("multimodal.decoded_features"):
                feats = decoded_features(df.select("doc_id", "payload"))
            if T.enabled:  # decoded row count, gathered by the commit's own job
                obs = Observation()
                feats = feats.observe(obs, F.count(F.lit(1)).alias("rows"))
            west, south, east, north = gen.BBOX
            lon = F.lit(gen.LON0) + (F.col("width").cast("double") + F.lit(0.5)) * F.lit(gen.RES)
            lat = F.lit(gen.LAT0) + (F.col("height").cast("double") + F.lit(0.5)) * F.lit(gen.RES)
            grid = (
                feats.select(lon.alias("lon"), lat.alias("lat"), "n_bytes")
                .where(
                    (F.col("lon") >= west)
                    & (F.col("lon") < east)
                    & (F.col("lat") >= south)
                    & (F.col("lat") < north)
                )
                .groupBy(
                    F.floor((F.col("lon") - F.lit(west)) / F.lit(gen.GRID_DEG)).alias("cell_x"),
                    F.floor((F.col("lat") - F.lit(south)) / F.lit(gen.GRID_DEG)).alias("cell_y"),
                )
                .agg(F.count(F.lit(1)).alias("n_px"), F.sum("n_bytes").alias("sum_bytes"))
                .withColumn("slot", F.lit(slot).cast("long"))
            )
            with T.span("delta_log.commit"):
                self.grid.commit_append(grid, txn=(APP_GRID, slot))
            with T.span("dedup.probe"):
                fresh = df.select(F.md5("payload").alias("md5")).distinct()
                if self.hashes.latest_version() >= 0:
                    with T.span("delta_log.read_call"):
                        known = self.hashes.read()
                    fresh = fresh.join(known.select("md5"), "md5", "left_anti")
                fresh = fresh.withColumn("slot", F.lit(slot).cast("long"))
                with T.span("delta_log.commit"):
                    self.hashes.commit_append(fresh, txn=(APP_HASHES, slot))
            heads = (self.grid.latest_version(), self.hashes.latest_version())
            with T.span("delta_log.commit_skip"):  # at-least-once redelivery
                self.grid.commit_append(grid, txn=(APP_GRID, slot))
                self.hashes.commit_append(fresh, txn=(APP_HASHES, slot))
            if heads != (self.grid.latest_version(), self.hashes.latest_version()):
                self._batch_ok = False
            with T.span("streaming.state_write"):
                atomic_write_json({"last_slot": slot, "batch_id": batch_id}, self.state_path)
        if obs is not None:
            self._decoded[self._op] = obs.get["rows"]
        with open(self.state_path) as fh:
            if json.load(fh).get("last_slot") != slot:
                self._batch_ok = False

    # -- checks --------------------------------------------------------

    def finish(self) -> set[int]:
        """Compare the final tables with the generator's answers; the op
        of every slot whose rows differ is failed."""
        failed: set[int] = set()
        grid = self.grid.read().toPandas()
        by_slot = {}
        for s, g in grid.groupby("slot"):
            cells = {
                (int(x), int(y)): (int(n), int(b))
                for x, y, n, b in zip(g.cell_x, g.cell_y, g.n_px, g.sum_bytes)
            }
            by_slot[int(s)] = cells if len(cells) == len(g) else None  # None: duplicate rows
        hashes = self.hashes.read().toPandas()
        hash_slot = dict(zip(hashes.md5, hashes.slot.astype(int)))
        if len(hash_slot) != len(hashes):
            failed.update(v["op"] for v in self.slots.values())  # duplicate hash rows
        seen: set[str] = set()
        admitted = {}
        for slot in sorted(self.slots):
            exp = self.slots[slot]
            ok = by_slot.get(slot, {}) == exp["grid"]
            new = set(exp["md5"]) - seen
            seen |= new
            admitted[slot] = len(new) / len(exp["md5"])
            ok &= all(hash_slot.get(h) == slot for h in new)
            if not ok:
                failed.add(exp["op"])
        if set(hash_slot) != seen:
            failed.update(v["op"] for v in self.slots.values())
        with open(self.state_path) as fh:
            if json.load(fh).get("last_slot") != self._slot:
                failed.add(self.slots[self._slot]["op"])
        if not self._warmup_ok or any(op < 0 for op in failed):  # nothing later holds
            failed |= {v["op"] for v in self.slots.values()}
        self._admitted = admitted
        return failed

    # -- per-layer ----------------------------------------------------

    def layer_metrics(self, ops: list[int]) -> dict:
        from perfbench.tables import table_stats

        T = self.tracer
        st = table_stats([self.grid.root, self.hashes.root])
        return {
            "streaming.trigger_s": median_over(ops, lambda o: span_self(T, o, "streaming.trigger")),
            "streaming.batches_per_tick": median_over(ops, lambda o: self._batches_per_op[o]),
            "streaming.state_write_s": median_over(ops, lambda o: span_total(T, o, "streaming.state_write")),
            "multimodal.decode_rows": median_over(ops, lambda o: self._decoded[o]),
            "multimodal.udf_worker_s": median_over(ops, lambda o: self._profile_s.get(o, 0.0)),
            "delta_log.commit_s": median_over(ops, lambda o: span_total(T, o, "delta_log.commit")),
            "delta_log.commit_skip_s": median_over(ops, lambda o: span_total(T, o, "delta_log.commit_skip")),
            "delta_log.read_call_s": median_over(ops, lambda o: span_total(T, o, "delta_log.read_call")),
            "delta_log.versions": st["versions"],
            "delta_log.live_files": st["live_files"],
            "delta_log.log_bytes": st["log_bytes"],
            "delta_log.data_bytes": st["data_bytes"],
            "delta_log.bytes_per_input_byte": st["data_bytes"] / self.input_bytes,
            "dedup.probe_s": median_over(ops, lambda o: span_total(T, o, "dedup.probe")),
            "dedup.admitted_ratio": median_over(
                ops, lambda o: self._admitted.get(self._slot_of(o), 0.0)
            ),
        }


def udf_profile_s(spark) -> float:
    """Total Python-worker time the UDF profiler recorded since the last
    call (all UDFs of the session), then clears it."""
    results = spark._profiler_collector._perf_profile_results
    total = sum(stats.total_tt for stats in results.values())
    spark.profile.clear(type="perf")
    return total
