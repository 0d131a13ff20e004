"""The closed loop shared by every workload, and the metric set.

One client, one process: the next operation starts when the previous one
returned.  The measured phase runs whole *rounds* (a workload's unit of
repetition: one tick, one refresh, one pass over the operator list) until
``seconds`` have passed.  In a traced run, odd rounds are traced and even
rounds are not, so the tracing overhead is measured in the same run as
the difference of the two halves' median op latencies.
"""

from __future__ import annotations

import statistics
import time
import traceback

from perfbench import spans as spans_mod
from perfbench.stats import tail

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# Every per-layer metric, printed by every workload (0 where the layer is
# not on the workload's path).
PER_LAYER = {
    "session.start_s": "s",
    "streaming.trigger_s": "s",
    "streaming.batches_per_tick": "count",
    "streaming.state_write_s": "s",
    "multimodal.decode_rows": "count",
    "multimodal.udf_worker_s": "s",
    "delta_log.commit_s": "s",
    "delta_log.commit_skip_s": "s",
    "delta_log.read_call_s": "s",
    "delta_log.cdf_call_s": "s",
    "delta_log.read_exec_s": "s",
    "delta_log.versions": "count",
    "delta_log.live_files": "count",
    "delta_log.log_bytes": "bytes",
    "delta_log.data_bytes": "bytes",
    "delta_log.bytes_per_input_byte": "ratio",
    "dedup.probe_s": "s",
    "dedup.admitted_ratio": "ratio",
    "registry.build_s": "s",
    "registry.exec_s": "s",
    "registry.build_share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "self.bench_s": "s",
    "self.streaming_s": "s",
    "self.multimodal_s": "s",
    "self.delta_log_s": "s",
    "self.dedup_s": "s",
    "self.registry_s": "s",
    "trace.accounted_share": "ratio",
    "trace.overhead_s": "s",
    "trace.ops": "count",
}

# Span name prefix -> self-time metric.  The root span of every operation
# is named "bench.<workload>" and holds the benchmark's own glue.
SELF_LAYERS = ("bench", "streaming", "multimodal", "delta_log", "dedup", "registry")


class Workload:
    """What the closed loop drives.  ``setup`` runs once (its time, minus
    ``check_s`` spent on correctness checks, is ``setup_s``); then, per
    operation, ``prepare`` (untimed input generation), ``op`` (timed,
    returns whether its checks passed) and ``after_op`` (untimed).
    ``finish`` runs the end-of-run checks and returns the failed op ids."""

    name = ""
    round_size = 1  # operations per round

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.check_s = 0.0
        self.detail: dict = {}

    def setup(self) -> None:
        pass

    def prepare(self, op: int) -> None:
        pass

    def op(self, op: int, step: int) -> bool:
        raise NotImplementedError

    def after_op(self, op: int) -> None:
        pass

    def finish(self) -> set[int]:
        return set()

    def layer_metrics(self, ops: list[int]) -> dict:
        return {}


class OpRecord:
    __slots__ = ("op", "round", "wall", "ok", "traced")

    def __init__(self, op: int, rnd: int, wall: float, ok: bool, traced: bool):
        self.op, self.round, self.wall, self.ok, self.traced = op, rnd, wall, ok, traced


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


# A traced run samples at least this many ops (and two rounds), so both
# halves hold several ops even when one op is a whole tick.
MIN_TRACED_OPS = 6


def measure(wl, seconds: float, trace: bool) -> list[OpRecord]:
    """Run whole rounds of ``wl`` until ``seconds`` have passed: at least
    one round, and two rounds and ``MIN_TRACED_OPS`` ops when tracing."""
    records: list[OpRecord] = []
    tracer = wl.tracer
    t0 = time.perf_counter()
    rnd = 0
    op = 0
    while rnd == 0 or time.perf_counter() - t0 < seconds or (trace and (rnd < 2 or op < MIN_TRACED_OPS)):
        traced = trace and rnd % 2 == 1
        tracer.enabled = traced
        for step in range(wl.round_size):
            wl.prepare(op)  # untimed: input generation for the next op
            tracer.begin_op(op)
            start = time.perf_counter()
            try:
                with tracer.span(f"bench.{wl.name}"):
                    ok = wl.op(op, step)
            except Exception:  # a raising operation is a failed one
                traceback.print_exc()
                ok = False
            wall = time.perf_counter() - start
            tracer.enabled = False
            wl.after_op(op)
            tracer.enabled = traced
            tracer.collect_spark(op)
            records.append(OpRecord(op, rnd, wall, ok, traced))
            op += 1
        rnd += 1
    tracer.enabled = False
    return records


def end_to_end(setup_s: float, records: list[OpRecord], rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics.  ``ops_per_s`` counts only time spent inside
    operations: input generation between them is the benchmark's cost."""
    walls = [r.wall for r in records]
    t = tail(walls)
    metrics = {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(walls),
        "op_s_tail": t["value"],
        "ops_per_s": len(records) / sum(walls),
        "peak_rss_mb": rss_mb,
    }
    return metrics, t


def per_layer(wl, records: list[OpRecord], session_start_s: float) -> dict:
    """Per-layer metrics over the traced ops: medians per op of span
    durations, self times and Spark counters, plus the workload's own."""
    tracer = wl.tracer
    traced = [r for r in records if r.traced]
    untraced = [r for r in records if not r.traced]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = session_start_s
    out["trace.ops"] = float(len(traced))
    if traced and untraced:
        out["trace.overhead_s"] = _median(r.wall for r in traced) - _median(r.wall for r in untraced)
    per_op_self = {layer: [] for layer in SELF_LAYERS}
    per_op_spark = {k: [] for k in spans_mod.SPARK_COUNTERS}
    accounted = []
    for r in traced:
        sp = tracer.op_spans(r.op)
        st = spans_mod.self_times(sp)
        by_layer = dict.fromkeys(SELF_LAYERS, 0.0)
        for s in sp:
            by_layer[s.layer] = by_layer.get(s.layer, 0.0) + st[s.sid]
        for layer in SELF_LAYERS:
            per_op_self[layer].append(by_layer[layer])
        accounted.append(sum(v for k, v in by_layer.items() if k != "bench") / r.wall)
        for k in spans_mod.SPARK_COUNTERS:
            per_op_spark[k].append(sum(s.spark.get(k, 0) for s in sp))
    for layer in SELF_LAYERS:
        out[f"self.{layer}_s"] = _median(per_op_self[layer])
    for k in spans_mod.SPARK_COUNTERS:
        out[f"spark.{k}"] = _median(per_op_spark[k])
    out["trace.accounted_share"] = _median(accounted)
    out.update(wl.layer_metrics([r.op for r in traced]))
    missing = set(out) - set(PER_LAYER)
    if missing:
        raise KeyError(f"workload reported undeclared metrics {sorted(missing)}")
    return out


def span_total(tracer, op: int, name: str) -> float:
    """Summed duration of the spans called ``name`` in ``op``."""
    return sum(s.end - s.start for s in tracer.op_spans(op) if s.name == name)


def span_self(tracer, op: int, name: str) -> float:
    """Summed self time of the spans called ``name`` in ``op``."""
    sp = tracer.op_spans(op)
    st = spans_mod.self_times(sp)
    return sum(st[s.sid] for s in sp if s.name == name)


def median_over(ops, fn) -> float:
    return _median(fn(op) for op in ops)
