"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload slot_ingest --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (BENCHMARK.json lists both).  The result line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--record FILE``
also appends ``{"workload", "seed", "trace", "result", "detail"}`` to a
JSONL file, the input of ``perfbench/compare.py``; ``--spans FILE`` writes
the traced run's spans.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root and is removed at exit.  Exit code 2 means the engine
package is not beside the benchmark (nothing was measured).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("slot_ingest", "standing_read", "operator_battery")
CORES = 4


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the result to this JSONL file")
    ap.add_argument("--spans", help="write the traced run's spans here (JSONL)")
    return ap.parse_args(argv)


def _missing_inputs() -> list[str]:
    need = ["satellite_data_ingestion_spark/__init__.py", "tools/gen_sf.py", "tests/oracle.py"]
    return [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]


def _pin_environment(work: str) -> None:
    """Fixed engine settings, and every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # Few glibc malloc arenas: with one per JVM thread, the resident set
    # depends on thread scheduling and peak_rss_mb swings from run to run.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )


def _workload(name: str, spark, work: str, seed: int, tracer):
    if name == "slot_ingest":
        from perfbench.slot_ingest import SlotIngest as cls
    elif name == "standing_read":
        from perfbench.standing_read import StandingRead as cls
    else:
        from perfbench.operator_battery import OperatorBattery as cls
    return cls(spark, work, seed, tracer)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> tuple[dict, dict]:
    from perfbench import harness
    from perfbench.spans import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        from satellite_data_ingestion_spark.session import get_spark

        spark = get_spark(master=f"local[{CORES}]", shuffle_partitions=CORES)
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=False)
        wl = _workload(args.workload, spark, work, args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0 - wl.check_s
        records = harness.measure(wl, args.seconds, bool(args.trace))
        # Peak memory is read before the end-of-run checks, whose
        # collects and oracle queries are the benchmark's own cost.
        jvm = spark.sparkContext._jvm
        rss_mb = harness.vm_hwm_mb() + harness.vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid())
        gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        gc_s = sum(b.getCollectionTime() for b in gc_beans) / 1000.0
        failed_ops = wl.finish()
        e2e, t = harness.end_to_end(setup_s, records, rss_mb)
        failed = sum(1 for r in records if not r.ok or r.op in failed_ops)
        if args.trace:
            values = harness.per_layer(wl, records, session_start_s)
            units = harness.PER_LAYER
            if args.spans:
                tracer.dump(args.spans)
        else:
            values, units = e2e, harness.END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
        detail = {
            "failed_frac": failed / len(records),
            "session_start_s": session_start_s,
            "setup_s": setup_s,
            "check_s": wl.check_s,
            "jvm_gc_s": gc_s,
            "tail_percentile": t["percentile"],
            "tail_n": t["n"],
            "tail_beyond": t["beyond"],
            "op_walls": [r.wall for r in records],
            **wl.detail,
        }
        return result, detail
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse(argv)
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # scratch directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = _missing_inputs()
    if missing:
        print(f"perfbench: engine sources not found beside the benchmark: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result, detail = run(args)
    if args.record:
        with open(args.record, "a") as fh:
            rec = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
            fh.write(json.dumps({**rec, "result": result, "detail": detail}) + "\n")
    print(
        f"# {args.workload} seed={args.seed}: {result['attempted']} ops, "
        f"failed_frac={detail['failed_frac']:.4f}, op_s_tail is "
        f"p{detail['tail_percentile']:g} of n={detail['tail_n']} ({detail['tail_beyond']} beyond)"
    )
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
