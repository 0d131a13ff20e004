#!/usr/bin/env python
"""Measure the sf0.01 -> sf0.1 -> sf1 scale curve for the heavy cost
classes (VERDICT r13 task 1): wall-clock (noop-sink, one warmed run per
point, the round-7 method) + shuffle-write bytes of the timed run's jobs
(read from the status store under a per-point job group) + output rows.
Appends one JSON line per (op, sf) to the output file so interrupted runs
resume cheaply.

Usage: python tools/scale_curve.py <out.jsonl> [op ...]
Env: SCALE_SF_DIRS=dir1,dir2,... (default the three twin dirs)
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from satellite_data_ingestion_spark import registry  # noqa: E402
from satellite_data_ingestion_spark.session import get_spark, group_counters  # noqa: E402

DEFAULT_OPS = [
    "ext_ngram_jaccard",
    "ext_dedup_cluster",
    "ext_dedup_cluster_incremental",
    "ext_knn_join_ivf",
    "graph_mst",
    "pipeline_minhash_index_maintain",
    "stream_heavy_hitters",
]


def main() -> None:
    out_path = sys.argv[1]
    ops = sys.argv[2:] or DEFAULT_OPS
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = os.environ.get(
        "SCALE_SF_DIRS",
        ",".join(
            os.path.join(repo, d)
            for d in ("testdata_sf0.01_twin", "testdata_sf0.1_twin", "testdata_sf1")
        ),
    ).split(",")
    done = set()
    if os.path.exists(out_path):
        with open(out_path) as fh:
            for line in fh:
                rec = json.loads(line)
                done.add((rec["op"], rec["sf_dir"]))
    registry.load_all()
    spark = get_spark(app_name="scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir in dirs:
        for op in ops:
            if (op, sf_dir) in done:
                print(f"skip {op} @ {sf_dir} (done)", flush=True)
                continue
            fn = registry.spec(op).fn
            t_warm0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
            warm_sec = time.time() - t_warm0
            group = f"scale-curve {op} @ {sf_dir}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            sb = group_counters(spark, group)[2]
            rows = fn(spark, sf_dir).count()
            rec = {
                "op": op, "sf_dir": sf_dir, "wall_sec": round(wall, 3),
                "warm_first_sec": round(warm_sec, 3),
                "shuffle_mb": round(sb / 1e6, 2), "rows": rows,
            }
            with open(out_path, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()


if __name__ == "__main__":
    main()
