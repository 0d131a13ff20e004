"""Summarise one result set, or compare two (parent vs change).

A result set is the JSONL file ``run.py --record`` appends to.  Runs pair
up by (workload, seed), so both sides must be run on the same seeds.

    python3 perfbench/compare.py parent.jsonl            # medians, quartiles, spread
    python3 perfbench/compare.py parent.jsonl change.jsonl

For two sets, every (metric, workload) pair gets the parent's and the
change's median and quartiles, the fraction of pairs the change wins, and
a verdict from :func:`perfbench.stats.verdict` against the metric's bound
in BENCHMARK.json: improved, within bound, unresolved or worse.  A rise in
a workload's failed fraction is flagged on its own line.  Exit code 1
means at least one verdict is "worse" or a failed fraction rose.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import quartiles, spread, verdict  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(path: str) -> dict:
    """{(workload, trace): {seed: record}}"""
    out: dict = defaultdict(dict)
    with open(path) as fh:
        for line in fh:
            if line.strip():
                rec = json.loads(line)
                out[(rec["workload"], rec["trace"])][rec["seed"]] = rec
    return out


def metric_specs() -> dict:
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    specs = {m["name"]: m for m in bench["end_to_end"]}
    specs.update({m["name"]: m for m in bench["per_layer"]})
    return specs


def failed_frac(recs) -> float:
    attempted = sum(r["result"]["attempted"] for r in recs)
    return sum(r["result"]["failed"] for r in recs) / attempted if attempted else 0.0


def summarise(a: dict) -> None:
    for (wl, trace), runs in sorted(a.items()):
        recs = list(runs.values())
        print(f"== {wl} trace={trace}: {len(recs)} runs, failed_frac {failed_frac(recs):.4f}")
        for m in recs[0]["result"]["metrics"]:
            xs = [r["result"]["metrics"][m]["value"] for r in recs]
            q1, med, q3 = quartiles(xs)
            print(f"  {m:32s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  spread {spread(xs):.4f}")


def compare(a: dict, b: dict) -> int:
    specs = metric_specs()
    bad = 0
    for key in sorted(set(a) & set(b)):
        wl, trace = key
        seeds = sorted(set(a[key]) & set(b[key]))
        if not seeds:
            continue
        pa = [a[key][s] for s in seeds]
        pb = [b[key][s] for s in seeds]
        fa, fb = failed_frac(pa), failed_frac(pb)
        print(f"== {wl} trace={trace}: {len(seeds)} paired runs")
        if fb > fa:
            print(f"  FAILED_FRAC ROSE: {fa:.4f} -> {fb:.4f}")
            bad += 1
        for m in pa[0]["result"]["metrics"]:
            spec = specs.get(m)
            if spec is None:
                continue
            xa = [r["result"]["metrics"][m]["value"] for r in pa]
            xb = [r["result"]["metrics"][m]["value"] for r in pb]
            if "bound" not in spec:  # per-layer: describe, no verdict
                _, ma, _ = quartiles(xa)
                _, mb, _ = quartiles(xb)
                print(f"  {m:32s} {ma:12.6g} -> {mb:12.6g}")
                continue
            v = verdict(xa, xb, spec["bound"], spec["better"])
            bad += v["verdict"] == "worse"
            print(
                f"  {m:14s} parent {v['parent_median']:.6g} [{v['parent_q1']:.6g}, {v['parent_q3']:.6g}]"
                f"  change {v['change_median']:.6g} [{v['change_q1']:.6g}, {v['change_q3']:.6g}]"
                f"  wins {v['win_frac']:.2f}  {v['verdict'].upper()}"
            )
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    if len(argv) == 1:
        summarise(load(argv[0]))
        return 0
    if len(argv) == 2:
        return compare(load(argv[0]), load(argv[1]))
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
