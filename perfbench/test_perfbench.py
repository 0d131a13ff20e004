"""Unit tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, spans, stats  # noqa: E402

# -- tail percentile ----------------------------------------------------


@pytest.mark.parametrize(
    "n, percentile, beyond",
    [(1000, 99.0, 10), (100, 90.0, 10), (40, 75.0, 10), (200, 95.0, 10), (101, 90.0, 10)],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, percentile, beyond):
    xs = [float(i) for i in range(n)]
    t = stats.tail(xs)
    assert t["percentile"] == percentile
    assert t["beyond"] >= beyond
    assert sum(1 for x in xs if x > t["value"]) == t["beyond"]
    # no higher grid percentile has ten samples beyond it
    for p in stats.TAIL_GRID:
        if p > percentile:
            assert stats.nearest_rank(sorted(xs), p)[1] < stats.MIN_BEYOND


def test_tail_falls_back_to_median_when_samples_are_few():
    xs = [3.0, 1.0, 2.0, 5.0, 4.0, 9.0]
    t = stats.tail(xs)
    assert t["percentile"] == 50.0
    assert t["value"] == 3.5
    assert t["n"] == 6


# -- self time ---------------------------------------------------------


def _span(sid, parent, start, end, name="x.y"):
    s = spans.Span(sid, name, 0, parent, start)
    s.end = end
    return s


def test_self_time_nested_and_overlapping_children():
    sp = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),  # child
        _span(2, 0, 3.0, 6.0),  # overlaps child 1 by one second
        _span(3, 1, 1.5, 2.0),  # grandchild: counts against span 1 only
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped to [9, 10]
    ]
    st = spans.self_times(sp)
    assert st[0] == pytest.approx(10.0 - (5.0 + 1.0))  # union [1,6] + [9,10]
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)


def test_covered_merges_touching_and_disjoint_intervals():
    assert spans.covered([(0, 1), (1, 2), (5, 6)], 0, 10) == pytest.approx(3.0)
    assert spans.covered([], 0, 10) == 0.0
    assert spans.covered([(-5, 20)], 0, 10) == pytest.approx(10.0)


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(enabled=False)
    with t.span("delta_log.commit") as s:
        assert s is None
    assert t.spans == []


def test_enabled_tracer_links_parents_and_ops():
    t = spans.Tracer(enabled=True)
    t.begin_op(7)
    with t.span("bench.w"):
        with t.span("delta_log.commit"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert {s.op for s in t.spans} == {7}
    assert inner.layer == "delta_log"


# -- compare verdict ---------------------------------------------------


def test_verdict_improved_needs_wins_and_separation():
    parent = [1.00, 1.02, 0.98, 1.01, 0.99, 1.00, 1.03, 0.97, 1.01, 0.99]
    change = [x * 0.8 for x in parent]
    assert stats.verdict(parent, change, 0.1, "lower")["verdict"] == "improved"
    # higher-is-better metrics flip the direction
    assert stats.verdict(change, parent, 0.1, "higher")["verdict"] == "improved"


def test_verdict_worse_beyond_bound():
    parent = [1.00, 1.02, 0.98, 1.01, 0.99, 1.00, 1.03, 0.97, 1.01, 0.99]
    change = [x * 1.2 for x in parent]
    assert stats.verdict(parent, change, 0.1, "lower")["verdict"] == "worse"


def test_verdict_within_bound_for_small_noise():
    parent = [1.00, 1.02, 0.98, 1.01, 0.99, 1.00, 1.03, 0.97, 1.01, 0.99]
    change = [x * 1.03 for x in parent[::-1]]
    assert stats.verdict(parent, change, 0.1, "lower")["verdict"] == "within bound"


def test_verdict_unresolved_when_parent_spread_exceeds_bound():
    parent = [1.0, 1.5, 0.6, 1.3, 0.7, 1.0, 1.4, 0.65, 1.2, 0.8]
    change = [x * 1.05 for x in parent[::-1]]
    assert stats.verdict(parent, change, 0.1, "lower")["verdict"] == "unresolved"
    # ...unless every change run beats every parent run
    assert stats.verdict(parent, [0.1] * 10, 0.1, "lower")["verdict"] == "improved"


def test_verdict_ties_count_for_neither_side():
    v = stats.verdict([1.0] * 10, [1.0] * 10, 0.1, "lower")
    assert v["win_frac"] == 0.0 and v["verdict"] == "within bound"


# -- generators ----------------------------------------------------------


def test_slot_generator_is_deterministic():
    a0 = gen.make_slot(5, 0, None, n=500)
    b0 = gen.make_slot(5, 0, None, n=500)
    assert a0.data.tobytes() == b0.data.tobytes()
    a1 = gen.make_slot(5, 1, a0, n=500)
    b1 = gen.make_slot(5, 1, b0, n=500)
    assert a1.data.tobytes() == b1.data.tobytes()
    assert a1.table().equals(b1.table())
    assert gen.make_slot(6, 0, None, n=500).data.tobytes() != a0.data.tobytes()


def test_slot_repeats_are_exact_copies_of_the_previous_slot():
    s0 = gen.make_slot(3, 0, None, n=1000)
    s1 = gen.make_slot(3, 1, s0, n=1000)
    old = set(s0.md5s())
    shared = [h for h in s1.md5s() if h in old]
    assert len(shared) == round(1000 * gen.REPEAT_FRAC)
    assert len(set(s0.md5s())) == 1000  # fresh payloads never collide


def test_payload_header_decodes_to_pixel_location():
    from satellite_data_ingestion_spark.llm.multimodal import decode_bmp

    s = gen.make_slot(9, 0, None, n=50)
    for i in range(50):
        d = decode_bmp(s.payload(i))
        assert (d["width"], d["height"]) == (s.col[i], s.row[i])
        assert d["n_bytes"] == s.lengths[i]


def test_expected_grid_matches_a_per_pixel_loop():
    s = gen.make_slot(4, 0, None, n=3000)
    want: dict = {}
    west, south, east, north = gen.BBOX
    for c, r, nb in zip(s.col, s.row, s.lengths):
        lon = gen.LON0 + (float(c) + 0.5) * gen.RES
        lat = gen.LAT0 + (float(r) + 0.5) * gen.RES
        if west <= lon < east and south <= lat < north:
            key = (int((lon - west) // gen.GRID_DEG), int((lat - south) // gen.GRID_DEG))
            n0, b0 = want.get(key, (0, 0))
            want[key] = (n0 + 1, b0 + int(nb))
    assert gen.expected_grid(s) == want
    assert 0 < sum(n for n, _ in want.values()) < 3000  # the clip drops some


def test_standing_inputs_are_deterministic_and_distinct():
    h = [gen.standing_hashes(2, k)["md5"] for k in range(3)]
    assert list(h[0]) == list(gen.standing_hashes(2, 0)["md5"])
    flat = [x for arr in h for x in arr]
    assert len(set(flat)) == len(flat) and all(len(x) == 32 for x in flat)
    probe, n_known = gen.probe_batch(2, 0, known_slots=3)
    assert len(set(probe)) == gen.PROBE_ROWS
    assert len(set(probe) & set(flat)) == n_known
    again, _ = gen.probe_batch(2, 0, known_slots=3)
    assert list(again) == list(probe)
    g = gen.standing_grid(2, 1)
    assert g["cell_x"].tobytes() == gen.standing_grid(2, 1)["cell_x"].tobytes()
    assert len(set(zip(g["cell_x"], g["cell_y"]))) == gen.STANDING_CELLS


def test_md5_matches_hashlib():
    s = gen.make_slot(1, 0, None, n=10)
    assert s.md5s()[3] == hashlib.md5(s.payload(3)).hexdigest()


# -- the metric declaration -----------------------------------------------


def test_benchmark_json_declares_exactly_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == harness.END_TO_END
    assert layer == harness.PER_LAYER
    assert e2e["setup_s"] == "s"
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )


def test_benchmark_json_keeps_the_file_format_limits():
    import re

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(name.match(n) for n in names) and len(set(names)) == len(names)
    assert 2 <= len(bench["workloads"]) <= 8
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        assert unit.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    assert 1 <= bench["run_seconds"] <= 60 and isinstance(bench["run_seconds"], int)
    from perfbench.run import WORKLOADS

    assert set(w["name"] for w in bench["workloads"]) <= set(WORKLOADS)


def test_measure_runs_whole_rounds_and_counts_raising_ops_as_failed():
    class Flaky(harness.Workload):
        name = "flaky"
        round_size = 3

        def op(self, op, step):
            if step == 1:
                raise RuntimeError("boom")
            return True

    wl = Flaky(None, "", 0, spans.Tracer(enabled=False))
    recs = harness.measure(wl, 0.0, trace=False)
    assert [r.ok for r in recs] == [True, False, True]
    traced = harness.measure(Flaky(None, "", 0, spans.Tracer(enabled=False)), 0.0, trace=True)
    assert len(traced) == 6 and [r.traced for r in traced] == [False] * 3 + [True] * 3
