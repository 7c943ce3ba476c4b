"""Self-tests of the benchmark's pure helpers; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import geodata  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from stats import (  # noqa: E402
    aggregate_groups,
    layer_totals,
    nearest_rank,
    self_times,
    tail_percentile,
    timing_summary,
)


# ------------------------------------------------------------ percentiles


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile([]) is None
    # n=11: only the minimum has 10 samples above it.
    assert tail_percentile(list(range(11))) == (9, 0, 10)


@pytest.mark.parametrize("n", [11, 12, 16, 20, 37, 100, 101, 1000])
def test_tail_is_highest_qualifying_percentile(n):
    vals = [float(v) for v in np.random.default_rng(n).permutation(n)]
    p, value, beyond = tail_percentile(vals)
    assert beyond >= 10
    assert sum(v > value for v in vals) == beyond
    assert nearest_rank(vals, p) == value
    # one percent higher would leave fewer than 10 samples beyond
    higher = nearest_rank(vals, p + 1)
    assert sum(v > higher for v in vals) < 10


def test_tail_at_one_hundred_samples_is_p90():
    assert tail_percentile(list(range(100))) == (90, 89, 10)


def test_timing_summary_reports_count():
    s = timing_summary([3.0, 1.0, 2.0] * 4)
    assert s["n"] == 12 and s["p50"] == 2.0
    assert s["tail_p"] == 16 and s["tail_beyond"] == 10


# -------------------------------------------------------------- span self


def _span(i, parent, start, end, name="x", op="t0"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name, "op": op}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 3.0, "a"),
        _span(2, 0, 2.0, 5.0, "b"),  # overlaps a: covered [1, 5]
        _span(3, 0, 9.0, 12.0, "c"),  # clipped to the parent's end
        _span(4, 2, 2.5, 3.5, "d"),  # grandchild: not subtracted from op
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(1.0)


def test_layer_totals_sum_self_time_and_count():
    spans = [
        _span(0, None, 0.0, 4.0, "op"),
        _span(1, 0, 0.0, 1.0, "check"),
        _span(2, None, 4.0, 6.0, "op", op="t1"),
        _span(3, 2, 5.0, 6.0, "check", op="t1"),
    ]
    t = layer_totals(spans)
    assert t["op"] == {"self_s": 4.0, "total_s": 6.0, "count": 2}
    assert t["check"]["count"] == 2 and t["check"]["self_s"] == 2.0


# ------------------------------------------------------- group counters


def test_aggregate_groups_counts_shared_stages_once():
    stages = {
        1: {"tasks": 4, "executor_run_ms": 100, "input_records": 10},
        2: {"tasks": 2, "executor_run_ms": 50, "failed_tasks": 1},
        3: {"tasks": 1, "executor_run_ms": 5},
    }
    jobs = [
        {"job_id": 0, "group": "pb0-exec", "stage_ids": [1]},
        {"job_id": 1, "group": "pb0-exec", "stage_ids": [1, 2]},  # reuses stage 1
        {"job_id": 2, "group": "pb0-build", "stage_ids": [3, 99]},  # 99 skipped
    ]
    out = aggregate_groups(jobs, stages)
    ex = out["pb0-exec"]
    assert ex["jobs"] == 2 and ex["stages"] == 2
    assert ex["tasks"] == 6 and ex["executor_run_ms"] == 150
    assert ex["failed_tasks"] == 1 and ex["input_records"] == 10
    assert out["pb0-build"]["stages"] == 1 and out["pb0-build"]["jobs"] == 1


# ------------------------------------------------------ seed determinism


def _schedule(w, seed, rounds=3):
    rng = np.random.default_rng([seed, 1])
    return [op for _ in range(rounds) for op in w.round(rng)]


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_schedule(name):
    a = _schedule(workloads.WORKLOADS[name](), 7)
    b = _schedule(workloads.WORKLOADS[name](), 7)
    c = _schedule(workloads.WORKLOADS[name](), 8)
    assert a == b
    assert a != c


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_every_round_holds_the_same_op_types(name):
    w = workloads.WORKLOADS[name]()
    rng = np.random.default_rng([3, 1])
    rounds = [sorted((op.kind, op.name) for op in w.round(rng)) for _ in range(4)]
    assert all(r == rounds[0] for r in rounds)


def _digest(g: geodata.GeoInput) -> str:
    h = hashlib.sha256()
    for v in g.table.column("geometry").to_pylist():
        h.update(v)
    for a in (g.xmin, g.ymin, g.xmax, g.ymax, g.area, g.is_polygon):
        h.update(a.tobytes())
    return h.hexdigest()


def test_same_seed_byte_identical_geo_input():
    assert _digest(geodata.generate(5, 3000)) == _digest(geodata.generate(5, 3000))
    assert _digest(geodata.generate(5, 3000)) != _digest(geodata.generate(6, 3000))


def test_geo_truth_matches_engine_decoder():
    from geoparquet_python_spark.geo import wkb

    g = geodata.generate(11, 2000)
    geoms = [wkb.decode(v) for v in g.table.column("geometry").to_pylist()]
    boxes = np.array([wkb.bbox(x) for x in geoms])
    assert np.array_equal(boxes, np.column_stack([g.xmin, g.ymin, g.xmax, g.ymax]))
    areas = np.array([wkb.area(x) for x in geoms])
    assert np.allclose(areas, g.area, rtol=0, atol=geodata.AREA_ABS_TOL)
    assert 0.05 < g.is_polygon.mean() < 0.15
    whole = g.window_truth(geodata.EXTENT)
    assert whole["n"] == g.rows and [whole[k] for k in ("xmin", "ymin", "xmax", "ymax")] == g.bbox()


def test_window_share_of_extent():
    rng = np.random.default_rng(0)
    x0, y0, x1, y1 = geodata.EXTENT
    for share in geodata.WINDOW_SHARES:
        a, b, c, d = geodata.draw_window(rng, share)
        assert x0 <= a < c <= x1 and y0 <= b < d <= y1
        assert (c - a) * (d - b) == pytest.approx(share * (x1 - x0) * (y1 - y0), rel=1e-4)


# ------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
