"""Guard for the bench headline's driver-parseability (the round-3
lesson, sibling of the r1 HUGEINT and r2 list-column guards): the LAST
stdout line bench.py prints must parse as JSON and fit the driver's tail
capture, no matter how many lanes the suite grows."""

from __future__ import annotations

import json

from bench import compact_summary


def _fake_result(n_lanes: int) -> dict:
    return {
        "metric": "headline_suite_wall_sec",
        "value": 123.456,
        "unit": "sec",
        "queries": {f"lane_{i:03d}": 1.234 for i in range(n_lanes)},
        "sf": "/root/testdata/sf0.1",
        "cpus": 32,
        "extras": {"rolled_up_points_per_sec": 1.6e7},
    }


def test_summary_parses_and_fits_tail_budget():
    line = compact_summary(_fake_result(200))  # far past today's lane count
    assert len(line.encode()) <= 200
    got = json.loads(line)
    assert got["metric"] == "headline_suite_wall_sec"
    assert got["value"] == 123.456
    assert got["unit"] == "sec"
    assert got["lanes"] == 200


def test_summary_is_independent_of_lane_count():
    a = json.loads(compact_summary(_fake_result(1)))
    b = json.loads(compact_summary(_fake_result(500)))
    assert a["value"] == b["value"]
    assert len(compact_summary(_fake_result(500)).encode()) <= 200

