"""Bench-harness unit tests: the compact final line is the part of the
bench its recorder parses, so its JSON and length contract gets direct
coverage without a Spark sweep."""

from __future__ import annotations

import json

import bench


def test_head_line_is_compact_json_within_budget():
    """The bench's final line is built from the detail record alone (no
    Spark sweep needed) and parses as compact JSON: it names the detail
    file, keeps the slowest queries first, and elides the rest to stay
    under the recorder's ~2000-character window."""
    timings = {f"query_{i:03d}": round(0.5 + i / 100, 3) for i in range(200)}
    detail = {
        "value": round(sum(timings.values()), 3),
        "queries": timings,
        "sf": 0.1,
        "sweeps": 3,
        "cpu_steal_pct": 0.4,
    }
    line = bench._head_line(detail, "BENCH_DETAIL.json")
    head = json.loads(line)
    assert line == json.dumps(head, separators=(",", ":"))
    assert len(line) <= 1900
    assert list(head) == [
        "metric",
        "value",
        "unit",
        "estimator",
        "sf",
        "sweeps",
        "cpu_steal_pct",
        "queries_total",
        "queries_elided",
        "detail",
        "queries",
    ]
    assert head["detail"] == "BENCH_DETAIL.json"
    assert head["queries_total"] == 200
    assert head["queries_elided"] == 200 - len(head["queries"]) > 0
    kept = list(head["queries"])
    assert kept == sorted(timings, key=lambda n: -timings[n])[: len(kept)]
