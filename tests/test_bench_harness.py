"""Bench-harness unit tests: the cross-round movers baseline and the
fresh-process reprobe protocol (round 11's adjudication fix — the part
of the bench a judge relies on to tell a host-regime artifact from a
real regression, so it gets direct coverage)."""

from __future__ import annotations

import json
import os

import bench


def _write(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def test_prior_round_minima_picks_highest_round_same_sf(tmp_path):
    """The movers baseline is the highest-numbered committed round
    record AT THE SAME SCALE — never an older round, never a
    different-sf record (a local low-sf iteration run must not become
    the baseline)."""
    _write(
        str(tmp_path / "BENCH_r09.json"),
        {"parsed": {"sf": 0.1, "queries": {"q": 9.0}}},
    )
    _write(
        str(tmp_path / "BENCH_r10.json"),
        {"parsed": {"sf": 0.1, "queries": {"q": 1.5, "r": 2.5}}},
    )
    minima, src = bench._prior_round_minima(str(tmp_path), 0.1)
    assert src == "BENCH_r10.json"
    assert minima == {"q": 1.5, "r": 2.5}
    # highest round exists but at another sf: NOT comparable, no baseline
    _write(
        str(tmp_path / "BENCH_r11.json"),
        {"parsed": {"sf": 0.001, "queries": {"q": 0.1}}},
    )
    minima, src = bench._prior_round_minima(str(tmp_path), 0.1)
    assert (minima, src) == ({}, "")


def test_prior_round_minima_tolerates_missing_and_malformed(tmp_path):
    """No records, unreadable JSON, or a record without parsed.queries
    must all degrade to 'no baseline' (the bench still runs; the
    reprobe block just stays empty) instead of crashing the bench."""
    assert bench._prior_round_minima(str(tmp_path), 0.1) == ({}, "")
    with open(str(tmp_path / "BENCH_r10.json"), "w") as f:
        f.write("{not json")
    assert bench._prior_round_minima(str(tmp_path), 0.1) == ({}, "")
    _write(str(tmp_path / "BENCH_r10.json"), {"parsed": {"sf": 0.1}})
    minima, _src = bench._prior_round_minima(str(tmp_path), 0.1)
    assert minima == {}  # same-sf record without queries: empty baseline
    # non-numeric entries are dropped, numeric ones survive
    _write(
        str(tmp_path / "BENCH_r10.json"),
        {"parsed": {"sf": 0.1, "queries": {"good": 2.0, "bad": "x"}}},
    )
    minima, src = bench._prior_round_minima(str(tmp_path), 0.1)
    assert minima == {"good": 2.0} and src == "BENCH_r10.json"


def test_current_round_is_one_past_highest_committed_record(tmp_path):
    """The per-round detail file (BENCH_DETAIL_r{N}.json) is numbered
    one past the highest committed BENCH_r*.json — the round the run
    belongs to — so a later ad-hoc run can never clobber a prior
    round's reprobe adjudication. No records at all ⇒ 0 (no per-round
    file written)."""
    assert bench._current_round(str(tmp_path)) == 0
    _write(str(tmp_path / "BENCH_r09.json"), {})
    _write(str(tmp_path / "BENCH_r11.json"), {})
    assert bench._current_round(str(tmp_path)) == 12
    (tmp_path / "BENCH_rXX.json").write_text("{}")  # non-numeric: ignored
    assert bench._current_round(str(tmp_path)) == 12


def test_detail_paths_guard_blocks_cross_cpu_clobber(tmp_path):
    """A different-core-count rerun must not overwrite the round's
    per-round detail (its reprobe adjudication is the committed
    artifact); a same-cpus rerun replaces it, and a missing/unreadable
    file is always written."""
    legacy = str(tmp_path / "BENCH_DETAIL.json")
    _write(str(tmp_path / "BENCH_r11.json"), {})  # round -> 12
    per_round = str(tmp_path / "BENCH_DETAIL_r12.json")
    # absent: written
    assert bench._detail_paths(str(tmp_path), legacy, 32) == [legacy, per_round]
    # existing 32-core record: 8-core rerun skips it, 32-core replaces
    _write(per_round, {"cpus": 32})
    assert bench._detail_paths(str(tmp_path), legacy, 8) == [legacy]
    assert bench._detail_paths(str(tmp_path), legacy, 32) == [legacy, per_round]
    # legacy record without a cpus field: conservatively replaceable
    _write(per_round, {"value": 1.0})
    assert bench._detail_paths(str(tmp_path), legacy, 8) == [legacy, per_round]
    # unreadable: written
    with open(per_round, "w") as f:
        f.write("{not json")
    assert bench._detail_paths(str(tmp_path), legacy, 8) == [legacy, per_round]
    # no committed round record at all: only the legacy path
    (tmp_path / "BENCH_r11.json").unlink()
    assert bench._detail_paths(str(tmp_path), legacy, 32) == [legacy]


def test_reprobe_child_runs_in_fresh_process(spark, sf_dir):
    """End-to-end over the real subprocess seam: the child gets its own
    interpreter + JVM (the whole point — the host regime is
    process-scoped), runs the named queries, and reports parseable
    timings plus its own calibration. Unknown names are skipped, not
    fatal."""
    cpus = 4
    timings, calib, err, q_errs = bench._run_reprobe_subprocess(
        [("silver_orders", 2.0), ("no_such_query", 3.0)],
        sf_dir,
        cpus,
        timeout_s=300.0,
    )
    assert err is None
    assert set(timings) == {"silver_orders"}
    assert timings["silver_orders"] > 0
    assert q_errs == {}  # nothing raised; unknown names just skipped
    assert calib and calib["md5_s"] > 0 and calib["arrow_s"] > 0


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
        "calibration": [{"md5_s": 1.0}, {"md5_s": 1.5}],
        "reprobe": {"query_199": {"prev_min": 1.0}},
    }
    line = bench._head_line(detail, "BENCH_DETAIL_r13.json", "BENCH_r12.json")
    head = json.loads(line)
    assert line == json.dumps(head, separators=(",", ":"))
    assert len(line) <= 1900
    assert head["detail"] == "BENCH_DETAIL_r13.json"
    assert head["reprobe_baseline"] == "BENCH_r12.json"
    assert head["calibration_drift"] == 1.5 and head["reprobed_movers"] == 1
    assert head["queries_total"] == 200
    assert head["queries_elided"] == 200 - len(head["queries"]) > 0
    kept = list(head["queries"])
    assert kept == sorted(timings, key=lambda n: -timings[n])[: len(kept)]
