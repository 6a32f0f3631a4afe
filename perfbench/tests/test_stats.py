"""The benchmark's arithmetic on stub data, with no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import stats  # noqa: E402
import tracing  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7.0], 50) == 7.0
    assert stats.percentile([3, 1, 2], 50) == 2


def test_tail_picks_highest_percentile_with_ten_samples_beyond():
    assert stats.tail(list(range(1, 101))) == (90.0, 90, 100)  # p95 has only 5 beyond
    assert stats.tail(list(range(1, 1001))) == (99.0, 990, 1000)
    assert stats.tail(list(range(1, 21))) == (50.0, 10, 20)
    assert stats.tail(list(range(1, 20))) is None  # 9 beyond the median
    assert stats.beyond(100, 90) == 10


def test_union_and_driver_gap():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (5.0, 5.0)]
    assert stats.union(jobs) == [(1.0, 4.0), (6.0, 7.0)]
    assert stats.covered(jobs, (0.0, 10.0)) == 4.0
    assert stats.driver_gap((0.0, 10.0), jobs) == 6.0
    # jobs are clipped to the window
    assert stats.covered([(-1.0, 1.0), (9.0, 12.0)], (0.0, 10.0)) == 2.0
    assert stats.driver_gap((0.0, 2.0), []) == 2.0


def test_self_time_subtracts_union_of_children():
    spans = [
        (0, None, 0.0, 10.0),
        (1, 0, 1.0, 3.0),
        (2, 0, 2.0, 5.0),  # overlaps its sibling (pool thread)
        (3, 2, 2.5, 3.5),
    ]
    own = stats.self_times(spans)
    assert own == {0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0}
    assert sum(own.values()) == 11.0  # overlap counts twice, once per thread


def test_jobs_go_to_innermost_span_at_submission():
    spans = [(0, 0.0, 10.0), (1, 1.0, 5.0), (2, 2.0, 3.0), (3, 1.0, 4.0)]
    assert stats.innermost(spans, 2.5) == 2
    assert stats.innermost(spans, 4.5) == 1
    assert stats.innermost(spans, 1.5) == 3  # same start: the shorter one
    assert stats.innermost(spans, 11.0) is None
    assert stats.attribute(spans, {7: 2.5, 8: 9.0, 9: 12.0}) == {7: 2, 8: 0, 9: None}


def test_tmp_accounting(tmp_path):
    (tmp_path / "old").mkdir()
    before = stats.tmp_snapshot(str(tmp_path))
    new = tmp_path / "lake_x"
    (new / "part").mkdir(parents=True)
    (new / "part" / "a.parquet").write_bytes(b"x" * 100)
    (new / "b").write_bytes(b"y" * 20)
    (tmp_path / "file.tmp").write_bytes(b"z" * 5)
    (tmp_path / "old").rmdir()
    assert stats.tmp_left(str(tmp_path), before) == (2, 125)
    assert stats.tmp_snapshot(str(tmp_path / "missing")) == set()


def test_metric_value_parses_rest_strings():
    assert tracing.metric_value("1,234") == 1234
    assert tracing.metric_value("12.0 KiB") == 12 * 1024
    assert tracing.metric_value("total (min, med, max (stageId: taskId))\n1.5 MiB (0.1 MiB, 0.5 MiB, 0.9 MiB)") == 1.5 * 2**20
    assert tracing.metric_value("") == 0.0


def _span(i, name, layer, start, end, parent, **attrs):
    return tracing.Span(i, name, layer, start, end, parent, "q1", 0, dict(attrs))


def test_pass_metrics_on_stub_spans_and_jobs():
    tracer = tracing.Tracer()
    tracer.spans = [
        _span(0, "pass", "pass", 100.0, 110.0, None),
        _span(1, "q1", "query", 100.0, 106.0, 0),
        _span(2, "datalake.merge_scd2", "datalake", 101.0, 105.0, 1, files_rewritten=3, key_path="distributed"),
        _span(3, "sink", "sink", 105.0, 106.0, 1),
        _span(4, "q0", "query", 90.0, 95.0, None),  # an earlier pass: ignored
    ]
    jobs = [
        {"id": 1, "start": 102.0, "end": 103.0, "stages": [1]},
        {"id": 2, "start": 105.5, "end": 105.8, "stages": [2, 3]},
    ]
    stages = {
        1: {"numCompleteTasks": 4, "executorCpuTime": 2e9, "shuffleWriteBytes": 2e6, "jvmGcTime": 10},
        2: {"numCompleteTasks": 1, "executorCpuTime": 1e9, "inputBytes": 5e6},
    }  # stage 3 was skipped
    listener = tracing.StreamListener()
    m = tracing.pass_metrics(tracer, listener, (100.0, 110.0), jobs, stages, [])
    assert m["pass.self_s"] == 4.0 and m["query.self_s"] == 1.0
    assert m["datalake.self_s"] == 4.0 and m["sink.self_s"] == 1.0
    assert m["datalake.jobs"] == 1 and m["sink.jobs"] == 1 and m["query.jobs"] == 0
    assert m["datalake.merge_scd2.s"] == 4.0 and m["datalake.merge_scd2.jobs"] == 1
    assert m["datalake.files_rewritten"] == 3 and m["datalake.key_path_distributed"] == 1
    assert m["spark.jobs"] == 2 and m["spark.stages"] == 2 and m["spark.tasks"] == 5
    assert m["spark.job_s"] == pytest.approx(1.3)
    assert m["spark.driver_gap_s"] == pytest.approx(8.7)
    assert m["spark.executor_cpu_s"] == 3.0 and m["spark.gc_s"] == 0.01
    assert m["spark.shuffle_write_mb"] == 2.0 and m["spark.input_mb"] == 5.0
    assert m["streaming.batches"] == 0 and m["streaming.jobs_per_batch"] == 0.0


def test_tracer_patches_and_restores_layers():
    from dataengineeringpipeline_spark import cleaning, datalake
    from dataengineeringpipeline_spark.operators import corpus

    original, method = cleaning.clean_orders, datalake.Lake.merge_scd2
    tracer = tracing.Tracer()
    tracer.install()
    try:
        assert cleaning.clean_orders is not original and cleaning.clean_orders.__wrapped__ is original
        assert datalake.Lake.merge_scd2.__wrapped__ is method
        # corpus bound dedup_survivors with ``from .dedup import`` before patching
        pkg = "dataengineeringpipeline_spark.operators"
        assert corpus.__name__ == f"{pkg}.corpus"
        assert f"{pkg}.corpus.dedup_survivors -> {pkg}.dedup.dedup_survivors" in tracer.unseen
    finally:
        tracer.uninstall()
    assert cleaning.clean_orders is original and datalake.Lake.merge_scd2 is method


def test_tracer_nests_spans_and_keeps_lake_audits():
    tracer = tracing.Tracer()
    traced = tracer._wrap(lambda: {"files_rewritten": 2, "key_path": "broadcast"}, "datalake.merge_changes", "datalake")
    with tracer.span("q", "query") as outer:
        traced()
    inner = tracer.spans[1]
    assert inner.parent == outer.id and inner.layer == "datalake"
    assert inner.attrs == {"files_rewritten": 2, "key_path": "broadcast"}
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_load_expected_refuses_other_tables(tmp_path, monkeypatch):
    import json

    import check

    data = tmp_path / "sf"
    data.mkdir()
    (data / "orders.parquet").write_bytes(b"PAR1 rows PAR1")
    digests = tmp_path / "digests.json"
    digests.write_text(json.dumps({
        "data": check.data_manifest(str(data)),
        "queries": {"q": {"digest": [1, "2"]}},
    }))
    monkeypatch.setattr(check, "DIGESTS", str(digests))
    assert check.load_expected(str(data)) == {"q": [1, "2"]}
    (data / "orders.parquet").write_bytes(b"PAR1 other rows PAR1")
    with pytest.raises(ValueError):
        check.load_expected(str(data))


def test_layer_report_prints_every_per_layer_metric_of_the_benchmark():
    import json

    import run

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    one_pass = {"wall": 2.0, "cpu": 6.0, "slowdown": 1.5, "jit": 3.0, "tmp.dirs_left": 1, "tmp.mb_left": 0.5}
    layer, detail = run.layer_report(
        [{"spark.jobs": 3, "sink.self_s": 1.5}], [2.2], [one_pass], {"start": 5.0, "warmup": 1.0, "slowdown": 1.2},
        {"cache.persists": 2, "cache.released": 2}, [one_pass, one_pass], [30.0, 10.0, 20.0], {"exact_dedup": [0.3]},
    )
    assert {k: u for k, (_v, u) in layer.items()} == declared
    assert layer["session.start_s"][0] == 5.0 and layer["spark.jobs"][0] == 3
    assert layer["trace.overhead_pct"][0] == pytest.approx(10.0)
    assert layer["streaming.batch_p50_ms"][0] == 20.0 and detail["streaming.batch_samples"][0] == 3
    assert layer["cache.persists"][0] == 1.0 and layer["tmp.mb_left"][0] == 0.5
    assert layer["query.exact_dedup.s"][0] == 0.3 and layer["query.dq_rule_report.s"][0] == 0.0
    assert layer["pass_cpu_s"][0] == 4.0 and layer["jvm.jit_cpu_s"][0] == 3.0
    assert layer["host.slowdown"][0] == 1.5


def test_host_slowdown_is_the_median_loop_cost_in_the_window_over_the_reference():
    import run

    probe = run.HostProbe.__new__(run.HostProbe)  # no child process
    ref = run.HostProbe.REF_LOOP_S
    probe.samples = [(10.0, 9 * ref), (11.0, ref), (12.0, 2 * ref), (13.0, 3 * ref), (20.0, 9 * ref)]
    assert probe.slowdown(11.0, 13.0) == pytest.approx(2.0)
    # a window with no sample falls back to every sample
    assert probe.slowdown(30.0, 31.0) == pytest.approx(3.0)
    assert run.ref_cpu_s({"cpu": 9.0, "slowdown": 1.5}) == pytest.approx(6.0)
