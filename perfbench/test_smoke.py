"""Smoke test of the benchmark itself: tiny inputs for every workload in
both modes, the event-log parser on a recorded log, and planted wrong
outputs that the checks must catch.

    python3 -m pytest -q perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog, inputs, run, tracing, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDED_LOG = os.path.join(HERE, "fixtures", "eventlog_extract_commit.jsonl")


@pytest.fixture(autouse=True, scope="module")
def state_dir(tmp_path_factory):
    """Run records and scratch go to a temporary dir, not the checkout's."""
    saved = run.STATE
    run.STATE = str(tmp_path_factory.mktemp("perfbench"))
    yield
    run.STATE = saved


@pytest.fixture
def tiny(monkeypatch):
    for name, value in [("OCR_IMAGES", 10), ("COMMIT_MEDIA", 48), ("SKEWED_MEDIA", 40),
                        ("RAW_SAMPLE", 6), ("TRACE_OPS", 1), ("WARM_OPS", 1),
                        ("COMMIT_WARM_OPS", 1),
                        ("BATTERY_TIMED", ("q1_pricing_summary", "dedup_exact"))]:
        monkeypatch.setattr(workloads, name, value)


@pytest.fixture(scope="module")
def spark_env(state_dir):
    """One JVM for the module; traced runs turn the event log on."""
    ctx = run.Context("smoke", 0, True)
    ctx.configure_spark(True)
    yield ctx
    ctx.stop_rss()
    run._stop_jvm()


def _spec_names(key):
    return {m["name"] for m in run.load_spec()[key]}


def _ctx(workload, traced, spark_env=None):
    ctx = run.Context(workload, 0, traced)
    if spark_env is not None:  # share the module JVM's scratch and event log
        ctx.work = spark_env.work
    return ctx


def test_recorder_self_times_account_for_the_root():
    rec = tracing.Recorder("t")
    with rec.span("root"):
        with rec.span("a"):
            with rec.span("a.child"):
                sum(range(10000))
        with rec.span("b"):
            sum(range(10000))
    self_s = rec.self_times()
    assert set(self_s) == {"root", "a", "a.child", "b"}
    assert sum(self_s.values()) == pytest.approx(rec.total("root"), rel=1e-9)
    assert all(v >= 0 for v in self_s.values())


def test_wrappers_are_removed_after_the_traced_block():
    from onnxocr_spark.ocr import textsystem

    before = textsystem.ocr_image_text
    rec = tracing.Recorder("t")
    with rec.install(tracing.ocr_wrappers()):
        assert textsystem.ocr_image_text is not before
    assert textsystem.ocr_image_text is before


def test_parser_on_recorded_event_log():
    log = eventlog.parse(RECORDED_LOG)
    assert log.jobs and all(j.end_ms >= j.submit_ms for j in log.jobs.values())
    jobs = log.jobs_between(0, float("inf"))
    ocr = log.tasks_of(jobs, scope="MapInPandas")
    assert ocr, "the OCR stage (MapInPandas) is found"
    tot = eventlog.task_totals(log.tasks_of(jobs))
    assert tot["task_s"] >= eventlog.task_totals(ocr)["task_s"] > 0
    assert tot["bytes_written"] > 0 and tot["records_read"] > 0
    bal = eventlog.stage_balance(ocr, slots=4)
    assert bal["task_max_over_median"] >= 1.0
    assert 0.0 <= bal["slot_idle_share"] < 1.0
    assert all(j.call_site for j in jobs)
    # a window before the first job holds nothing
    first = min(j.submit_ms for j in jobs)
    assert log.jobs_between(0, first - 1) == []


def test_gc_log_reader(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.004s][info][gc] Using G1\n"
        "[1.500s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) "
        "300M->100M(512M) 4.000ms\n"
        "[2.000s][info][gc] GC(1) Pause Remark 350M->350M(512M) 2.000ms\n"
        "[3.000s][info][gc] GC(2) Pause Young (Normal) (G1 Evacuation Pause) "
        "1G->200M(2G) 6.000ms\n")
    early = eventlog.parse_gc_log(str(log), until_s=2.5)
    assert early == {"jvm.heap_used_peak_mb": 350.0, "jvm.heap_live_peak_mb": 100.0,
                     "jvm.heap_committed_peak_mb": 512.0, "jvm.gc_pause_s": 0.006}
    whole = eventlog.parse_gc_log(str(log), until_s=10)
    assert whole["jvm.heap_used_peak_mb"] == 1024.0
    assert whole["jvm.heap_live_peak_mb"] == 200.0


def test_ocr_tensor_tiny(tiny):
    for traced in (False, True):
        res = workloads.ocr_tensor(1, 0.01, traced, _ctx("ocr_tensor", traced))
        assert not res.mismatches and res.failed == 0
        assert set(res.metrics) | {"python_peak_rss_mb"} == _spec_names("end_to_end")
        assert set(res.layers) <= _spec_names("per_layer")
        if traced:
            layer_self = sum(res.layers[m] for m in tracing.OCR_LAYER_SPANS)
            assert layer_self == pytest.approx(res.layers["ocr.textsystem.wall_s"], rel=1e-6)
            assert res.layers["ocr.boxes"] > 0 and res.layers["kernels.normalize.s"] > 0


@pytest.mark.parametrize("name", ["extract_commit", "extract_bytes_skewed"])
def test_spark_workloads_tiny(tiny, spark_env, name):
    for traced in (False, True):
        res = workloads.WORKLOADS[name](2, 0.01, traced, _ctx(name, traced, spark_env))
        assert not res.mismatches and res.failed == 0
        assert res.attempted >= res.sizes["media"] > 0
        assert set(res.metrics) | {"python_peak_rss_mb"} == _spec_names("end_to_end")
        assert set(res.layers) <= _spec_names("per_layer")
        if traced:
            assert res.layers["operators.ocr_media.tasks"] > 0
            assert res.layers["ocr_raw.ocr.textsystem.wall_s"] > 0
            assert res.layers["pipeline.jobs"] > 0
            assert "trace.eventlog_overhead_share" in res.layers
        if traced and name == "extract_bytes_skewed":  # it carries the battery pass
            for q in workloads.BATTERY_TIMED:
                assert res.layers[f"battery.{q}.s"] > 0 and res.layers[f"battery.{q}.jobs"] > 0
            assert res.layers["battery.count_total_s"] > 0


def test_planted_wrong_ocr_text_is_caught(tiny, monkeypatch):
    from onnxocr_spark.ocr import textsystem

    real = textsystem.ocr_image_text
    calls = []

    def wrong_once(img, *a, **k):
        calls.append(1)
        out = real(img, *a, **k)
        return out + "x" if len(calls) == 3 else out

    monkeypatch.setattr(textsystem, "ocr_image_text", wrong_once)
    res = workloads.ocr_tensor(1, 0.01, False, _ctx("ocr_tensor", False))
    assert len(res.mismatches) == 1


def test_planted_wrong_commit_output_is_caught(tiny, spark_env, monkeypatch):
    real = inputs.commit_docs

    def corrupt(*a, **k):
        expected, media, sizes = real(*a, **k)
        doc = sorted(expected)[0]
        expected[doc] = expected[doc][:-1]  # one span short
        return expected, media, sizes

    monkeypatch.setattr(inputs, "commit_docs", corrupt)
    res = workloads.extract_commit(3, 0.01, False, _ctx("extract_commit", False, spark_env))
    assert res.mismatches and "spans differ" in res.mismatches[0]


def test_planted_wrong_battery_result_is_caught(tiny, spark_env, monkeypatch):
    import __spark_entry__ as entry

    real = entry.queries

    def one_row_short():
        qs = dict(real())
        q1 = qs["q1_pricing_summary"]
        qs["q1_pricing_summary"] = lambda spark, d: q1(spark, d).limit(2)
        return qs

    monkeypatch.setattr(entry, "queries", one_row_short)
    monkeypatch.setattr(workloads, "BATTERY_CHECKED", len(workloads.BATTERY_TIMED))
    res = workloads.extract_bytes_skewed(
        5, 0.01, True, _ctx("extract_bytes_skewed", True, spark_env))
    assert len(res.mismatches) == 1 and "q1_pricing_summary" in res.mismatches[0]


def test_failed_check_gives_nonzero_exit_and_result_line(monkeypatch, capsys):
    def bad(seed, seconds, traced, ctx):
        r = workloads.Result(metrics={"items_per_s": 1.0, "op_p50_ms": 1.0, "setup_s": 1.0},
                             attempted=1, mismatches=["planted"])
        ctx.stop_rss()
        return r

    monkeypatch.setitem(workloads.WORKLOADS, "ocr_tensor", bad)
    assert run.main(["--workload", "ocr_tensor", "--seed", "1", "--seconds", "1"]) == 1
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert last["correct"] is False and set(last) == {"correct", "attempted", "failed", "metrics"}
