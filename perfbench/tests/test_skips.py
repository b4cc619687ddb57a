"""A reading that cannot be taken reports `skipped: <reason>`, never 0."""

from __future__ import annotations

import socket

import layers
import measure
from layers import Rest, Skipped, Tracer


def _closed_port() -> int:
    with socket.socket() as s:
        s.bind(("localhost", 0))
        return s.getsockname()[1]


def _pass() -> measure.Pass:
    p = measure.Pass("p1", traced=True)
    p.start, p.end = 100.0, 101.0
    return p


def test_rest_unreachable_is_skipped():
    rest = Rest(f"http://localhost:{_closed_port()}", timeout=2)
    peak = measure.read_task_peak_mem(rest, [_pass()])
    assert isinstance(peak, Skipped) and "unreachable" in peak.reason
    assert measure._metric(peak, "MB") == {
        "value": None, "unit": "MB", "skipped": peak.reason}

    readings, by_tag, jobs = measure.read_layers(rest, [_pass()], Tracer(None, True))
    assert jobs == []
    for k in measure.REST_KEYS:
        assert isinstance(readings[k], Skipped), k
        assert "unreachable" in readings[k].reason
        assert by_tag["p1"][k] == str(readings[k])
    # the span readings do not need REST and are still taken
    assert readings["queries.build_s"] == 0.0


def test_ui_disabled_is_skipped():
    peak = measure.read_task_peak_mem(Rest(None), [_pass()])
    assert isinstance(peak, Skipped) and "disabled" in peak.reason


def test_phase_tracker_absent_is_skipped():
    v = layers.phase_seconds(object())
    assert isinstance(v, Skipped) and "phase tracker" in v.reason


def test_python_metric_absent_is_skipped():
    executions = [{"successJobIds": [1], "nodes": [
        {"nodeName": "MapInPandas", "metrics": [
            {"name": "data sent to Python workers", "value": "1.0 MiB"}]}]}]
    got = layers.python_operator_metrics(executions, {1})
    assert isinstance(got["run"], Skipped) and isinstance(got["start"], Skipped)
    assert isinstance(got["mb"], Skipped)  # 'data returned' is missing


def test_no_python_node_is_a_measured_zero():
    executions = [{"successJobIds": [1], "nodes": [
        {"nodeName": "HashAggregate", "metrics": []}]}]
    assert layers.python_operator_metrics(executions, {1}) == {
        "run": 0.0, "start": 0.0, "mb": 0.0}


def test_python_metrics_summed():
    total = "total (min, med, max (stageId: taskId))\n"
    executions = [{"successJobIds": [7], "nodes": [{"nodeName": "MapInPandas", "metrics": [
        {"name": "time to run Python workers", "value": total + "6.1 s (281 ms, 2.6 s)"},
        {"name": "time to start Python workers", "value": total + "350 ms (1 ms)"},
        {"name": "time to initialize Python workers", "value": total + "1.7 s (438 ms)"},
        {"name": "data sent to Python workers", "value": total + "512.0 KiB (1 KiB)"},
        {"name": "data returned from Python workers", "value": "1.5 MiB"},
    ]}]}, {"successJobIds": [8], "nodes": [{"nodeName": "MapInPandas", "metrics": []}]}]
    got = layers.python_operator_metrics(executions, {7})
    assert abs(got["run"] - 6.1) < 1e-9
    assert abs(got["start"] - 2.05) < 1e-9
    assert abs(got["mb"] - 2.0) < 1e-9


def test_skew_without_stage_is_skipped():
    assert isinstance(layers.task_skew(Rest(None), []), Skipped)


def test_interval_union():
    assert layers.interval_union([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert layers.interval_union([]) == 0.0
