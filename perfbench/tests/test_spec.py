"""BENCHMARK.json and the code agree on workloads, metric names and units."""

from __future__ import annotations

import json
import os

import measure
from conftest import ROOT
from workloads import WORKLOADS


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_match_spec():
    spec = _spec()
    assert measure.END_TO_END == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert measure.PER_LAYER == {m["name"]: m["unit"] for m in spec["per_layer"]}


def test_workloads_match_spec():
    assert sorted(WORKLOADS) == sorted(w["name"] for w in _spec()["workloads"])


def test_setup_bound_is_the_largest():
    e2e = _spec()["end_to_end"]
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e) <= 0.25
