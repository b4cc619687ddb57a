"""A benchmark run works on a fresh copy of the package: it leaves the
checkout's persisted state and the package's default test tables byte for
byte unchanged, removes its working tree, and refuses to run without the
package."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

from conftest import BENCH, ROOT


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_run_leaves_state_and_testdata_unchanged():
    from d3d_etl_spark.io import DEFAULT_SF_DIR

    watched = [p for p in (os.path.join(ROOT, ".domain_cache"), DEFAULT_SF_DIR)
               if os.path.isdir(p)]
    before = {p: _digest(p) for p in watched}
    work = os.path.join(BENCH, ".work")
    left_before = set(os.listdir(work)) if os.path.isdir(work) else set()

    r = _run(ROOT, "--workload", "sim_serving", "--seed", "5", "--seconds", "1",
             "--trace", "0")
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2

    assert {p: _digest(p) for p in watched} == before
    assert set(os.listdir(work)) == left_before


def test_run_without_package_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    r = _run(str(tmp_path), "--workload", "pbp_season", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert r.returncode != 0
    assert r.stdout.strip() == ""
