"""Layer accounting on one sim_serving operation.

In a traced pass of the one-operation workload, the operation's wall
(from the benchmark's spans: build start to sink end) must be accounted
for by readings taken independently of each other:

    scheduler.driver_gap_s               (reported: pass wall - union of the
                                           pass's jobs, clipped to the pass)
  - (build span - union of build jobs)    (the part of the gap inside the build)
  + queries.build_s                       (reported: span around the query function)
  + union of the sink jobs                (REST API, JVM clock, unclipped)

within TOL_S + TOL_FRAC * wall: REST times have millisecond resolution and
the pass span includes the benchmark's own calls around the operation. A
job attributed to the wrong pass or phase, or a clock offset between the
REST API and the driver, moves one side and not the other. Every job the
operation's job groups name must also lie inside its spans.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import layers
from conftest import BENCH, ROOT

TOL_S = 0.05
TOL_FRAC = 0.02
SEED = 9
OP = "z_sim_incremental"
PASS = "p1"  # the first traced pass


def _union(jobs):
    return layers.interval_union(
        [(layers.rest_time(j["submissionTime"]), layers.rest_time(j["completionTime"]))
         for j in jobs])


def test_sim_serving_op_wall_is_accounted():
    r = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", "sim_serving",
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert result["correct"]
    with open(os.path.join(BENCH, ".out", f"trace-sim_serving-{SEED}.json")) as f:
        trace = json.load(f)
    reported = trace["passes"][PASS]

    spans = trace["spans"]
    p = next(s for s in spans if s["name"] == PASS)
    inside = [s for s in spans if p["start"] <= s["start"] and s["end"] <= p["end"]]
    build = next(s for s in inside if s["name"] == OP)
    sink = next(s for s in inside if s["name"] == f"{OP}.sink")
    wall = sink["end"] - build["start"]
    tol = TOL_S + TOL_FRAC * wall

    jobs = [j for j in trace["jobs"] if j["jobGroup"].startswith(f"{PASS}|")]
    assert jobs and all(j["jobGroup"].startswith(f"{PASS}|{OP}|") for j in jobs)
    build_jobs = [j for j in jobs if j["jobGroup"].endswith("|build")]
    sink_jobs = [j for j in jobs if j["jobGroup"].endswith("|sink")]
    assert build_jobs and sink_jobs and len(build_jobs) + len(sink_jobs) == len(jobs)
    for group, s in ((build_jobs, build), (sink_jobs, sink)):
        for j in group:
            assert s["start"] - tol <= layers.rest_time(j["submissionTime"])
            assert layers.rest_time(j["completionTime"]) <= s["end"] + tol

    gap_in_build = (build["end"] - build["start"]) - _union(build_jobs)
    assert gap_in_build >= -tol
    total = (reported["scheduler.driver_gap_s"] - gap_in_build
             + reported["queries.build_s"] + _union(sink_jobs))
    assert abs(total - wall) <= tol, (total, wall)
