"""Set-ups, first passes, timed passes, readings and the result object for
one workload run (see run.py for the command line)."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import layers
from layers import MB, Rest, RestUnavailable, Skipped, Tracer
from workloads import Ctx, count_files, dir_mb

# set-ups per run: the first in a fresh JVM, the rest in the same JVM after
# stopping the session and deleting the persisted state; setup_s and the
# set-up layer readings are their medians
SETUPS = 3
# untimed passes after the first, for WARM_S seconds and at least
# MIN_WARM_PASSES: pass walls keep falling for several passes as the JVM
# and the Python workers warm (pbp_season, seed 41: 3.9, 3.8, 3.6, then
# 3.1 to 2.8 s; sim_serving passes still ease down after ten)
WARM_S = 8.0
MIN_WARM_PASSES = 3
# timed passes per run, at least, after the warm passes
MIN_TIMED_PASSES = 5
MIN_TRACED_PASSES = 4  # two untraced, two traced

END_TO_END = {  # name -> unit
    "pass_s": "s",
    "first_pass_s": "s",
    "units_per_s": "1/s",
    "setup_s": "s",
    "task_peak_mem_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "inputs.gen_s": "s",
    "state.build_s": "s",
    "state.mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.plan_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.driver_gap_s": "s",
    "exec.task_busy_s": "s",
    "exec.gc_s": "s",
    "exec.task_skew": "ratio",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "operators.python_run_s": "s",
    "operators.python_start_s": "s",
    "operators.python_mb": "MB",
    "io.write_s": "s",
    "io.written_mb": "MB",
    "io.files_written": "count",
    "trace.overhead_pct": "%",
}


def _ui_base(spark) -> str | None:
    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    return "http://localhost:" + url.rsplit(":", 1)[1]


def _warm_up(spark) -> None:
    """Start the scheduler and the JVM-side SQL path; spawns no Python
    worker, so the first pass still pays for that as a nightly run does."""
    spark.range(10_000).selectExpr("sum(id) AS s").collect()


class Pass:
    def __init__(self, tag: str, traced: bool):
        self.tag = tag
        self.traced = traced
        self.start = 0.0
        self.end = 0.0
        self.runs = []
        self.io_mb = 0.0
        self.io_files = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


def _run_pass(wl, ctx: Ctx, tag: str, traced: bool) -> Pass:
    p = Pass(tag, traced)
    ctx.tracer.enabled = traced
    p.start = time.time()
    with ctx.tracer.span(tag, "pass"):
        p.runs = wl.run_pass(ctx, tag)
    p.end = time.time()
    if traced and os.path.isdir(ctx.pub_dir):
        p.io_mb, p.io_files = dir_mb(ctx.pub_dir), count_files(ctx.pub_dir)
    return p


def _passes(wl, ctx: Ctx, prefix: str, seconds: float, at_least: int, traced) -> list[Pass]:
    """Passes `<prefix>0, <prefix>1, ..` until `seconds` have gone by and
    at least `at_least` have run; pass i is traced when traced(i)."""
    out: list[Pass] = []
    deadline = time.time() + seconds
    while len(out) < at_least or time.time() < deadline:
        out.append(_run_pass(wl, ctx, f"{prefix}{len(out)}", traced(len(out))))
    return out


def _pass_jobs(jobs: list[dict], tag: str) -> list[dict]:
    return [j for j in jobs if (j.get("jobGroup") or "").startswith(tag + "|")]


def span_readings(p: Pass, tracer: Tracer) -> dict:
    """Per-layer sums over one traced pass that the spans alone give."""
    spans = [s for s in tracer.spans if p.start <= s.start and s.end <= p.end]
    plan = 0.0
    for df in (run.frame for run in p.runs if run.frame is not None):
        v = layers.phase_seconds(df)
        if isinstance(v, Skipped):
            plan = v
            break
        plan += v
    return {
        "queries.build_s": sum(s.dur for s in spans if s.layer == "queries"),
        "catalyst.plan_s": plan,
        "io.write_s": sum(s.dur for s in spans if s.layer == "io"),
        "io.written_mb": p.io_mb,
        "io.files_written": p.io_files,
    }


def rest_readings(rest: Rest, p: Pass, jobs, stages, executions) -> dict:
    """Per-layer sums over one traced pass read from the REST API."""
    pj = _pass_jobs(jobs, p.tag)
    st = layers.pass_stages(pj, stages)
    union = layers.interval_union(layers.job_intervals(pj, p.start, p.end))
    py = layers.python_operator_metrics(executions, {j["jobId"] for j in pj})
    return {
        "queries.build_jobs": sum(1 for j in pj if j["jobGroup"].endswith("|build")),
        "scheduler.jobs": len(pj),
        "scheduler.stages": len(st),
        "scheduler.tasks": sum(s.get("numCompleteTasks", 0) for s in st),
        "scheduler.driver_gap_s": p.wall - union,
        "exec.task_busy_s": sum(s.get("executorRunTime", 0) for s in st) / 1000,
        "exec.gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1000,
        "exec.task_skew": layers.task_skew(rest, st),
        "exec.shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in st) / MB,
        "exec.shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in st) / MB,
        "exec.spill_mb": sum(s.get("diskBytesSpilled", 0) for s in st) / MB,
        "operators.python_run_s": py["run"],
        "operators.python_start_s": py["start"],
        "operators.python_mb": py["mb"],
    }


REST_KEYS = tuple(
    k for k in PER_LAYER
    if k.split(".")[0] in ("scheduler", "exec", "operators") or k == "queries.build_jobs"
)


def read_task_peak_mem(rest: Rest, passes: list[Pass]):
    """Median over the timed passes of the largest task peak execution
    memory in the pass, in MB."""
    try:
        jobs, stages = rest.jobs(), rest.stages()
        return statistics.median(
            layers.task_peak_mem(rest, layers.pass_stages(_pass_jobs(jobs, p.tag), stages))
            for p in passes
        )
    except RestUnavailable as e:
        return Skipped(f"REST API unreachable ({e})")


def read_layers(rest: Rest, traced: list[Pass], tracer: Tracer) -> tuple[dict, dict, list]:
    """Median over the traced passes of every per-pass layer reading; the
    readings of each traced pass by tag; and the REST jobs of those passes
    (the last two are written out with the spans)."""
    per_pass = [span_readings(p, tracer) for p in traced]
    try:
        jobs, stages, execs = rest.jobs(), rest.stages(), rest.sql()
        for d, p in zip(per_pass, traced):
            d.update(rest_readings(rest, p, jobs, stages, execs))
        pass_jobs = [j for p in traced for j in _pass_jobs(jobs, p.tag)]
    except RestUnavailable as e:
        skip = Skipped(f"REST API unreachable ({e})")
        for d in per_pass:
            d.update({k: skip for k in REST_KEYS})
        pass_jobs = []
    keys = per_pass[0].keys()
    medians = {k: _median_reading([d[k] for d in per_pass]) for k in keys}
    by_tag = {p.tag: {k: _plain(v) for k, v in d.items()} for p, d in zip(traced, per_pass)}
    return medians, by_tag, pass_jobs


def _plain(v):
    return str(v) if isinstance(v, Skipped) else v


def _median_reading(values: list):
    skips = [v for v in values if isinstance(v, Skipped)]
    if skips:
        return skips[0]
    return statistics.median(values) if values else Skipped("no traced pass")


def _fmt(name: str, v, unit: str) -> str:
    return f"{name}: {v}" if isinstance(v, Skipped) else f"{name}: {v:.6g} {unit}"


def _metric(v, unit: str) -> dict:
    if isinstance(v, Skipped):
        return {"value": None, "unit": unit, "skipped": v.reason}
    return {"value": v, "unit": unit}


def _set_up(wl, seed: int, work: str, tracer: Tracer, i: int):
    """One set-up from nothing: session start, warm-up, inputs (into a data
    directory of its own, so no in-process memo of an earlier set-up
    applies), and every piece of persisted state the workload reads.
    Returns the session, the workload context and the set-up readings."""
    from run import start_session

    data_dir = os.path.join(work, f"data{i}")
    t0 = time.time()
    with tracer.span("session.start", "session"):
        spark = start_session(work)
    t1 = time.time()
    tracer.sc = spark.sparkContext
    ctx = Ctx(spark, tracer, data_dir, os.path.join(work, "published"))
    with tracer.span("warm_up", "session", group=f"setup{i}|warm_up"):
        _warm_up(spark)
    t2 = time.time()
    with tracer.span("inputs.gen", "inputs", group=f"setup{i}|inputs"):
        wl.generate(data_dir, seed)
    t3 = time.time()
    wl.build_state(ctx)
    t4 = time.time()
    return spark, ctx, {
        "setup_s": t4 - t0,
        "session.start_s": t1 - t0,
        "inputs.gen_s": t3 - t2,
        "state.build_s": t4 - t3,
        "state.mb": dir_mb(os.path.join(work, ".domain_cache")),
    }


def _set_up_again(wl, seed: int, work: str, tracer: Tracer, spark, i: int) -> dict:
    """Stop the session, delete the persisted state and set up again from
    nothing in the same JVM. Returns the set-up readings."""
    spark.stop()
    shutil.rmtree(os.path.join(work, ".domain_cache"), ignore_errors=True)
    spark, _, readings = _set_up(wl, seed, work, tracer, i)
    spark.stop()
    return readings


def run_workload(wl, seed: int, seconds: float, trace: bool, work: str, out_dir: str) -> dict:
    from d3d_etl_spark import queries

    queries.load_all()
    tracer = Tracer(None, trace)
    spark, ctx, setup = _set_up(wl, seed, work, tracer, 0)
    setups = [setup]
    first = _run_pass(wl, ctx, "first", trace)
    warm = _passes(wl, ctx, "warm", WARM_S, MIN_WARM_PASSES, lambda i: False)
    # traced runs order their passes untraced, traced, traced, untraced
    # (repeating), so that passes still speeding up bias neither side of
    # the overhead
    passes = _passes(wl, ctx, "p", seconds,
                     MIN_TRACED_PASSES if trace else MIN_TIMED_PASSES,
                     lambda i: trace and i % 4 in (1, 2))

    layers.wait_listener(spark.sparkContext)
    rest = Rest(_ui_base(spark))
    t_check = time.time()
    checks = wl.check(ctx, passes[-1].runs)
    t_check = time.time() - t_check
    if trace:
        traced = [p for p in passes if p.traced]
        pass_metrics, by_tag, pass_jobs = read_layers(rest, traced, tracer)
    else:
        peak_mem = read_task_peak_mem(rest, passes)
    master = spark.sparkContext.master
    setups += [_set_up_again(wl, seed, work, tracer, spark, i) for i in range(1, SETUPS)]
    setup = {k: statistics.median(s[k] for s in setups) for k in setups[0]}

    report = [f"workload {wl.name}: seed={seed} inputs={wl.n} {wl.unit} "
              f"master={master} set-ups={len(setups)} timed passes={len(passes)} "
              f"ops/pass={len(wl.ops)} (one driver process, one operation at a time)"]
    all_runs = [r for p in [first] + warm + passes for r in p.runs]
    bad_ops = {op for op, probs in checks.items() if probs}
    failed = sum(1 for r in all_runs if not r.ok or r.name in bad_ops)
    for op, probs in checks.items():
        report.append(f"check {op}: {'MATCH' if not probs else 'MISMATCH ' + '; '.join(probs)[:500]}")
    report.append(f"output check took {t_check:.3g} s")
    report.append(f"failed_frac: {failed / len(all_runs):.6g} ({failed}/{len(all_runs)} operations)")

    if not trace:
        units = END_TO_END
        walls = [p.wall for p in passes]
        pass_s = statistics.median(walls)
        metrics = {
            "pass_s": pass_s,
            "first_pass_s": first.wall,
            "units_per_s": wl.n / pass_s,
            "setup_s": setup["setup_s"],
            "task_peak_mem_mb": peak_mem,
        }
        for name, xs in (("pass_s", walls), ("first_pass_s", [first.wall]),
                         ("setup_s", [s["setup_s"] for s in setups])):
            report.append(f"{name} distribution: {layers.percentile_report(xs)} (s); "
                          f"samples {[round(x, 3) for x in xs]}")
        report.append(f"untimed warm passes: {[round(p.wall, 3) for p in warm]} (s)")
    else:
        units = PER_LAYER
        metrics = {k: v for k, v in setup.items() if k in PER_LAYER}
        metrics.update(pass_metrics)
        traced_s = statistics.median(p.wall for p in traced)
        untraced_s = statistics.median(p.wall for p in passes if not p.traced)
        metrics["trace.overhead_pct"] = 100 * (traced_s - untraced_s) / untraced_s
        report.append(f"tracing overhead: traced pass_s {traced_s:.6g} s against "
                      f"untraced pass_s {untraced_s:.6g} s")
        for layer, t in sorted(tracer.self_times().items()):
            report.append(f"self time {layer}: {t:.6g} s (all spans of the run)")
        path = os.path.join(out_dir, f"trace-{wl.name}-{seed}.json")
        tracer.dump(path, jobs=pass_jobs, passes=by_tag)
        report.append(f"spans, pass readings and pass jobs written to {path}")
    for k, u in units.items():
        report.append(_fmt(k, metrics[k], u))
    return {
        "correct": failed == 0,
        "attempted": len(all_runs),
        "failed": failed,
        "metrics": {k: _metric(metrics[k], u) for k, u in units.items()},
        "report": report,
    }
