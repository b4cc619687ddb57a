"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload pbp_season --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Every invocation copies the checkout's
`d3d_etl_spark/` into a fresh working tree under `perfbench/.work/`, puts
that tree first on the driver's and the Python workers' path, and runs
there, so persisted state starts empty and is built only from this seed's
inputs. The tree is removed when the run ends.

The run sets up (session start, warm-up, input generation,
persisted-state build from none), runs one first pass and untimed warm
passes, then timed passes for `--seconds` and at least five, then checks
the last pass's outputs against the registry's DuckDB oracles, then sets
up twice more from nothing in the same JVM; `setup_s` is the median of the
three set-ups. With `--trace 1` half the timed passes are traced and
the per-layer metrics are reported instead of the end-to-end ones. The
last stdout line is the JSON result; the lines before it print every
metric by name with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def _ncores() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_tree(root: str, work: str) -> None:
    """Fresh copy of the package; Spark, Python and the JVM keep their
    scratch files inside the working tree."""
    shutil.copytree(
        os.path.join(root, "d3d_etl_spark"),
        os.path.join(work, "d3d_etl_spark"),
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [work] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    sys.path.insert(0, work)
    os.chdir(work)


def start_session(work: str):
    from d3d_etl_spark.session import get_spark

    retained = "1000000"
    conf = {
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": retained,
        "spark.ui.retainedStages": retained,
        "spark.sql.ui.retainedExecutions": retained,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{_ncores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _terminate(signum, frame):
    # turn SIGTERM into SystemExit so the finally blocks stop the JVM and
    # remove the working tree
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "d3d_etl_spark", "__init__.py")):
        print(f"no d3d_etl_spark package under {root}: run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, BENCH_DIR)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    parent = os.path.join(BENCH_DIR, ".work")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=parent)
    out_dir = os.path.join(BENCH_DIR, ".out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        prepare_tree(root, work)
        from measure import run_workload

        result = run_workload(
            WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work,
            out_dir,
        )
    finally:
        os.chdir(root)
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
