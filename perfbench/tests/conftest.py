"""Benchmark tests. Run from the checkout root:

    python3 -m pytest perfbench/tests -q

The benchmark's own modules are imported from perfbench/, the package from
the checkout root.
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    from d3d_etl_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()
