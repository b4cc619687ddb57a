"""Round-7: side-by-side `.domain_cache` instances (VERDICT r6 missing #5).

Scales no longer prune each other on a switch — verify (sf0.01) and bench
(sf0.1) can alternate with zero cold rebuilds. Oracle SQL stays
unambiguous because run_oracle / oracle_sql() rewrite each family's
'<family>_*' glob to the directory keyed for the data dir via
resolve_cache_globs (d3d_etl_spark/state.py).
"""

from __future__ import annotations

import glob
import os

from d3d_etl_spark import state
from d3d_etl_spark.oracle import resolve_cache_globs
from tests.conftest import TEST_SF_DIR

_DATA = os.path.dirname(TEST_SF_DIR)


def test_resolve_cache_globs_rewrites_every_family():
    sql = " JOIN ".join(
        f"read_parquet('/x/.domain_cache/{fam}_*/*.parquet')" for fam in state.FAMILIES
    )
    small, big = os.path.join(_DATA, "sf0.01"), os.path.join(_DATA, "sf0.1")
    out = resolve_cache_globs(sql, small)
    for fam in state.FAMILIES:
        assert f"/{fam}_{state.key(fam, small)}/" in out, fam
    assert "_*/" not in out  # nothing left ambiguous
    # a different scale resolves every family differently (side-by-side is
    # meaningful): the game count and the input tables both differ
    out_big = resolve_cache_globs(sql, big)
    for fam in state.FAMILIES:
        assert f"/{fam}_{state.key(fam, big)}/" in out_big, fam
        assert state.key(fam, big) != state.key(fam, small), fam


def test_cache_scales_coexist(spark):
    """Building the same state family at two scales leaves BOTH directories
    live (the round-6 thrash: each build used to prune the other scale)."""
    from d3d_etl_spark.queries.dedup import batch1_band_state

    dirs = (os.path.join(_DATA, "sf0.001"), os.path.join(_DATA, "sf0.01"))
    for d in dirs:
        batch1_band_state(spark, d)
    for d in dirs:
        path = state.path("lsh_bands", d)
        assert os.path.isdir(path), path
        assert os.path.exists(path + ".done"), path


def test_cache_lru_sweep_keeps_newest(tmp_path, monkeypatch):
    """Beyond LRU_KEEP instances, the least-recently-used family members
    are evicted (bounded disk), newest-first survivors."""
    monkeypatch.setattr(state, "ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(state, "LRU_KEEP", 2)
    monkeypatch.setitem(state.FAMILIES, "fam", state.Family(1, tables=("t",)))

    def mk(tag: str, t: float) -> str:
        d = tmp_path / tag
        d.mkdir()
        (d / "t.parquet").write_text(tag)
        p = state.ensure("fam", str(d), os.makedirs)
        os.utime(p + ".done", (t, t))
        return p

    a = mk("a", 1_000_000.0)
    b = mk("b", 2_000_000.0)
    # building c sweeps: keep newest 2 of {a, b, c}; c's marker is "now"
    c = mk("c", 3_000_000.0)
    live = sorted(
        d for d in glob.glob(os.path.join(state.ROOT, "fam_*")) if os.path.isdir(d)
    )
    assert live == sorted([b, c]), live
    assert not os.path.exists(a + ".done")
