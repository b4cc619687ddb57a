"""Persisted state (d3d_etl_spark/state.py): an instance is keyed on what it
was built from and on its builder's version, builders of one family never
race, and a result depends only on the inputs and the code."""

from __future__ import annotations

import dataclasses
import os
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

from d3d_etl_spark import state

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# more racers than a small host has cores, so some race while others are
# descheduled
_RACERS = 6
# One racer process: wait for the start signal, then ensure one family
# with a plain-Python build that records every invocation and takes long
# enough for the other racers to arrive while it runs.
_RACER = r"""
import os, sys, time
from d3d_etl_spark import state

root, sf_dir, calls, go, ready = sys.argv[1:6]
state.ROOT = root

def build(tmp):
    with open(calls, "a") as f:
        f.write("build\n")
    time.sleep(0.5)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-0.parquet"), "w") as f:
        f.write("ok")

open(ready, "w").close()
while not os.path.exists(go):
    time.sleep(0.005)
print(state.ensure("longdocs", sf_dir, build))
"""


def test_racing_builders_build_once(tmp_path):
    sf_dir = tmp_path / "corpus"
    sf_dir.mkdir()
    (sf_dir / "documents.parquet").write_bytes(b"docs")
    root, calls, go = (str(tmp_path / n) for n in ("cache", "calls", "go"))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (_REPO, os.environ.get("PYTHONPATH")) if p
    ))
    racers = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER, root, str(sf_dir), calls, go,
             str(tmp_path / f"ready{i}")],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env,
        )
        for i in range(_RACERS)
    ]
    deadline = time.time() + 60
    while not all((tmp_path / f"ready{i}").exists() for i in range(_RACERS)):
        assert time.time() < deadline, "racers never started"
        time.sleep(0.01)
    open(go, "w").close()
    outs = []
    for p in racers:
        out, err = p.communicate(timeout=60)
        assert p.returncode == 0, err
        outs.append(out.strip())
    with open(calls) as f:
        assert f.read().splitlines() == ["build"]
    assert len(set(outs)) == 1
    assert os.path.isdir(outs[0]) and os.path.exists(outs[0] + ".done")


@pytest.mark.parametrize(
    "bumped, rebuilt",
    [
        ("parsed_pbp", {"parsed_pbp", "bucketed_spine"}),
        ("ivf_assign", {"ivf_assign", "pq_icents", "pq_cb", "pq_codes"}),
        ("pq_codes", {"pq_codes"}),
    ],
)
def test_version_bump_rebuilds_family_and_its_chain(tmp_path, monkeypatch, bumped, rebuilt):
    """Bumping one family's version constant rebuilds that family and every
    family chained after it; every other family keeps its instance."""
    monkeypatch.setattr(state, "ROOT", str(tmp_path / "cache"))
    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    for t in ("events", "documents", "embeddings"):
        (sf_dir / f"{t}.parquet").write_bytes(t.encode())
    calls: dict[str, int] = {}

    def build_all() -> dict[str, str]:
        def builder(fam):
            def build(tmp):
                calls[fam] = calls.get(fam, 0) + 1
                os.makedirs(tmp)
            return build

        return {f: state.ensure(f, str(sf_dir), builder(f)) for f in state.FAMILIES}

    before = build_all()
    assert build_all() == before  # built instances are reused
    assert set(calls.values()) == {1}
    fam = state.FAMILIES[bumped]
    monkeypatch.setitem(
        state.FAMILIES, bumped, dataclasses.replace(fam, version=fam.version + 1)
    )
    after = build_all()
    for f in state.FAMILIES:
        if f in rebuilt:
            assert calls[f] == 2 and after[f] != before[f], f
        else:
            assert calls[f] == 1 and after[f] == before[f], f


def test_repetition_long_keyed_on_documents(spark, sf_dir, tmp_path):
    """Two different document corpora in directories with no sf token each
    get their own long-doc state: the answers differ and each matches its
    own DuckDB oracle."""
    from d3d_etl_spark.io import TESTDATA_TABLES
    from d3d_etl_spark.oracle import compare_frames, run_oracle
    from d3d_etl_spark.queries.registry import REGISTRY
    from d3d_etl_spark.queries.textops import z_corpus_repetition_long

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    keep = [d % 3 != 0 for d in docs.column("doc_id").to_pylist()]
    answers = []
    for name, table in (("corpus_a", docs), ("corpus_b", docs.filter(keep))):
        d = tmp_path / name
        d.mkdir()
        for t in TESTDATA_TABLES:
            if t != "documents":
                os.symlink(os.path.join(sf_dir, f"{t}.parquet"), d / f"{t}.parquet")
        pq.write_table(table, str(d / "documents.parquet"))
        got = z_corpus_repetition_long(spark, str(d)).toPandas()
        want = run_oracle(REGISTRY["z_corpus_repetition_long"].oracle, str(d))
        assert len(got) > 0
        assert compare_frames(got, want) == [], name
        answers.append(got.sort_values("long_doc_id").reset_index(drop=True))
    assert not answers[0].equals(answers[1])
