"""Seeded inputs: the same seed gives byte-identical files, another seed
gives different rows for the same number of games or vectors."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import inputs


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_embeddings_same_seed_same_bytes(tmp_path):
    a = inputs.write_embeddings(str(tmp_path / "a"), 7, 300)
    b = inputs.write_embeddings(str(tmp_path / "b"), 7, 300)
    assert _bytes(a) == _bytes(b)


def test_embeddings_other_seed_same_shape(tmp_path):
    a = inputs.write_embeddings(str(tmp_path / "a"), 7, 300)
    b = inputs.write_embeddings(str(tmp_path / "b"), 8, 300)
    assert _bytes(a) != _bytes(b)
    ta, tb = pq.read_table(a).to_pandas(), pq.read_table(b).to_pandas()
    assert len(ta) == len(tb) == 300
    assert set(ta["vec_id"]) != set(tb["vec_id"])
    for t in (ta, tb):
        assert t["vec_id"].is_unique
        assert list(t.columns) == ["vec_id"]


def test_games_same_seed_same_bytes(tmp_path):
    a = inputs.write_games(str(tmp_path / "a"), 3, 6)
    b = inputs.write_games(str(tmp_path / "b"), 3, 6)
    assert _bytes(a) == _bytes(b)


def test_games_other_seed_same_game_count(tmp_path):
    a = inputs.write_games(str(tmp_path / "a"), 3, 6)
    b = inputs.write_games(str(tmp_path / "b"), 4, 6)
    assert _bytes(a) != _bytes(b)
    ta, tb = pq.read_table(a).to_pandas(), pq.read_table(b).to_pandas()
    assert ta["contest_id"].nunique() == tb["contest_id"].nunique() == 6
    assert os.path.basename(os.path.dirname(a)) == "raw_games"


def test_games_are_the_package_generators_rows(spark):
    from d3d_etl_spark.pbp.synth import generate_games_df

    want = generate_games_df(spark, 6, 3).toPandas()
    want = want.sort_values(["contest_id", "source_seq"]).reset_index(drop=True)
    got = inputs.games_frame(3, 6)
    assert list(got.columns) == list(want.columns)
    assert got.dtypes.to_dict() == want.dtypes.to_dict()
    assert got.equals(want)
