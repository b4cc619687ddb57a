"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same arguments
write byte-identical parquet; a different seed writes different rows for
the same number of games or vectors. The program under test only ever sees
these files.

- games: the raw play-by-play narration the scraper would publish: the rows
  of the package's generator `pbp.synth.generate_games_df(spark, n, seed)`,
  in game order, as one file.
- embeddings: seeded distinct vector ids in a seeded row order. The
  serving queries derive their corpus from `vec_id` alone
  (`queries.simsearch.serving_corpus`) and never read a stored vector, so
  the table carries only the ids: the seed reaches the workload through
  which ids there are and the order they come in.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GAME_COLUMNS = ["year", "division", "contest_id", "inning", "away_text", "home_text",
                "source_seq"]


def _write(df: pd.DataFrame, path: str) -> None:
    """One parquet file, no pandas index, so equal frames give equal bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def embeddings_frame(seed: int, n: int) -> pd.DataFrame:
    """n distinct ids drawn from [0, 4n), in a seeded order."""
    rng = np.random.default_rng([seed, 2])
    vec_id = rng.choice(4 * n, size=n, replace=False).astype(np.int64)
    return pd.DataFrame({"vec_id": vec_id})


def games_frame(seed: int, n: int) -> pd.DataFrame:
    """The rows `pbp.synth.generate_games_df(spark, n, seed)` produces (each
    game from its own `(seed << 32) ^ game` generator), made in this process
    so that set-up starts no Python worker: the first pass pays for that."""
    from d3d_etl_spark.pbp.synth import generate_game

    rows = [r for g in range(n) for r in generate_game(random.Random((seed << 32) ^ g), g)]
    df = pd.DataFrame(rows, columns=GAME_COLUMNS)
    return df.astype({"year": "int32", "contest_id": "int64", "inning": "int32",
                      "source_seq": "int64"})


def write_embeddings(data_dir: str, seed: int, n: int) -> str:
    path = os.path.join(data_dir, "embeddings.parquet")
    _write(embeddings_frame(seed, n), path)
    return path


def write_games(data_dir: str, seed: int, n: int) -> str:
    path = os.path.join(data_dir, "raw_games", "games.parquet")
    _write(games_frame(seed, n), path)
    return path
