"""Deterministic synthetic game generator (narration grammar per
FIXTURES.md §1). Used by the volume smoke test and the benched
`pbp_dag` query — the testdata star schema has no baseball tables, so the
domain pipeline exercises generated games with a fixed seed.

The generator tracks base occupancy itself so every narrated runner segment
names a runner that is actually on base — covering the full widened grammar:
hits, walks/HBP/IBB, reached-on-error (with batter extra advance), the
strikeout-safe family (dropped third strike / wild pitch), GDP / lined-into-DP
/ triple play, sac fly / sac bunt, steals / caught stealing / pickoff /
pickoff-error, wild pitch / passed ball / balk advances, defensive
indifference, fouled out / infield fly / dropped foul, and no-play lines.
"""

from __future__ import annotations

import random
import re

_NAMES = ["JONES", "SMITH", "DAVIS", "MILLER", "WILSON", "TAYLOR", "BROWN", "CLARK", "LEWIS"]

_BASE_WORD = {2: "second", 3: "third", 4: "home"}


class _Half:
    """One half-inning's base/out state, narrated segment by segment."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.bases: dict[int, str | None] = {1: None, 2: None, 3: None}
        self.outs = 0

    def new_name(self) -> str:
        while True:
            name = f"{self.rng.choice(_NAMES)}, {chr(65 + self.rng.randrange(26))}."
            if name not in self.bases.values():
                return name

    def runners(self) -> list[int]:
        return [b for b in (3, 2, 1) if self.bases[b]]

    def advance(self, src: int, dest: int) -> str:
        """Move a runner, returning the narration segment."""
        name = self.bases[src]
        self.bases[src] = None
        if dest >= 4:
            return f"{name} scored"
        self.bases[dest] = name
        return f"{name} advanced to {_BASE_WORD[dest]}"

    def push_forced(self) -> list[str]:
        """Forced advances for a walk-type event (batter to 1st)."""
        segs = []
        chain = []
        b = 1
        while b <= 3 and self.bases[b]:
            chain.append(b)
            b += 1
        for src in reversed(chain):
            segs.append(self.advance(src, src + 1))
        return segs

    def hit_advances(self, n_bases: int) -> list[str]:
        """Runner movement on a hit: everyone moves >= n_bases, lead runners
        sometimes take an extra base."""
        segs = []
        for src in self.runners():
            extra = 1 if self.rng.random() < 0.3 else 0
            segs.append(self.advance(src, src + n_bases + extra))
        return segs


def _play(h: _Half, batter: str) -> list[str]:
    """One play: mutate the half state, return narration segments."""
    rng = h.rng
    r = rng.random()
    occupied = h.runners()

    if r < 0.16:  # single
        segs = h.hit_advances(1)
        h.bases[1] = batter
        return [f"{batter} singled to left field"] + segs
    if r < 0.22:  # double
        segs = h.hit_advances(2)
        h.bases[2] = batter
        return [f"{batter} doubled down the line"] + segs
    if r < 0.24:  # triple
        segs = [h.advance(src, 4) for src in occupied]
        h.bases[3] = batter
        return [f"{batter} tripled to right center"] + segs
    if r < 0.27:  # home run
        segs = [h.advance(src, 4) for src in occupied]
        return [f"{batter} homered, RBI"] + segs
    if r < 0.35:  # walk
        segs = h.push_forced()
        h.bases[1] = batter
        return [f"{batter} walked"] + segs
    if r < 0.37:  # hit by pitch
        segs = h.push_forced()
        h.bases[1] = batter
        return [f"{batter} hit by pitch"] + segs
    if r < 0.38:  # intentional walk
        segs = h.push_forced()
        h.bases[1] = batter
        return [f"{batter} intentionally walked"] + segs
    if r < 0.40:  # reached on error (+ optional batter extra advance)
        segs = [h.advance(src, src + 1) for src in h.runners()]
        if rng.random() < 0.5 and h.bases[2] is None:
            h.bases[2] = batter
            return [f"{batter} reached on a throwing error, advanced to second"] + segs
        h.bases[1] = batter
        return [f"{batter} reached on a throwing error"] + segs
    if r < 0.41 and (h.bases[1] is None or h.outs == 2):  # dropped third strike
        segs = h.push_forced() if h.bases[1] else []
        h.bases[1] = batter
        return [f"{batter} struck out, reached first on a dropped third strike"] + segs
    if r < 0.42 and h.bases[1] is None:  # strikeout + wild pitch reach
        segs = [h.advance(src, src + 1) for src in h.runners() if src >= 2]
        h.bases[1] = batter
        return [f"{batter} struck out, reached first on a wild pitch"] + segs
    if r < 0.46 and h.bases[1] and h.outs < 2:  # GDP
        runner = h.bases[1]
        h.bases[1] = None
        h.outs += 2
        return [f"{batter} grounded into double play", f"{runner} out at second"]
    if r < 0.465 and h.bases[1] and h.outs < 2:  # lined into DP
        runner = h.bases[1]
        h.bases[1] = None
        h.outs += 2
        return [f"{batter} lined into a double play", f"{runner} out at first"]
    if r < 0.467 and h.bases[1] and h.bases[2] and h.outs == 0:  # triple play
        r1, r2 = h.bases[1], h.bases[2]
        h.bases[1] = h.bases[2] = None
        h.outs += 3
        return [
            f"{batter} grounded into a triple play",
            f"{r2} out at third", f"{r1} out at second",
        ]
    if r < 0.50 and h.bases[3] and h.outs < 2:  # sac fly
        seg = h.advance(3, 4)
        h.outs += 1
        return [f"{batter} flied out to cf, sacrifice fly, RBI", seg]
    if r < 0.52 and occupied and h.outs < 2:  # sac bunt
        segs = [h.advance(src, src + 1) for src in h.runners() if h.bases.get(src + 1) is None or src == 3]
        h.outs += 1
        return [f"{batter} sacrificed, bunt"] + segs
    if r < 0.56 and occupied:  # stolen base
        src = next((b for b in (2, 1) if h.bases[b] and not h.bases.get(b + 1)), None)
        if src:
            name = h.bases[src]
            h.bases[src] = None
            h.bases[src + 1] = name
            return [f"{name} stole {_BASE_WORD[src + 1]}"]
    if r < 0.575 and occupied:  # caught stealing
        src = next((b for b in (1, 2) if h.bases[b]), None)
        if src:
            name = h.bases[src]
            h.bases[src] = None
            h.outs += 1
            return [f"{name} caught stealing, out at {_BASE_WORD[src + 1]} c to 2b"]
    if r < 0.585 and h.bases[1]:  # pickoff
        name = h.bases[1]
        h.bases[1] = None
        h.outs += 1
        return [f"{name} picked off first, out at first p to 1b"]
    if r < 0.59 and h.bases[1] and not h.bases[2]:  # pickoff error: safe
        name = h.bases[1]
        h.bases[1] = None
        h.bases[2] = name
        return [f"{name} picked off first, advanced to second on a throwing error"]
    if r < 0.61 and occupied:  # wild pitch advance
        segs = [h.advance(src, src + 1) for src in h.runners() if src == 3 or not h.bases[src + 1]]
        if segs:
            first = segs[0] + " on a wild pitch"
            return [first] + segs[1:]
    if r < 0.62 and occupied:  # passed ball advance
        segs = [h.advance(src, src + 1) for src in h.runners() if src == 3 or not h.bases[src + 1]]
        if segs:
            first = segs[0] + " on a passed ball"
            return [first] + segs[1:]
    if r < 0.63 and occupied:  # balk
        segs = [h.advance(src, src + 1) for src in h.runners() if src == 3 or not h.bases[src + 1]]
        return ["Balk"] + segs
    if r < 0.635 and h.bases[2] and not h.bases[3]:  # defensive indifference
        name = h.bases[2]
        h.bases[2] = None
        h.bases[3] = name
        return [f"{name} advanced to third on defensive indifference"]
    if r < 0.65:  # fouled out
        h.outs += 1
        return [f"{batter} fouled out to c"]
    if r < 0.655 and h.bases[1] and h.outs < 2:  # infield fly
        h.outs += 1
        return [f"{batter} infield fly to ss"]
    if r < 0.66:  # dropped foul (no play on the batter)
        return [f"{batter} dropped foul ball, error on 3b"]
    if r < 0.665:  # explicit no-play line
        return ["Mound visit by head coach"]
    if r < 0.80:  # strikeout
        h.outs += 1
        return [f"{batter} struck out swinging"]
    if r < 0.88:  # ground out (sometimes advancing a runner)
        h.outs += 1
        segs = []
        if h.outs < 3 and h.bases[2] and not h.bases[3] and rng.random() < 0.4:
            segs.append(h.advance(2, 3))
        return [f"{batter} grounded out to ss"] + segs
    if r < 0.94:  # fly out
        h.outs += 1
        return [f"{batter} flied out to cf"]
    if r < 0.97:  # line out
        h.outs += 1
        return [f"{batter} lined out to 3b"]
    h.outs += 1
    return [f"{batter} popped up to 2b"]


def generate_game(rng: random.Random, contest_id: int, year: int = 2024,
                  division: str = "ncaa_3") -> list[tuple]:
    """One game's raw pbp rows:
    (year, division, contest_id, inning, away_text, home_text, source_seq)."""
    rows = []
    seq = 0
    for inning in range(1, rng.randint(3, 6)):
        for half in ("T", "B"):
            h = _Half(rng)
            plays = 0
            while h.outs < 3 and plays < 18:
                segs = _play(h, h.new_name())
                text = "; ".join(segs)
                rows.append(
                    (year, division, contest_id, inning,
                     text if half == "T" else None,
                     text if half == "B" else None,
                     seq)
                )
                seq += 1
                plays += 1
    return rows


def generate_games(n_games: int, seed: int = 42) -> list[tuple]:
    rng = random.Random(seed)
    return [row for g in range(n_games) for row in generate_game(rng, g)]


def games_for(sf_dir: str) -> int:
    """Games generated for a data directory: 3000 per unit of its sf<scale>
    token (sf0.01 when it has none), at least 10."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.01
    return max(10, int(sf * 3000))


RAW_SCHEMA = (
    "year int, division string, contest_id long, inning int, "
    "away_text string, home_text string, source_seq long"
)


def generate_games_df(spark, n_games: int, seed: int = 42):
    """Distributed generation: each game is produced on an executor from a
    per-game seed (no driver-side row list to serialize into every job, and
    generation parallelizes with the cluster)."""
    import pandas as pd

    cols = [
        "year", "division", "contest_id", "inning",
        "away_text", "home_text", "source_seq",
    ]

    def gen(it):
        for pdf in it:
            rows = []
            for g in pdf["id"]:
                rng = random.Random((seed << 32) ^ int(g))
                rows.extend(generate_game(rng, int(g)))
            yield pd.DataFrame(rows, columns=cols)

    n_parts = min(n_games, spark.sparkContext.defaultParallelism)
    return spark.range(n_games).repartition(n_parts).mapInPandas(gen, RAW_SCHEMA)
