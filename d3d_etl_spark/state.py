"""Persisted state under `<tree root>/.domain_cache`: the one module that
knows how state is keyed, placed, built and found.

A *family* is one kind of persisted state (the parsed plays, the LSH band
keys of the old document batch, the IVF centroids, ...). One built
instance of a family lives at ``<root>/<family>_<key>/`` and counts as
built once its ``<family>_<key>.done`` marker exists. The key is a short
hash of

- the family name and its version constant: bump the version whenever the
  builder's output changes, and no instance built by the old code matches;
- what the builder reads: an ``os.stat`` fingerprint (path, size, mtime)
  of each input table under ``sf_dir``, or, for generated inputs, the
  builder's parameter (the game count of ``raw_games``);
- the key of the family it is built from, so whatever invalidates an
  upstream family invalidates every family chained after it.

A key costs a few ``os.stat`` calls: no file content is read and no Spark
job runs, so query code re-derives it on every call and the DuckDB oracles
resolve their globs without a session. Instances for different inputs
coexist side by side (verify at sf0.01 and bench at sf0.1 never evict each
other), up to ``LRU_KEEP`` per family.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from d3d_etl_spark.pbp.synth import games_for

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".domain_cache"
)

# built instances kept per family; the least recently used beyond this are
# removed after each build
LRU_KEEP = 4


@dataclass(frozen=True)
class Family:
    version: int
    tables: tuple[str, ...] = ()  # input tables the builder reads under sf_dir
    upstream: str | None = None  # the family the builder reads
    param: Callable[[str], object] | None = None  # parameter of a generated input


# Bump a family's version whenever a change to its builder (generator,
# parser, trainer, ...) changes what it writes; the families chained after
# it rebuild with it.
FAMILIES: dict[str, Family] = {
    "raw_games": Family(1, param=games_for),
    "parsed_pbp": Family(1, upstream="raw_games"),
    "bucketed_spine": Family(1, upstream="parsed_pbp"),
    "zordered_events": Family(1, tables=("events",)),
    "longdocs": Family(1, tables=("documents",)),
    "lsh_bands": Family(1, tables=("documents",)),
    "ivf_cents": Family(1, tables=("embeddings",)),
    "ivf_assign": Family(1, upstream="ivf_cents"),
    "pq_icents": Family(1, upstream="ivf_assign"),
    "pq_cb": Family(1, upstream="pq_icents"),
    "pq_codes": Family(1, upstream="pq_cb"),
}


def fingerprint(path: str) -> tuple:
    """Identity of a file without reading it: (path, size, mtime_ns), or
    (path, None) when it does not exist."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return (path, None)
    return (path, st.st_size, st.st_mtime_ns)


def key(family: str, sf_dir: str) -> str:
    fam = FAMILIES[family]
    parts = (
        family,
        fam.version,
        [fingerprint(os.path.join(sf_dir, f"{t}.parquet")) for t in fam.tables],
        fam.param(sf_dir) if fam.param else None,
        key(fam.upstream, sf_dir) if fam.upstream else None,
    )
    return hashlib.sha1(repr(parts).encode()).hexdigest()[:12]


def path(family: str, sf_dir: str) -> str:
    return os.path.join(ROOT, f"{family}_{key(family, sf_dir)}")


def parquet_glob(family: str) -> str:
    """The parquet files of every instance of `family`, as oracle SQL
    embeds them; `resolve_cache_globs` narrows the glob to one instance."""
    return os.path.join(ROOT, f"{family}_*", "*.parquet")


def resolve_cache_globs(sql: str, sf_dir: str) -> str:
    """Rewrite every '<family>_*' directory glob in `sql` to the instance
    keyed for `sf_dir`. Idempotent on SQL with no family globs."""
    for family in FAMILIES:
        pattern = f"{os.sep}{family}_*{os.sep}"
        if pattern in sql:
            sql = sql.replace(pattern, f"{os.sep}{family}_{key(family, sf_dir)}{os.sep}")
    return sql


def ensure(family: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """Directory of `family`'s state for `sf_dir`, running `build(tmp)` to
    write it first when no built instance exists.

    The fast path (marker and directory present) takes no lock; it touches
    the marker so the LRU sweep sees the instance as used. Otherwise the
    builders of one family serialize on a per-family flock (per family, not
    global: the parsed build nests the raw build) and re-check under it.
    The build writes into a DOT-prefixed temp dir, outside the family's
    glob, so a build that crashes mid-write never leaves a directory the
    oracle globs or the marker check would trust; the finished dir is moved
    into place with `os.replace`, then marked, then the family is swept
    down to LRU_KEEP instances. Temp dirs left by crashed builds are
    removed by the next build of the family."""
    out = path(family, sf_dir)
    marker = out + ".done"
    if os.path.exists(marker) and os.path.isdir(out):
        os.utime(marker)
        return out
    os.makedirs(ROOT, exist_ok=True)
    # closing the lock file releases the flock
    with open(os.path.join(ROOT, f".{family}.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(marker) and os.path.isdir(out):
            return out  # another process built it while this one waited
        for stale in glob.glob(os.path.join(ROOT, f".tmp_{family}_*")):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = os.path.join(ROOT, ".tmp_" + os.path.basename(out))
        build(tmp)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
        with open(marker, "w") as f:
            f.write(os.path.basename(out))
        built = [
            d
            for d in glob.glob(os.path.join(ROOT, f"{family}_*"))
            if os.path.isdir(d) and os.path.exists(d + ".done")
        ]
        built.sort(key=lambda d: os.path.getmtime(d + ".done"), reverse=True)
        for d in built[LRU_KEEP:]:
            if d != out:
                _remove(d)
    return out


def drop(family: str, sf_dir: str) -> None:
    """Delete `family`'s state for `sf_dir`; the next `ensure` rebuilds it."""
    _remove(path(family, sf_dir))


def _remove(instance: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(instance + ".done")
    shutil.rmtree(instance, ignore_errors=True)
