"""The benchmark workloads: inputs, persisted state, one pass, and the
output check against the registry's DuckDB oracles.

A pass calls the package's public entry points one operation at a time
from this single driver process. Each call is wrapped in a span whose job
group names the pass, the operation and the phase (`build`: the query
function, including its eager checkpoint jobs; `sink`/`write`: the action
that consumes the result), so the REST API can attribute every job.
"""

from __future__ import annotations

import glob
import os
import threading
from dataclasses import dataclass

import duckdb

import inputs

NOOP = "noop"
# an op still running after this is cancelled and counted as failed
OP_TIMEOUT_S = 120.0


@dataclass
class OpRun:
    """One operation of one pass."""

    name: str
    error: str | None = None
    frame: object = None  # the DataFrame the op's sink consumed

    @property
    def ok(self) -> bool:
        return self.error is None


@dataclass
class Ctx:
    spark: object
    tracer: object
    data_dir: str
    pub_dir: str


def _guarded(ctx: Ctx, run: OpRun, group: str, fn):
    """Run fn(); cancel the op's jobs after the op timeout. Any exception
    marks the op failed; the pass goes on with the next op."""
    sc = ctx.spark.sparkContext
    timer = threading.Timer(OP_TIMEOUT_S, lambda: sc.cancelJobGroup(group))
    timer.start()
    try:
        return fn()
    except Exception as e:  # a failed op is a result, recorded and counted
        run.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        return None
    finally:
        timer.cancel()


def oracle_frame(sql: str, data_dir: str, replace: dict[str, str] | None = None):
    """Run one registry oracle in DuckDB over the generated tables.

    `oracle.run_oracle` opens a view for every table of the engine's test
    schema and fails when one is absent; the benchmark generates only the
    tables its workload reads, so this opens views for those and applies
    the same cache-glob resolution."""
    from d3d_etl_spark.oracle import resolve_cache_globs

    for old, new in (replace or {}).items():
        sql = sql.replace(old, new)
    sql = resolve_cache_globs(sql, data_dir)
    con = duckdb.connect()
    try:
        for path in glob.glob(os.path.join(data_dir, "*.parquet")):
            t = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


class Workload:
    name: str
    unit: str
    n: int
    ops: tuple[str, ...]

    def generate(self, data_dir: str, seed: int) -> None:
        raise NotImplementedError

    def build_state(self, ctx: Ctx) -> None:
        """Build every piece of persisted state the pass reads."""

    def run_pass(self, ctx: Ctx, tag: str) -> list[OpRun]:
        raise NotImplementedError

    def check(self, ctx: Ctx, runs: list[OpRun]) -> dict[str, list[str]]:
        """Outside the timed section: problems per operation (empty = match)."""
        raise NotImplementedError


class SimServing(Workload):
    """Each op is `REGISTRY[name].fn(spark, data_dir)` written to a noop sink."""

    name = "sim_serving"
    unit = "vectors"
    n = 300
    ops = ("z_sim_incremental",)

    def generate(self, data_dir: str, seed: int) -> None:
        inputs.write_embeddings(data_dir, seed, self.n)

    def build_state(self, ctx: Ctx) -> None:
        from d3d_etl_spark.queries.simsearch import ivf_index_state

        with ctx.tracer.span("ivf_index_state", "state", group="setup|ivf_index_state"):
            ivf_index_state(ctx.spark, ctx.data_dir)

    def run_pass(self, ctx: Ctx, tag: str) -> list[OpRun]:
        from d3d_etl_spark.queries.registry import REGISTRY

        runs = []
        for q in self.ops:
            run = OpRun(q)
            g = f"{tag}|{q}|build"
            with ctx.tracer.span(q, "queries", group=g):
                df = _guarded(ctx, run, g, lambda: REGISTRY[q].fn(ctx.spark, ctx.data_dir))
            if df is not None:
                g = f"{tag}|{q}|sink"
                with ctx.tracer.span(f"{q}.sink", "exec", group=g):
                    _guarded(ctx, run, g,
                             lambda: df.write.format(NOOP).mode("overwrite").save())
                run.frame = df
            runs.append(run)
        return runs

    def check(self, ctx: Ctx, runs: list[OpRun]) -> dict[str, list[str]]:
        """Re-execute each op's timed DataFrame (its checkpointed inputs are
        already computed) and compare it with the op's oracle."""
        from d3d_etl_spark.oracle import compare_frames
        from d3d_etl_spark.queries.registry import REGISTRY

        out = {}
        for run in runs:
            if not run.ok:
                out[run.name] = [f"raised: {run.error}"]
                continue
            try:
                got = run.frame.toPandas()
                want = oracle_frame(REGISTRY[run.name].oracle, ctx.data_dir)
                out[run.name] = compare_frames(got, want)
            except Exception as e:
                out[run.name] = [f"check raised {type(e).__name__}: {e}"]
        return out


# published tables of the nightly chain, in publish order: the parse and
# the batting board (RE24 from `with_metrics`)
PBP_TABLES = ("parsed", "batting")
PBP_PARTITION = ("division", "year")


class PbpSeason(Workload):
    """raw narration -> parse -> RE24 -> batting board, each table published
    with `io.write_partitioned` by division, year."""

    name = "pbp_season"
    unit = "games"
    n = 200
    ops = PBP_TABLES

    def generate(self, data_dir: str, seed: int) -> None:
        inputs.write_games(data_dir, seed, self.n)

    def raw_dir(self, ctx: Ctx) -> str:
        return os.path.join(ctx.data_dir, "raw_games")

    def run_pass(self, ctx: Ctx, tag: str) -> list[OpRun]:
        from d3d_etl_spark.io import read_parquet, write_partitioned
        from d3d_etl_spark.pbp.pipeline import run_analytics

        spark = ctx.spark
        head = OpRun("run_analytics")
        g = f"{tag}|run_analytics|build"

        def analytics():
            # the raw table is one small file: fan it out by game, as the
            # package's own pipeline queries do before the parse
            raw = read_parquet(spark, self.raw_dir(ctx)).repartition(
                spark.sparkContext.defaultParallelism, "contest_id"
            )
            return run_analytics(raw)

        with ctx.tracer.span("run_analytics", "queries", group=g):
            out = _guarded(ctx, head, g, analytics)
        runs = []
        for t in PBP_TABLES:
            run = OpRun(t)
            if out is None:
                run.error = f"run_analytics raised: {head.error}"
                runs.append(run)
                continue
            g = f"{tag}|{t}|build"
            with ctx.tracer.span(t, "queries", group=g):
                df = _guarded(ctx, run, g, lambda: getattr(out, t))
            if df is not None:
                g = f"{tag}|{t}|write"
                with ctx.tracer.span(f"{t}.write", "io", group=g):
                    _guarded(ctx, run, g, lambda: write_partitioned(
                        df, os.path.join(ctx.pub_dir, t), PBP_PARTITION))
                run.frame = df
            runs.append(run)
        return runs

    def check(self, ctx: Ctx, runs: list[OpRun]) -> dict[str, list[str]]:
        """Read each published table back and compare it with its oracle:
        the parse against the corpus FSM oracle recomputed from this run's
        raw file, the batting board against the `z_pbp_dag` oracle over
        this run's published parse."""
        from d3d_etl_spark.oracle import compare_frames
        from d3d_etl_spark.queries import domain
        from d3d_etl_spark.queries.registry import REGISTRY

        raw_glob = os.path.join(domain._CACHE_DIR, "raw_games_*", "*.parquet")
        pub_parsed = os.path.join(ctx.pub_dir, "parsed", "*", "*", "*.parquet")
        to_raw = {raw_glob: os.path.join(self.raw_dir(ctx), "*.parquet")}
        to_pub = {
            f"read_parquet('{domain._PARSED_GLOB}')":
            f"read_parquet('{pub_parsed}', hive_partitioning = true)"
        }
        oracles = {
            "parsed": (REGISTRY["z_pbp_corpus_fsm"].oracle, to_raw),
            "batting": (REGISTRY["z_pbp_dag"].oracle, to_pub),
        }
        out = {}
        for run in runs:
            if not run.ok:
                out[run.name] = [f"raised: {run.error}"]
                continue
            try:
                got = ctx.spark.read.parquet(os.path.join(ctx.pub_dir, run.name)).toPandas()
                sql, repl = oracles[run.name]
                want = oracle_frame(sql, ctx.data_dir, repl)
                missing = [c for c in want.columns if c not in got.columns]
                if missing:
                    out[run.name] = [f"published table lacks {missing}"]
                    continue
                got = got[list(want.columns)]
                if run.name == "parsed":
                    got = got.astype({"inning": "int32"})
                out[run.name] = compare_frames(got, want)
            except Exception as e:
                out[run.name] = [f"check raised {type(e).__name__}: {e}"]
        return out


WORKLOADS = {w.name: w for w in (PbpSeason(), SimServing())}


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, fs in os.walk(path) for f in fs)
