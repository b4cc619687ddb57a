"""Per-layer readings for one benchmark run.

Three sources, all read outside the timed section:

- spans the benchmark records around each call into a layer's public
  function (`Tracer`), kept in memory and written out when the run ends;
- the Spark UI REST API (`Rest`): jobs, stages, task quantiles and the SQL
  executions' operator metrics, attributed to spans by the job group the
  benchmark sets around every call;
- Catalyst's phase tracker on each operation's final DataFrame.

A reading that cannot be taken is a `Skipped(reason)`, never 0.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone

MB = 2**20


@dataclass(frozen=True)
class Skipped:
    reason: str

    def __str__(self) -> str:
        return f"skipped: {self.reason}"


class RestUnavailable(Exception):
    pass


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around layer calls. Every span opened with `group=` also sets
    the Spark job group, so the jobs the call starts can be found again in
    the REST API. With `enabled=False` only the job groups are set."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: list[str | None] = []

    @contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        if group is not None:
            self._set_group(group)
        s = None
        if self.enabled:
            parent = self._stack[-1].id if self._stack else None
            s = Span(len(self.spans), name, layer, time.time(), parent=parent, group=group)
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            if s is not None:
                s.end = time.time()
                self._stack.pop()
            if group is not None:
                self._groups.pop()
                prev = self._groups[-1] if self._groups else None
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev, prev, False)

    def _set_group(self, group: str) -> None:
        self._groups.append(group)
        self.sc.setJobGroup(group, group, False)

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part its
        children cover (children never overlap: one call at a time)."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - child[s.id]
        return out

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans], **extra}, f)


# ---------------------------------------------------------------------------
# Spark UI REST API
# ---------------------------------------------------------------------------


def rest_time(s: str) -> float:
    """'2026-01-02T03:04:05.678GMT' -> epoch seconds."""
    return (
        datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Rest:
    """Reads of one application's status store. Every method raises
    RestUnavailable when the API cannot be read."""

    def __init__(self, base_url: str | None, timeout: float = 10.0) -> None:
        self.base = base_url
        self.timeout = timeout
        self._app: str | None = None

    def get(self, path: str):
        if self.base is None:
            raise RestUnavailable("Spark UI is disabled")
        url = f"{self.base}/api/v1/{path}"
        try:
            with urllib.request.urlopen(url, timeout=self.timeout) as r:
                return json.loads(r.read())
        except (urllib.error.URLError, OSError, ValueError) as e:
            raise RestUnavailable(f"{url}: {e}") from e

    def app(self) -> str:
        if self._app is None:
            apps = self.get("applications")
            if not apps:
                raise RestUnavailable("no application listed")
            self._app = apps[0]["id"]
        return self._app

    def jobs(self) -> list[dict]:
        return self.get(f"applications/{self.app()}/jobs")

    def stages(self) -> dict[tuple[int, int], dict]:
        return {
            (s["stageId"], s["attemptId"]): s
            for s in self.get(f"applications/{self.app()}/stages")
        }

    def task_quantiles(self, sid: int, att: int, qs: str) -> dict:
        return self.get(
            f"applications/{self.app()}/stages/{sid}/{att}/taskSummary?quantiles={qs}"
        )

    def sql(self) -> list[dict]:
        return self.get(
            f"applications/{self.app()}/sql?details=true&planDescription=false"
            "&offset=0&length=1000000"
        )


def wait_listener(sc) -> None:
    """Let the UI's status store catch up with the last job."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:  # private API gone: fall back to a short settle
        time.sleep(0.5)


# ---------------------------------------------------------------------------
# readings over a set of jobs
# ---------------------------------------------------------------------------


def interval_union(iv: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_intervals(jobs: list[dict], lo: float, hi: float) -> list[tuple[float, float]]:
    """Job [submit, complete] intervals clipped to the window [lo, hi]."""
    out = []
    for j in jobs:
        if "submissionTime" not in j or "completionTime" not in j:
            continue
        s = max(lo, rest_time(j["submissionTime"]))
        e = min(hi, rest_time(j["completionTime"]))
        if e > s:
            out.append((s, e))
    return out


def pass_stages(jobs: list[dict], stages: dict) -> list[dict]:
    """The completed stage attempts the given jobs ran (skipped ones excluded)."""
    ids = {sid for j in jobs for sid in j.get("stageIds", [])}
    return [s for (sid, _), s in stages.items() if sid in ids and s["status"] == "COMPLETE"]


def task_peak_mem(rest: Rest, stages: list[dict]) -> float:
    """Max over tasks of peak execution memory, in MB. Stages whose summed
    peak is 0 have no task above 0 and are not queried."""
    peak = 0
    for s in stages:
        if not s.get("peakExecutionMemory"):
            continue
        q = rest.task_quantiles(s["stageId"], s["attemptId"], "1.0")
        peak = max(peak, int(q.get("peakExecutionMemory", [0])[-1]))
    return peak / MB


def task_skew(rest: Rest, stages: list[dict]):
    """Slowest task against the median task in the longest stage (by
    summed executor run time)."""
    if not stages:
        return Skipped("no completed stage")
    longest = max(stages, key=lambda s: s.get("executorRunTime", 0))
    q = rest.task_quantiles(longest["stageId"], longest["attemptId"], "0.5,1.0")
    med, mx = q["executorRunTime"]
    if med <= 0:
        return Skipped(f"median task of stage {longest['stageId']} ran 0 ms")
    return mx / med


_PY_NODE = re.compile(r"Python|Pandas|Arrow", re.I)
_PY_METRICS = {
    "run": ("time to run python workers",),
    "start": ("time to start python workers", "time to initialize python workers"),
    "mb": ("data sent to python workers", "data returned from python workers"),
}
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2,
}


def metric_value(text: str) -> float:
    """First '<number> <unit>' of a SQL metric string, in s or MB.
    'total (min, med, max ...)\\n1.2 s (...)' and '1.2 s' both read 1.2."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


def python_operator_metrics(executions: list[dict], job_ids: set[int]) -> dict:
    """Sum of the Python exec nodes' worker metrics over the SQL executions
    that ran any of `job_ids`. A Python node without the metric makes that
    reading Skipped; no Python node at all is a measured 0."""
    out: dict[str, float | Skipped] = {k: 0.0 for k in _PY_METRICS}
    for ex in executions:
        ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", [])) | set(
            ex.get("runningJobIds", [])
        )
        if not ran & job_ids:
            continue
        for node in ex.get("nodes", []):
            if not _PY_NODE.search(node.get("nodeName", "")):
                continue
            names = {m["name"].lower(): m["value"] for m in node.get("metrics", [])}
            for key, wanted in _PY_METRICS.items():
                if isinstance(out[key], Skipped):
                    continue
                missing = [w for w in wanted if w not in names]
                if missing:
                    out[key] = Skipped(f"{node['nodeName']} has no '{missing[0]}' metric")
                    continue
                out[key] += sum(metric_value(names[w]) for w in wanted)
    return out


def phase_seconds(df) -> float | Skipped:
    """analysis + optimization + planning time of the DataFrame's own query
    execution, from Catalyst's QueryPlanningTracker: the final plan only,
    re-planned warm. Analysis ran when the DataFrame was built; the sink
    planned a wrapping command in its own query execution, so optimization
    and planning are run here, after the pass. The query executions the
    pass created on the way (each eager checkpoint, each write command)
    planned themselves and are not counted."""
    try:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        it = phases.iterator()
        total, seen = 0.0, 0
        while it.hasNext():
            kv = it.next()
            total += kv._2().durationMs() / 1000
            seen += 1
    except Exception as e:  # py4j surface differs: say so, do not read 0
        return Skipped(f"phase tracker unreadable: {type(e).__name__}")
    if not seen:
        return Skipped("phase tracker recorded no phase")
    return total


def percentile_report(xs: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples beyond
    it, with n."""
    n = len(xs)
    srt = sorted(xs)
    best = None
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            best = p
            break
    pct = (
        f"p{best}={srt[min(n - 1, int(n * best / 100))]:.4g}"
        if best is not None
        else f"p-: skipped: n={n} leaves fewer than ten samples beyond any percentile"
    )
    return f"median={statistics.median(srt):.4g} {pct} n={n}"
