"""Layer metrics read from Spark's own status store.

The driver's status store is read through the monitoring REST API that the
Spark UI serves on localhost (``/api/v1/applications/<app>/...``).  Parsing
is split from fetching so the parsers can be checked on canned payloads:

- ``stage_totals`` sums executor time, CPU, GC, shuffle, spill and I/O over
  the stages of a set of jobs;
- ``python_totals`` sums Spark 4.1's Python SQL metrics over the
  ``ArrowEvalPython`` / ``FlatMapGroupsInPandas`` nodes of the SQL
  executions that ran those jobs, and names the stages those nodes ran in.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import urllib.request

PYTHON_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas")
# Spark 4.1 PythonSQLMetrics display names -> our keys
PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "returned_mb",
    "number of output rows": "rows",
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
MIB = float(1 << 20)


def parse_metric_value(text: str) -> tuple[float, str]:
    """UI metric string -> (value in base unit, kind).

    Spark formats a task-aggregated metric as
    ``total (min, med, max (stageId: taskId))\\n15.5 s (251 ms, ...)`` and a
    plain one as ``0 ms`` / ``55``.  Times come back in seconds, sizes in
    bytes, counts as-is; kind is ``time``, ``size`` or ``count``."""
    line = text.strip().split("\n")[-1].strip()
    head = line.split(" (")[0].strip().replace(",", "")
    parts = head.split()
    if len(parts) == 2 and parts[1] in _TIME_UNITS:
        return float(parts[0]) * _TIME_UNITS[parts[1]], "time"
    if len(parts) == 2 and parts[1] in _SIZE_UNITS:
        return float(parts[0]) * _SIZE_UNITS[parts[1]], "size"
    return float(parts[0]), "count"


def parse_time(stamp: str | None) -> float | None:
    """REST timestamp ``2026-10-17T03:25:01.123GMT`` -> epoch seconds."""
    if not stamp:
        return None
    return _dt.datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=_dt.timezone.utc).timestamp()


def jobs_in_groups(jobs: list[dict], groups: set[str]) -> list[dict]:
    return [j for j in jobs if j.get("jobGroup") in groups]


def stage_totals(jobs: list[dict], stages: list[dict]) -> dict:
    """Counts and sums over the completed stage attempts of ``jobs``."""
    ids = {s for j in jobs for s in j.get("stageIds", [])}
    done = [s for s in stages
            if s["stageId"] in ids and s.get("status") == "COMPLETE"]
    return {
        "jobs": len(jobs),
        "stages": len(done),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in done),
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in done) / 1e3,
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in done) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in done) / 1e3,
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0)
                                for s in done) / MIB,
        "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0)
                               for s in done) / MIB,
        "spill_mb": sum(s.get("diskBytesSpilled", 0) for s in done) / MIB,
        "input_mb": sum(s.get("inputBytes", 0) for s in done) / MIB,
        "output_mb": sum(s.get("outputBytes", 0) for s in done) / MIB,
    }


def stage_wall_s(stages: list[dict], stage_ids: set[int]) -> float:
    """Summed submission-to-completion wall time of the given stages."""
    total = 0.0
    for s in stages:
        if s["stageId"] in stage_ids and s.get("status") == "COMPLETE":
            a, b = parse_time(s.get("submissionTime")), \
                parse_time(s.get("completionTime"))
            if a is not None and b is not None:
                total += b - a
    return total


def python_totals(executions: list[dict], job_ids: set[int]) -> dict:
    """Sum the Python SQL metrics of every Python node in the executions
    that ran any of ``job_ids``; also return the stages those nodes ran in
    (read from the ``(stage N.A: task T)`` annotation of their metrics)."""
    out = {k: 0.0 for k in PY_METRICS.values()}
    stage_ids: set[int] = set()
    for ex in executions:
        ran = set(ex.get("successJobIds", [])) | \
            set(ex.get("failedJobIds", []))
        if not ran & job_ids:
            continue
        for node in ex.get("nodes", []):
            if node.get("nodeName") not in PYTHON_NODES:
                continue
            for m in node.get("metrics", []):
                key = PY_METRICS.get(m.get("name"))
                if key is None:
                    continue
                value, kind = parse_metric_value(m["value"])
                out[key] += value / MIB if kind == "size" else value
                stage_ids.update(int(s) for s in _STAGE_RE.findall(m["value"]))
    out["stage_ids"] = stage_ids
    return out


def boundary_overhead_s(python_run_s: float, rows: float,
                        per_row_ms: float) -> float:
    """Time the Python workers ran beyond the in-process UDF cost of the
    rows they returned: the Arrow boundary plus worker-side contention."""
    return python_run_s - rows * per_row_ms / 1e3


def span_coverage(parent: tuple[float, float],
                  children: list[tuple[float, float]]) -> float:
    """Share of the parent interval covered by the union of children."""
    lo, hi = parent
    if hi <= lo:
        return 0.0
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children
                     if b > lo and a < hi)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered / (hi - lo)


class StatusStore:
    """Fetches jobs, stages and SQL executions from the driver's UI."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url}/api/v1/applications/{app_id}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> list[dict]:
        return self._get("/stages")

    def executions(self, offset: int = 0) -> list[dict]:
        return self._get(f"/sql?details=true&planDescription=false"
                         f"&offset={offset}&length=100000")
