"""Per-layer attribution from Spark's own event log.

A traced run starts Spark with an uncompressed, non-rolling event log
(``EVENT_LOG_CONF``). After the run, ``read_jobs`` turns the log into one
record per job: wall, tasks, executor run and CPU time, shuffle bytes and
the bytes its stages wrote. ``attribute`` then names the layer of each job:

1. The job's ``callSite.short`` ("collect at <file>:<line>"), when the
   file is an engine module, names the ``module.function`` whose body
   holds that line.
2. Otherwise (writes and other jobs submitted without a Python call site)
   the job goes to the innermost benchmark span its submission fell in.
3. A job matching neither is unattributed.

Spans are (name, start_ms, end_ms) records kept by the benchmark around
its calls into the engine, on the same wall clock as the log.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
from dataclasses import dataclass, field

_CALLSITE = re.compile(r" at (?P<file>.+?):(?P<line>\d+)$")


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int
    callsite: str | None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    bytes_written: int = 0
    write_ms: int = 0  # wall of the stages that wrote table files
    layer: str = "unattributed"
    function: str = ""

    @property
    def wall_ms(self) -> int:
        return self.end_ms - self.start_ms


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float


@dataclass
class Spans:
    """Benchmark-side spans, kept in memory until the run ends."""

    items: list[Span] = field(default_factory=list)

    def add(self, name: str, start_s: float, end_s: float) -> None:
        self.items.append(Span(name, start_s * 1000.0, end_s * 1000.0))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.items if s.name == name]


_STAGE_SUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.output.bytesWritten": "bytes_written",
}


def read_jobs(log_dir: str) -> list[Job]:
    """Parse the (single) event log under ``log_dir`` into jobs."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                j = Job(e["Job ID"], e["Submission Time"], e["Submission Time"],
                        props.get("callSite.short"))
                jobs[j.job_id] = j
                for s in e["Stage IDs"]:
                    stage_job[s] = j.job_id
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                j = jobs.get(stage_job.get(info["Stage ID"], -1))
                if j is None:
                    continue
                j.tasks += info["Number of Tasks"]
                acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                for name, attr in _STAGE_SUMS.items():
                    setattr(j, attr, getattr(j, attr) + int(acc.get(name) or 0))
                if int(acc.get("internal.metrics.output.bytesWritten") or 0) > 0:
                    j.write_ms += info["Completion Time"] - info["Submission Time"]
    return sorted(jobs.values(), key=lambda j: j.job_id)


class FunctionIndex:
    """file:line -> enclosing ``module.function`` for the engine package."""

    def __init__(self, package_dir: str):
        self.package_dir = os.path.realpath(package_dir)
        self._cache: dict[str, list[tuple[int, int, str]]] = {}

    def _defs(self, path: str) -> list[tuple[int, int, str]]:
        if path not in self._cache:
            with open(path) as f:
                tree = ast.parse(f.read())
            out = []

            def walk(node, prefix):
                for child in ast.iter_child_nodes(node):
                    if isinstance(child, (ast.FunctionDef, ast.ClassDef,
                                          ast.AsyncFunctionDef)):
                        name = f"{prefix}{child.name}"
                        out.append((child.lineno, child.end_lineno, name))
                        walk(child, name + ".")
                    else:
                        walk(child, prefix)

            walk(tree, "")
            self._cache[path] = out
        return self._cache[path]

    def lookup(self, callsite: str | None) -> tuple[str, str] | None:
        """(module, module.function) for an engine call site, else None."""
        m = _CALLSITE.search(callsite or "")
        if not m:
            return None
        path = os.path.realpath(m["file"])
        if not path.startswith(self.package_dir + os.sep) or not os.path.isfile(path):
            return None
        rel = os.path.relpath(path, self.package_dir)[: -len(".py")]
        module = rel.replace(os.sep, ".")
        line = int(m["line"])
        inner = [(lo, name) for lo, hi, name in self._defs(path) if lo <= line <= hi]
        func = max(inner)[1] if inner else "<module>"
        return module, f"{module}.{func}"


def attribute(jobs: list[Job], spans: Spans, index: FunctionIndex) -> None:
    """Set ``layer`` and ``function`` on every job (see module docstring)."""
    for j in jobs:
        hit = index.lookup(j.callsite)
        if hit is not None:
            j.layer, j.function = hit
            continue
        inside = [s for s in spans.items if s.start_ms <= j.start_ms <= s.end_ms]
        if inside:
            span = min(inside, key=lambda s: s.end_ms - s.start_ms)
            j.layer = j.function = span.name


def jobs_in(jobs: list[Job], spans: list[Span]) -> list[Job]:
    """Jobs submitted inside any of ``spans``."""
    return [j for j in jobs if any(s.start_ms <= j.start_ms <= s.end_ms for s in spans)]


def by_function(jobs: list[Job]) -> dict[str, dict[str, float]]:
    out: dict[str, dict[str, float]] = {}
    for j in jobs:
        d = out.setdefault(j.function or j.layer, {"jobs": 0, "wall_s": 0.0, "run_s": 0.0})
        d["jobs"] += 1
        d["wall_s"] += j.wall_ms / 1000.0
        d["run_s"] += j.run_ms / 1000.0
    return out
