"""Tracing for the benchmark's traced runs, all recorded from outside
the program: spans around calls into each layer, Spark's own status
REST API (served by the driver on localhost), and a count of py4j
calls made by the Python side.

Untraced runs use :data:`NULL_TRACER`, whose spans cost one attribute
lookup and record nothing.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``(name, start, end, parent)``, written out once
    with :meth:`dump` when the run ends."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, span: dict) -> float:
        """The span's duration minus the part its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == span["id"] and s["end"]]
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class _NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None


NULL_TRACER = _NullTracer()


class Py4jCounter:
    """Counts commands the Python driver sends to the JVM by wrapping the
    gateway client's ``send_command`` on this one instance."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        self._client.send_command = self._orig


class SparkCounters:
    """Engine work between two points, from the status REST API:
    jobs, stages, tasks, shuffle and spill bytes, executor CPU, GC and
    the task-busy ratio (task run time / (wall x cores))."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._cores = sc.defaultParallelism
        self._jobs0 = self._stages0 = None
        self._t0 = 0.0

    def _get(self, what: str) -> list[dict]:
        with urllib.request.urlopen(f"{self._base}/{what}", timeout=30) as r:
            return json.load(r)

    def job_ids(self) -> set[int]:
        return {j["jobId"] for j in self._get("jobs")}

    def start(self) -> None:
        self._jobs0 = self.job_ids()
        self._stages0 = {(s["stageId"], s["attemptId"]) for s in self._get("stages")}
        self._t0 = time.perf_counter()

    def stop(self, prefix: str) -> dict[str, float]:
        wall = time.perf_counter() - self._t0
        jobs = [j for j in self._get("jobs") if j["jobId"] not in self._jobs0]
        stages = [
            s for s in self._get("stages")
            if (s["stageId"], s["attemptId"]) not in self._stages0 and s["status"] == "COMPLETE"
        ]
        run_ms = sum(s["executorRunTime"] for s in stages)
        return {
            f"{prefix}.jobs": len(jobs),
            f"{prefix}.stages": len(stages),
            f"{prefix}.tasks": sum(s["numCompleteTasks"] for s in stages),
            f"{prefix}.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            f"{prefix}.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            f"{prefix}.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            f"{prefix}.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            f"{prefix}.task_busy_ratio": run_ms / 1e3 / (wall * self._cores),
        }


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]
