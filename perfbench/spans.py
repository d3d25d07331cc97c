"""Spans around calls into pumle_spark layers, and Spark work attributed to them.

A span is (id, name, parent, start, end) in ``time.perf_counter`` seconds.
Spans are kept in memory and written out once, when the run ends. The
benchmark opens a span around each call it makes into a layer's public
functions; nothing inside the package is instrumented.

With tracing on, every span also becomes a Spark job group (``pb<id>``),
so after the run the monitoring REST API of the Spark UI (the endpoints
``tools/opt_probe.py`` reads) tells which jobs, stages and tasks each span
launched. With tracing off, spans only read the clock.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from collections.abc import Iterator
from contextlib import contextmanager

# A stage counts towards task skew only if it ran at least this much task
# time: on a 10 ms stage a 20 ms straggler is scheduling noise, not skew.
_SKEW_MIN_STAGE_S = 0.5


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled:
            self.sc.setJobGroup(f"pb{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(f"pb{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- span arithmetic ---------------------------------------------------

    @staticmethod
    def dur(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part covered by its child spans."""
        return self.dur(rec) - sum(self.dur(c) for c in self.children(rec["id"]))

    def descendants(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkWork:
    """Jobs and completed stages of the application, read once from the
    monitoring REST API after the traced work is done."""

    def __init__(self, spark):
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        try:  # let the UI listener catch up with the last task-end events
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(2.0)
        self._base = base
        self.jobs = self._get("/jobs")
        stages = [s for s in self._get("/stages") if s["status"] == "COMPLETE"]
        self.stages = {s["stageId"]: s for s in stages}
        # a stage runs once, in the first job that lists it; later jobs skip it
        self.stage_job: dict[int, int] = {}
        for job in sorted(self.jobs, key=lambda j: j["jobId"]):
            for sid in job["stageIds"]:
                if sid in self.stages:
                    self.stage_job.setdefault(sid, job["jobId"])
        self._skew: dict[int, float] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.loads(r.read())

    def jobs_of(self, span_ids: set[int]) -> list[dict]:
        groups = {f"pb{i}" for i in span_ids}
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def stages_of(self, span_ids: set[int]) -> list[dict]:
        job_ids = {j["jobId"] for j in self.jobs_of(span_ids)}
        return [s for sid, s in self.stages.items() if self.stage_job.get(sid) in job_ids]

    def skew(self, stage: dict) -> float:
        """max ÷ median task run time of one stage."""
        sid = stage["stageId"]
        if sid not in self._skew:
            q = self._get(f"/stages/{sid}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            self._skew[sid] = mx / med if med > 0 else 1.0
        return self._skew[sid]

    def summary(self, span_ids: set[int], prefix: str) -> dict[str, float]:
        """exec-style counters over the work of a set of spans."""
        stages = self.stages_of(span_ids)
        mb = 1024.0 * 1024.0
        skewed = [s for s in stages
                  if s["numCompleteTasks"] >= 2 and s["executorRunTime"] >= _SKEW_MIN_STAGE_S * 1000]
        return {
            f"{prefix}.jobs": len(self.jobs_of(span_ids)),
            f"{prefix}.stages": len(stages),
            f"{prefix}.tasks": sum(s["numCompleteTasks"] for s in stages),
            f"{prefix}.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            f"{prefix}.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            f"{prefix}.jvm_gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            f"{prefix}.input_mb": sum(s["inputBytes"] for s in stages) / mb,
            f"{prefix}.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
            f"{prefix}.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
            f"{prefix}.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / mb,
            f"{prefix}.task_skew_max": max((self.skew(s) for s in skewed), default=1.0),
        }


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q) - 1]
