"""Tracing for the benchmark: spans around each call into a package
layer, counts at the same boundaries, and Spark's own job/stage totals.

Spans and counts live in memory and are written as one JSON file when
the run ends. A disabled tracer records nothing and forces nothing, so
the untraced run measures the pipeline exactly as a caller would run it.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.probe: SparkProbe | None = None
        self.spans: list[dict] = []
        self.passes: list[dict[str, float]] = []  # per-pass sums: span seconds and counts
        self._stack: list[int] = []
        self._cur: dict[str, float] | None = None
        self._forced: list[DataFrame] = []

    def begin_pass(self) -> None:
        self._cur = defaultdict(float) if self.enabled else None
        if self._cur is not None and self.probe is not None:
            self.probe.harvest()  # jobs before the pass are not its own

    def spark_totals(self) -> None:
        """Add the Spark jobs run since ``begin_pass`` to the pass; call it
        right after the timed operation, before any trace-only jobs."""
        if self._cur is not None and self.probe is not None:
            for k, v in self.probe.harvest().items():
                self._cur[k] += v

    def end_pass(self) -> None:
        if self._cur is not None:
            self.passes.append(dict(self._cur))
        self._cur = None
        for df in self._forced:
            df.unpersist()
        self._forced.clear()

    @contextmanager
    def span(self, name: str):
        """Time the enclosed layer call as ``<name>`` (seconds). Nested
        spans name their enclosing span as parent."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "run_id": self.run_id, "pass": len(self.passes),
               "parent": self._stack[-1] if self._stack else None, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            rec["end"] = rec["start"] + dt
            if self._cur is not None:
                self._cur[name] += dt

    def force(self, df: DataFrame) -> DataFrame:
        """Materialize ``df`` at a layer boundary when tracing, so the
        enclosing span holds that layer's work and not a lazy plan. The
        checkpoint is released when the pass ends."""
        if not self.enabled:
            return df
        df = df.localCheckpoint(eager=True)
        self._forced.append(df)
        return df

    def count(self, name: str, value: float) -> None:
        if self._cur is not None:
            self._cur[name] += value

    def medians(self) -> dict[str, float]:
        """Median over passes of every span time and count."""
        keys = sorted({k for p in self.passes for k in p})
        return {k: statistics.median(p.get(k, 0.0) for p in self.passes) for k in keys}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "passes": self.passes, **extra}, f)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.loads(resp.read())


class SparkProbe:
    """Totals of the Spark jobs run since the last harvest, read from the
    in-process status REST API (executor run time, shuffle bytes written,
    jobs and tasks)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.seen = -1

    def harvest(self) -> dict[str, float]:
        jobs = [j for j in _get_json(self.base + "/jobs") if j["jobId"] > self.seen]
        self.seen = max([j["jobId"] for j in jobs], default=self.seen)
        sids = {s for j in jobs for s in j.get("stageIds", [])}
        stages = [s for s in _get_json(self.base + "/stages?status=complete") if s["stageId"] in sids]
        return {
            "spark.jobs": float(len(jobs)),
            "spark.tasks": float(sum(j.get("numCompletedTasks", 0) for j in jobs)),
            "spark.task_s": sum(s.get("executorRunTime", 0) for s in stages) / 1000.0,
            "spark.shuffle_bytes": float(sum(s.get("shuffleWriteBytes", 0) for s in stages)),
        }
