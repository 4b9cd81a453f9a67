"""Tracing for the benchmark's traced mode.

:class:`Tracer` keeps spans in memory (name, start, end, parent, run)
and the worker writes them as JSON when it exits. Spans are recorded
only in the benchmark's own files, around its calls into each layer;
:func:`wrap` times a method of one object (an operator's ``run``, a
store's ``write``) by replacing it on that instance.

:class:`SparkRest` reads Spark's status REST API (the UI is enabled in
traced runs only) for the jobs of one run's job group and reduces them
to the ``exec.*`` metrics.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import statistics
import time
import urllib.request


class NullTracer:
    """Untraced runs: every span is free."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "run": self.run,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, obj, method: str, name: str) -> None:
        fn = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, traced)

    def total(self, name: str, run: str) -> float:
        """Summed duration of the spans called ``name`` in ``run``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["run"] == run)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span timed elsewhere (a stub request), as a child of
        the current run's ``run`` span."""
        parent = max((i for i, s in enumerate(self.spans)
                      if s["name"] == "run" and s["run"] == self.run),
                     default=None)
        self.spans.append({"name": name, "run": self.run, "parent": parent,
                           "start": start, "end": end})

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _epoch(ts: str) -> float:
    """Spark REST timestamps look like 2026-01-01T00:00:00.000GMT."""
    return dt.datetime.strptime(ts.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.loads(resp.read())

    def jobs(self, group: str, timeout_s: float = 20.0) -> list[dict]:
        """Finished jobs of ``group``, once the listener has caught up:
        none running and the set unchanged across two polls."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            done = all(j["status"] != "RUNNING" for j in jobs)
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            if done and key == prev:
                return jobs
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of {group} did not settle")
            prev = key if done else None
            time.sleep(0.2)

    def exec_metrics(self, group: str, wall_start: float, wall_end: float,
                     cores: int) -> dict:
        jobs = self.jobs(group)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}"):
                if att["status"] == "COMPLETE":
                    stages.append(att)
        skew = 1.0
        for st in stages:
            if st["numCompleteTasks"] < 2:
                continue
            q = self._get(f"/stages/{st['stageId']}/{st['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            if q[0] > 0:
                skew = max(skew, q[1] / q[0])
        wall = wall_end - wall_start
        return {
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": sum(st["numCompleteTasks"] for st in stages),
            "exec.driver_gap_s": wall - _covered(
                [(_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
                 for j in jobs if j.get("completionTime")],
                wall_start, wall_end),
            "exec.shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in stages),
            "exec.shuffle_read_bytes": sum(st["shuffleReadBytes"] for st in stages),
            "exec.spill_bytes": sum(st["diskBytesSpilled"] for st in stages),
            "exec.task_skew": skew,
            "exec.slot_busy_frac": sum(st["executorRunTime"] for st in stages)
            / 1000.0 / (cores * wall),
            "exec.gc_s": sum(st["jvmGcTime"] for st in stages) / 1000.0,
        }


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def median_metrics(per_run: list[dict]) -> dict:
    """Per-metric median over runs (counts that repeat stay exact)."""
    keys = per_run[0].keys() if per_run else []
    return {k: statistics.median(r[k] for r in per_run) for k in keys}
