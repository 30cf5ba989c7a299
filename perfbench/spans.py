"""Spans around the benchmark's calls into the engine's layers.

A span is one call into a public function plus the action that forces
it. With tracing on, the span runs under its own Spark job group, and
when it ends the jobs of that group are read back from the driver's
status tracker and status store: jobs launched, tasks launched,
executor run time, shuffle bytes written and input bytes read. Spans
stay in memory (name, start, end, parent, workload, counters) and are
written out once, when the run ends.

With tracing off, `span` only yields: the end-to-end metrics are
measured that way.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

STATS = ("jobs", "tasks", "busy_ms", "shuffle_write_bytes", "input_bytes")


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # a shuffle stage reused by a later job is listed again in that
        # job's stage ids; count every stage once
        self._seen_stages: set[int] = set()
        self.overhead_s = 0.0  # time spent reading counters back

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        """Record `name` (`<layer>.<fn>`) around the body; `attrs` are
        stored with the span (e.g. a query's cache state)."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            **attrs,
            **{k: 0 for k in STATS},
            "readback_s": 0.0,  # nested spans' counter read-back time
        }
        group = f"perfbench-{rec['id']}"
        sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            t = time.monotonic()
            self._add_job_stats(rec, group)
            readback = time.monotonic() - t
            with self._lock:
                self.overhead_s += readback
            if parent is not None:
                for k in STATS:
                    parent[k] += rec[k]
                parent["readback_s"] += rec["readback_s"] + readback
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def timed(self, name: str, times: list[float]):
        """`span(name)` that also appends its wall time to `times`,
        measured with tracing on or off (and without the span's own
        counter read-back)."""
        t = time.monotonic()
        with self.span(name):
            yield
            times.append(time.monotonic() - t)

    def _add_job_stats(self, rec: dict, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # job-end events reach the status store through the listener
        # bus; drain it so the span's last job is counted
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        jvm = sc._jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            if job is None:
                continue
            rec["jobs"] += 1
            with self._lock:
                new = [s for s in job.stageIds if s not in self._seen_stages]
                self._seen_stages.update(new)
            for stage_id in new:
                info = tracker.getStageInfo(stage_id)
                if info is not None:
                    rec["tasks"] += info.numCompletedTasks + info.numFailedTasks
                attempts = store.stageData(
                    stage_id, False, jvm.java.util.ArrayList(), False, no_quantiles
                )
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    rec["busy_ms"] += sd.executorRunTime()
                    rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    rec["input_bytes"] += sd.inputBytes()

    @staticmethod
    def wall_s(rec: dict) -> float:
        """A span's wall time without its nested spans' read-back."""
        return rec["end"] - rec["start"] - rec["readback_s"]

    def overhead_share(self) -> float:
        """Counter read-back time as a share of the root spans' time:
        the tracer's own cost, measured inside the traced run."""
        roots = sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)
        return self.overhead_s / roots if roots else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)

    def by_name(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s)
        return out
