"""Spans recorded by the benchmark around each call into a layer's
public functions, and the Spark work each span caused.

A span holds its name, start, end, parent span and operation id.  Spans
stay in memory and are written out as JSON lines when the run ends.
Spark work is attributed through a job group per span, read back with
``sparkContext.statusTracker()`` (works with the UI disabled);
streaming micro-batches run on the query's own thread under its run id,
so a drain span names that group explicitly.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spark = None  # set by the workload once its session runs
        self.spans: list[dict] = []
        self.op = None
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one call into a layer; a no-op unless tracing is on."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self.op,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"pb-{sid}", name)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            if sc is not None:
                rec.update(self._spark_counts([f"pb-{sid}", *rec.get("groups", [])]))
                if stack:
                    sc.setJobGroup(f"pb-{stack[-1]}", self.spans[stack[-1]]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def _spark_counts(self, groups: list[str]) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = failed = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks == 0 and si.numFailedTasks == 0:
                        continue  # skipped stage: its shuffle output was reused
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")

    # ------------------------------------------------------------- derived
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        child = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None and rec["end"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        return {
            rec["id"]: (rec["end"] - rec["start"]) - child[rec["id"]]
            for rec in self.spans
            if rec["end"] is not None
        }

    def per_op(self, name: str) -> dict:
        """op id -> summed self time of the spans called ``name`` in
        that operation."""
        selfs = self.self_times()
        out: dict = defaultdict(float)
        for rec in self.spans:
            if rec["name"] == name and rec["end"] is not None:
                out[rec["op"]] += selfs[rec["id"]]
        return dict(out)

    def spark_per_op(self) -> dict[str, float]:
        """Mean Spark jobs/stages/tasks/failed tasks per operation."""
        tot: dict = defaultdict(lambda: defaultdict(int))
        for rec in self.spans:
            if rec["op"] is None or "jobs" not in rec:
                continue
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                tot[rec["op"]][k] += rec[k]
        n = max(1, len(tot))
        return {
            f"spark.{k}": sum(v[k] for v in tot.values()) / n
            for k in ("jobs", "stages", "tasks", "failed_tasks")
        }
