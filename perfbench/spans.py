"""In-memory spans around calls into engine layers, with Spark job counts.

A span records name, layer, start, end, parent span and request id. When
tracing is on, each span also gets its own Spark job group, and at span exit
the jobs, stages, tasks and failed tasks of that group are read from
``SparkContext.statusTracker()``. A job is counted in the innermost open
span, so per-span counts are self counts. ``book_s`` is the tracer's own time
on the span (job-group calls and counting), i.e. its overhead. With tracing
off, ``span`` records nothing and touches no Spark state.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

LAYERS = ("session", "tokenizer", "codec", "build", "catalog", "wand",
          "incremental", "query")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._seq = 0

    def attach(self, sc) -> None:
        """Count jobs through ``sc`` (call again after a session restart)."""
        self._sc = sc

    def detach(self) -> None:
        self._sc = None

    @contextmanager
    def span(self, layer: str, name: str, request: int | None = None):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._seq, "parent": parent["id"] if parent else None,
               "layer": layer, "name": name, "request": request,
               "group": f"perfbench-{self._seq}"}
        self._set_group(rec)
        self._stack.append(rec)
        rec["book_s"] = time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            rec.update(self._job_counts(rec["group"]))
            self._set_group(parent)
            self.spans.append(rec)
            rec["book_s"] += time.perf_counter() - t

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(rec["group"], f"{rec['layer']}:{rec['name']}")

    def _job_counts(self, group: str) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        if self._sc is None:
            return out
        st = self._sc.statusTracker()
        for job_id in st.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = st.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                si = st.getStageInfo(stage_id)
                if si is None:
                    continue
                out["stages"] += 1
                out["tasks"] += si.numTasks
                out["failed_tasks"] += si.numFailedTasks
        return out

    def find(self, layer: str, name: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer and s["name"] == name]

    def layer_table(self) -> dict[str, dict]:
        """Per layer: calls, busy_s (span time), self_s (span time not
        covered by child spans), jobs, stages, tasks, failed_tasks."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        table = {layer: {"calls": 0, "busy_s": 0.0, "self_s": 0.0, "jobs": 0,
                         "stages": 0, "tasks": 0, "failed_tasks": 0}
                 for layer in LAYERS}
        for s in self.spans:
            row = table[s["layer"]]
            dur = s["end"] - s["start"]
            row["calls"] += 1
            row["busy_s"] += dur
            row["self_s"] += dur - child_s.get(s["id"], 0.0)
            for key in ("jobs", "stages", "tasks", "failed_tasks"):
                row[key] += s[key]
        return table

    def format_table(self) -> str:
        table = self.layer_table()
        lines = [f"{'layer':<12}{'calls':>6}{'busy_s':>10}{'self_s':>10}"
                 f"{'jobs':>7}{'stages':>8}{'tasks':>8}{'failed':>8}"]
        for layer, r in table.items():
            lines.append(f"{layer:<12}{r['calls']:>6}{r['busy_s']:>10.3f}{r['self_s']:>10.3f}"
                         f"{r['jobs']:>7}{r['stages']:>8}{r['tasks']:>8}{r['failed_tasks']:>8}")
        return "\n".join(lines)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
