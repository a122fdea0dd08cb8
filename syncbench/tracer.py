"""Spans around the benchmark's calls into each layer, and the Spark
work each span launched, read from the JVM status store.

A span is ``(name, parent, start, end, update)``. Spans nest on one
stack: the benchmark is a single closed-loop client, so while a
``foreachBatch`` callback runs on the stream's thread the main thread
only waits, and the callback's spans are children of the main
thread's open span.

Jobs are charged to the innermost span open at their submission time.
The status store sees every job, including those Structured Streaming
runs under its own job group inside ``foreachBatch``, which
``statusTracker().getJobIdsForGroup(None)`` misses. ``harvest`` pulls
the jobs, stages and tasks finished since the last harvest; call it
between updates, outside any timed region, so the store's retention
limits are never reached.

With tracing off, ``span`` is a shared null context and ``harvest``
does nothing, so the untraced run pays one function call per span.
"""

from __future__ import annotations

import contextlib
import json
import math
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.jobs: list[dict] = []  # one record per harvested job
        self._stack: list[int] = []
        self._last_job = -1
        self._seen_stages: set[tuple[int, int]] = set()
        self.update: int | None = None  # id shared by the spans of one update
        if enabled:
            jvm = spark._jvm
            self._store = spark.sparkContext._jsc.sc().statusStore()
            self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._json.registerModule(getattr(scala, "MODULE$"))
            self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
            # charge nothing that ran before the tracer existed
            self._last_job = max((j["jobId"] for j in self._read(self._store.jobsList(None))), default=-1)

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "update": self.update,
            "t0": time.time(),
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def _read(self, payload) -> list[dict]:
        return json.loads(self._json.writeValueAsString(payload))

    def harvest(self) -> None:
        """Charge every job finished since the last harvest to a span."""
        if not self.enabled:
            return
        new = [j for j in self._read(self._store.jobsList(None)) if j["jobId"] > self._last_job]
        if not new:
            return
        self._last_job = max(j["jobId"] for j in new)
        wanted = {s for j in new for s in j["stageIds"]}
        stages = [
            s
            for s in self._read(self._store.stageList(None, False, False, self._no_quantiles, None))
            if s["stageId"] in wanted
            and s["status"] == "COMPLETE"
            and (s["stageId"], s["attemptId"]) not in self._seen_stages
        ]
        by_stage = {}
        for s in stages:
            self._seen_stages.add((s["stageId"], s["attemptId"]))
            tasks = self._read(self._store.taskList(s["stageId"], s["attemptId"], 1 << 30))
            empty = sum(
                1
                for t in tasks
                if (t.get("taskMetrics") or {}).get("inputMetrics", {}).get("recordsRead", 0)
                + (t.get("taskMetrics") or {}).get("shuffleReadMetrics", {}).get("recordsRead", 0)
                == 0
            )
            by_stage[s["stageId"]] = {
                "tasks": s["numCompleteTasks"],
                "empty_tasks": empty,
                "task_s": s["executorRunTime"] / 1000.0,
                "shuffle_bytes": s["shuffleReadBytes"] + s["shuffleWriteBytes"],
            }
        for j in sorted(new, key=lambda j: j["jobId"]):
            mine = [by_stage.pop(s) for s in sorted(j["stageIds"]) if s in by_stage]
            self.jobs.append(
                {
                    "span": self._span_at(j["submissionTime"]),
                    "stages": len(mine),
                    "tasks": sum(m["tasks"] for m in mine),
                    "empty_tasks": sum(m["empty_tasks"] for m in mine),
                    "task_s": sum(m["task_s"] for m in mine),
                    "shuffle_bytes": sum(m["shuffle_bytes"] for m in mine),
                }
            )

    def _span_at(self, t_ms: float | None) -> int | None:
        """Index of the innermost span open at ``t_ms``."""
        if t_ms is None:
            return None
        best = None
        for i in range(len(self.spans) - 1, -1, -1):
            s = self.spans[i]
            t1 = s["t1"] if s["t1"] is not None else math.inf
            if math.floor(s["t0"] * 1000) <= t_ms <= math.ceil(t1 * 1000):
                if best is None or s["t0"] > self.spans[best]["t0"]:
                    best = i
        return best

    def _root(self, i: int) -> int:
        while self.spans[i]["parent"] is not None:
            i = self.spans[i]["parent"]
        return i

    def root_totals(self, updates: set) -> dict[str, dict[str, float]]:
        """Per top-level span name (``update``, ``serve``): wall time,
        and every job launched anywhere beneath those spans."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["parent"] is None and s["update"] in updates and s["t1"] is not None:
                out[s["name"]]["wall_s"] += s["t1"] - s["t0"]
                out[s["name"]]["calls"] += 1
        for j in self.jobs:
            if j["span"] is None:
                continue
            root = self.spans[self._root(j["span"])]
            if root["update"] not in updates:
                continue
            tot = out[root["name"]]
            tot["jobs"] += 1
            for k in ("stages", "tasks", "empty_tasks", "task_s", "shuffle_bytes"):
                tot[k] += j[k]
        return {k: dict(v) for k, v in out.items()}

    def jobs_under(self, span_index: int) -> int:
        """Jobs charged to a span or any span beneath it."""
        def under(i):
            while i is not None:
                if i == span_index:
                    return True
                i = self.spans[i]["parent"]
            return False

        return sum(1 for j in self.jobs if j["span"] is not None and under(j["span"]))

    def layer_totals(self, updates: set, root: str) -> dict[str, dict[str, float]]:
        """Per layer, over the spans of ``updates`` beneath a top-level
        span named ``root``: self time (span time not covered by child
        spans), and the jobs, stages, tasks, empty tasks, task time and
        shuffle bytes charged to it."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["t1"] is not None:
                child_s[s["parent"]] += s["t1"] - s["t0"]
        mine = {
            i
            for i, s in enumerate(self.spans)
            if s["update"] in updates and s["t1"] is not None and self.spans[self._root(i)]["name"] == root
        }
        for i in mine:
            s = self.spans[i]
            out[s["name"]]["self_s"] += s["t1"] - s["t0"] - child_s[i]
            out[s["name"]]["calls"] += 1
        for j in self.jobs:
            if j["span"] not in mine:
                continue
            tot = out[self.spans[j["span"]]["name"]]
            tot["jobs"] += 1
            for k in ("stages", "tasks", "empty_tasks", "task_s", "shuffle_bytes"):
                tot[k] += j[k]
        return {k: dict(v) for k, v in out.items()}
