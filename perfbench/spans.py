"""In-memory spans around the benchmark's calls into the program.

Each span has a name, start, end, parent and request id, and tags the
Spark jobs it submits with a job group of its own. Jobs, stages and tasks
are resolved through ``statusTracker`` once the run is over, after the
listener bus has drained, so the counts repeat exactly from run to run.

Jobs submitted from a thread the library starts carry no job group (a
Python thread does not inherit the caller's Spark local properties); each
such job goes to the innermost span whose own grouped job ids enclose its
id, since job ids are handed out in submission order and one client runs
one call at a time.

A disabled tracer records nothing and sets no job groups.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._children: dict[int, list[int]] = defaultdict(list)

    def attach(self, sc) -> None:
        """Start tagging jobs once the SparkContext exists."""
        self.sc = sc

    def add(self, name: str, start: float, end: float, request: str) -> None:
        """Record a span measured before the tracer could tag jobs."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "start": start,
                               "end": end, "parent": None, "request": request,
                               "group": None})

    def _tag(self, span: dict | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", span and span["group"])
            self.sc.setLocalProperty("spark.job.description", span and span["name"])

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "request": request if request is not None
            else (self.spans[parent]["request"] if parent is not None else None),
        }
        rec["group"] = f"perfbench-{rec['id']}-{name}"
        self.spans.append(rec)
        if parent is not None:
            self._children[parent].append(rec["id"])
        self._stack.append(rec["id"])
        self._tag(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(self.spans[self._stack[-1]] if self._stack else None)

    def resolve(self) -> None:
        """Attach own and inclusive job/stage/task counts to every span."""
        if not self.enabled or self.sc is None:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        own: dict[int, list[int]] = {}
        for s in self.spans:
            own[s["id"]] = (
                sorted(tracker.getJobIdsForGroup(s["group"])) if s["group"] else []
            )
        for j in tracker.getJobIdsForGroup(None):
            enclosing = [
                (ids[-1] - ids[0], sid) for sid, ids in own.items()
                if ids and ids[0] < j < ids[-1]
            ]
            if enclosing:
                own[min(enclosing)[1]].append(j)
        stage_tasks: dict[int, int] = {}

        def count(jobs):
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    if st not in stage_tasks:
                        si = tracker.getStageInfo(st)
                        stage_tasks[st] = si.numCompletedTasks if si else 0
                    if stage_tasks[st]:
                        stages.add(st)
            return len(jobs), len(stages), sum(stage_tasks[s] for s in stages)

        def subtree(sid):
            out = list(own[sid])
            for c in self._children[sid]:
                out += subtree(c)
            return out

        for s in self.spans:
            s["own_jobs"], s["own_stages"], s["own_tasks"] = count(own[s["id"]])
            s["jobs"], s["stages"], s["tasks"] = count(subtree(s["id"]))
            child_time = sum(c["end"] - c["start"] for c in self.children(s))
            s["self_s"] = (s["end"] - s["start"]) - child_time

    def layer_self_times(self) -> dict[str, float]:
        """Self time summed per layer (the span name's first component)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"].split(".")[0]] += s.get("self_s", s["end"] - s["start"])
        return dict(out)

    def children(self, span: dict) -> list[dict]:
        return [self.spans[c] for c in self._children[span["id"]]]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]
