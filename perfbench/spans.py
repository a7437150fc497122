"""Spans around calls into the engine, recorded from the benchmark's side.

A traced run replaces public functions of the engine's modules with
wrappers (module or class attributes, inside this process only).  Each call
becomes a span: name, start, end, parent and attributes.  A span that runs
Spark work gets its own job group (``sc.setJobGroup``); when it ends, the
group's stages are read from the JVM status store, which is live with the
UI disabled, giving jobs, tasks, executor CPU and shuffle bytes per call.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from typing import Any, Dict, List, Optional

STAGE_FIELDS = ("jobs", "tasks", "run_ms", "cpu_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "input_bytes", "output_bytes")


class Tracer:
    def __init__(self) -> None:
        self.spans: List[Dict[str, Any]] = []
        self._stack: List[Dict[str, Any]] = []
        self._patched: List[tuple] = []
        self.sc = None            # set once the session exists
        self.t0 = time.perf_counter()
        self.overhead_s = 0.0     # time spent in the tracer's own bookkeeping

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None,
              "start": t - self.t0, "attrs": {}}
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"pb-{sp['id']}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            t = time.perf_counter()
            sp["end"] = t - self.t0
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                sp.update(self._stages(group))
                if self._stack:
                    up = self._stack[-1]
                    self.sc.setJobGroup(f"pb-{up['id']}", up["name"])
            self.overhead_s += time.perf_counter() - t

    def _stages(self, group: str) -> Dict[str, int]:
        from py4j.protocol import Py4JJavaError
        sc = self.sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        for j in jobs:
            info = sc.statusTracker().getJobInfo(j)
            for s in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(s)
                except Py4JJavaError:   # evicted from the store: counted as absent
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
        return out

    # -- wrapping the engine's public functions -------------------------------
    def wrap(self, owner, attr: str, name: str, keep_result=None) -> None:
        """Replace owner.attr (a module or class attribute) by a traced
        wrapper.  keep_result(result, span) may copy facts of the result
        into the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **k):
            with self.span(name) as sp:
                res = orig(*a, **k)
                if keep_result is not None:
                    keep_result(res, sp)
                return res

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reading the spans back ------------------------------------------------
    def named(self, name: str) -> List[Dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def total(self, sp: Dict[str, Any], field: str) -> float:
        """A stage field summed over a span and every span below it."""
        kids = [s for s in self.spans if s["parent"] == sp["id"]]
        return sp.get(field, 0) + sum(self.total(c, field) for c in kids)

    def self_s(self, sp: Dict[str, Any]) -> float:
        """Duration minus the part covered by child spans."""
        kids = [s for s in self.spans if s["parent"] == sp["id"] and "end" in s]
        return (sp["end"] - sp["start"]) - sum(c["end"] - c["start"] for c in kids)

    def dump(self, path: str, extra: Optional[dict] = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f, default=str)
