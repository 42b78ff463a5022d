"""Spans recorded around calls into the package's public functions.

The benchmark instruments nothing inside the package: ``Tracer.wrap``
replaces a function or method attribute with a timing wrapper for the
length of a traced run and restores it afterwards. Spans stay in memory
and are written out once, when the run ends. Spark job and task counts
come from job groups and the status tracker; task busy time from the
local UI's REST endpoint.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Time every call of ``owner.attr``. ``name`` is the span name or a
        function of the call's arguments returning it; ``after(span, args,
        result)`` may add attributes after the span has closed."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as s:
                result = original(*args, **kwargs)
            if after is not None:
                after(s, args, result)
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, timed)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def total(self, name: str, within: dict | None = None) -> tuple[float, int]:
        """(seconds, calls) of spans called ``name``, optionally only those
        inside the interval of span ``within``."""
        secs = calls = 0
        for s in self.spans:
            if s["name"] != name:
                continue
            if within and not (within["start"] <= s["start"] and s["end"] <= within["end"]):
                continue
            secs += s["end"] - s["start"]
            calls += 1
        return secs, calls

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.rec = tracer, {"name": name, **attrs}

    def __setitem__(self, key, value):
        self.rec[key] = value

    def __enter__(self):
        stack = self.t._local.__dict__.setdefault("stack", [])
        self.rec["parent"] = stack[-1]["name"] if stack else None
        self.rec["thread"] = threading.get_ident()
        stack.append(self.rec)
        self.rec["start"] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._local.stack.pop()
        with self.t._lock:
            self.t.spans.append(self.rec)


class SparkCounters:
    """Job, task and task-busy-time totals per job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: list[str] = []

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)
        self.groups.append(name)

    def collect(self) -> dict[str, dict]:
        """Per group: jobs, tasks and summed executor run time (seconds)."""
        tracker = self.sc.statusTracker()
        run_ms = self._stage_run_ms()
        out = {}
        for g in self.groups:
            jobs = tracker.getJobIdsForGroup(g)
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for sid in stages:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
            out[g] = {
                "jobs": len(jobs),
                "tasks": tasks,
                "busy_s": sum(run_ms.get(sid, 0) for sid in stages) / 1000.0,
            }
        return out

    def _stage_run_ms(self) -> dict[int, int]:
        url = self.sc.uiWebUrl
        if not url:
            return {}
        port = url.rsplit(":", 1)[1]
        api = (f"http://127.0.0.1:{port}/api/v1/applications/"
               f"{self.sc.applicationId}/stages?status=complete")
        # No proxy: the UI is this process's own JVM on the loopback.
        opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
        with opener.open(api, timeout=30) as r:
            stages = json.load(r)
        run_ms: dict[int, int] = defaultdict(int)
        for st in stages:
            run_ms[st["stageId"]] += st.get("executorRunTime", 0)
        return run_ms
