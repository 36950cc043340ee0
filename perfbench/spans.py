"""Tracing for the traced benchmark run.

Everything here sits outside the program: spans are recorded around
calls into the program's public functions (the benchmark's own calls,
plus wrappers patched over the module attributes the operators call),
and Spark's per-job counts are read from the driver's status REST API
after each operation.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """Span recorder plus per-layer counters.

    A span is ``{"id", "name", "start", "end", "parent"}``; ``id`` is
    the operation it belongs to (``<workload>:<pass>:<op>``) and
    ``parent`` the index of the enclosing span in :attr:`spans`.
    Counters (``layer.metric`` → sum) only accumulate while
    :attr:`counting` is set, so set-up work and untraced passes stay
    out of the per-pass figures.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.counting = False
        self.op_id: str | None = None
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {
            "id": self.op_id,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
        }
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add(self, metric: str, value: float) -> None:
        if self.counting:
            self.counters[metric] += value

    def timed(self, layer: str, fn):
        """``fn`` wrapped so each call is a span named ``layer`` whose
        duration adds to ``<layer>_s`` and whose count to
        ``<layer>_calls``."""

        def wrapper(*args, **kwargs):
            with self.span(layer) as rec:
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.add(f"{layer}_s", time.time() - rec["start"])
                    self.add(f"{layer}_calls", 1)

        wrapper.__wrapped__ = fn
        return wrapper

    def patch_everywhere(self, package: str, original, layer: str) -> None:
        """Replace ``original`` by a timed wrapper in every loaded module
        of ``package`` that holds it: modules bind functions at import
        (``from ..tables import load_table``), so patching the defining
        module alone would miss those call sites."""
        wrapper = self.timed(layer, original)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == package or name.startswith(package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patches.append((mod, attr, value))
                    setattr(mod, attr, wrapper)

    def unpatch(self) -> None:
        for mod, attr, value in reversed(self._patches):
            setattr(mod, attr, value)
        self._patches.clear()

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)


def _rest_ts(s: str | None) -> float | None:
    if not s:
        return None
    # e.g. "2026-10-17T03:37:01.123GMT"
    dt = datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkJobs:
    """Reads the jobs and stages Spark ran since the previous call from
    the driver's status REST API (``/api/v1``). The UI keeps only the
    last 1000 jobs and stages, so callers fetch after every operation."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()
        self._last_job = -1
        self.skip()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.loads(r.read())

    def skip(self) -> None:
        """Leave every job run so far out of the next call's totals."""
        self._bus.waitUntilEmpty(30_000)
        self._last_job = max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def since_last(self, start: float, end: float) -> dict:
        """Totals over jobs submitted since the previous call. Job
        intervals are clipped to ``[start, end]`` (the operation's wall
        time) for the driver-gap union."""
        self._bus.waitUntilEmpty(30_000)
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self._last_job]
        out = {
            "jobs": len(jobs),
            "tasks": 0,
            "executor_cpu_s": 0.0,
            "executor_run_s": 0.0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "job_time_s": 0.0,
        }
        if not jobs:
            return out
        self._last_job = max(j["jobId"] for j in jobs)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        for st in self._get("/stages?details=false"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            out["tasks"] += st.get("numCompleteTasks", 0)
            out["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            out["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            out["shuffle_bytes"] += st.get("shuffleReadBytes", 0) + st.get(
                "shuffleWriteBytes", 0
            )
            out["spill_bytes"] += st.get("diskBytesSpilled", 0)
        intervals = []
        for j in jobs:
            s = _rest_ts(j.get("submissionTime"))
            e = _rest_ts(j.get("completionTime"))
            if s is None or e is None:
                continue
            s, e = max(s, start), min(e, end)
            if e > s:
                intervals.append((s, e))
        out["job_time_s"] = union_length(intervals)
        return out
