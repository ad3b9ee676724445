"""Spans around the program's layer entry points, attributed to Spark work.

Each span sets a unique Spark job group on its thread (``pb:<name>#<seq>``)
and records its wall time; nested spans restore the parent's group on
exit.  After the run, jobs are found per group with
``statusTracker().getJobIdsForGroup`` and their stages' task time, records
and bytes are read from the status store
(``_jsc.sc().statusStore().lastStageAttempt``).  Attribution is by job
group, never by call site: write jobs that AQE submits from its own threads
carry the group (it is a thread-local property captured at submission) but
not the Python line.

A span's self time is its wall time minus the wall time of its child
spans.  Wrapping a name the program does not have records it as missing
instead of raising.  With tracing off every helper is a plain call.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

# status-store fields summed per stage
STAGE_FIELDS = {
    "task_ms": "executorRunTime",
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "input_records": "inputRecords",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


HARNESS = "harness."


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.missing: set[str] = set()
        self._local = threading.local()
        self._seq = itertools.count()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._seq),
            "name": name,
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(),
            **attrs,
        }
        rec["group"] = f"pb:{name}#{rec['id']}"
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned call.  A span already open
        under the same name is not re-opened (recursion)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr, None)
        if orig is None:
            self.missing.add(name)
            return

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            cur = self.current()
            if cur is not None and cur["name"] == name:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)

    # ---------- attribution ----------

    def collect(self) -> None:
        """Attach Spark job/stage metrics to every recorded span."""
        if not self.enabled:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            m = {k: 0 for k in STAGE_FIELDS}
            m.update(jobs=len(jobs), stages=0, map_task_ms=0, reduce_task_ms=0)
            for s in stages:
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # evicted or never ran: nothing to count
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                m["stages"] += 1
                vals = {k: int(getattr(sd, f)()) for k, f in STAGE_FIELDS.items()}
                for k, v in vals.items():
                    m[k] += v
                # map side writes a shuffle; reduce side only reads one
                if vals["shuffle_write_bytes"] > 0:
                    m["map_task_ms"] += vals["task_ms"]
                elif vals["shuffle_read_bytes"] > 0:
                    m["reduce_task_ms"] += vals["task_ms"]
            rec["spark"] = m

    def self_ms(self) -> dict[int, float]:
        """Span id → wall ms minus the wall ms of its direct children."""
        child = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] = child.get(rec["parent"], 0.0) + (
                    rec["t1"] - rec["t0"]
                )
        return {
            rec["id"]: (rec["t1"] - rec["t0"] - child.get(rec["id"], 0.0)) * 1e3
            for rec in self.spans
        }

    def by_name(self, name: str, since: float = float("-inf")) -> list[dict]:
        return [r for r in self.spans if r["name"] == name and r["t0"] >= since]

    def coverage(self, t0: float, t1: float) -> float:
        """Share of [t0, t1] covered by the union of top-level program
        spans, leaving out the harness's own answer checks (``harness.*``
        spans), which run inside the window but are not measured work."""

        def union(pred) -> float:
            ivs = sorted(
                (max(r["t0"], t0), min(r["t1"], t1))
                for r in self.spans
                if r["parent"] is None and r["t1"] > t0 and r["t0"] < t1
                and pred(r["name"])
            )
            covered, end = 0.0, t0
            for a, b in ivs:
                if b <= end:
                    continue
                covered += b - max(a, end)
                end = b
            return covered

        harness = union(lambda n: n.startswith(HARNESS))
        span = t1 - t0 - harness
        return union(lambda n: not n.startswith(HARNESS)) / span if span > 0 else 0.0

    def report(self) -> dict:
        """Per span name: count, total and self ms, and summed Spark work."""
        selfs = self.self_ms()
        out: dict[str, dict] = {}
        for rec in self.spans:
            e = out.setdefault(rec["name"], {"n": 0, "wall_ms": 0.0, "self_ms": 0.0})
            e["n"] += 1
            e["wall_ms"] += (rec["t1"] - rec["t0"]) * 1e3
            e["self_ms"] += selfs[rec["id"]]
            for k, v in rec.get("spark", {}).items():
                e[k] = e.get(k, 0) + v
        return out
