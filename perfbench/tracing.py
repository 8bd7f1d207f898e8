"""Spans and counters for the benchmark's traced run.

Everything here lives on the benchmark's side of the package boundary:

- ``Tracer.span`` records a span (name, layer, start, end, parent, thread)
  around a call the benchmark makes;
- ``Tracer.wrap`` replaces a package function, wherever a loaded package
  module refers to it, with a wrapper that records a span around each
  call — so calls the package makes into another layer (the watcher
  calling the batched compiler, say) are seen at that layer's boundary;
- ``Tracer.hook_py4j`` counts py4j sends and the time spent waiting for
  the JVM's reply, attributed to the calling thread's innermost span;
- ``exec_metrics`` reads job and stage metrics from the JVM status store.

Spans stay in memory; ``Tracer.dump`` writes them as JSON at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
import uuid
from contextlib import contextmanager

PACKAGE = "nci_seronet_proc_data_validator_spark"


class Tracer:
    """In-memory spans and py4j counters; records only while
    ``enabled``."""

    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.root: int | None = None     # parent of a thread's first span
        self.py4j_calls = 0
        self.py4j_wait_s = 0.0

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        sp = {"trace_id": self.trace_id, "id": next(self._ids),
              "parent": st[-1]["id"] if st else self.root,
              "name": name, "layer": layer,
              "thread": threading.current_thread().name,
              "start": time.time(), "end": None,
              "py4j_calls": 0, "py4j_wait_s": 0.0, **attrs}
        st.append(sp)
        try:
            yield sp
        finally:
            st.pop()
            sp["end"] = time.time()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def untimed(self):
        """py4j sends inside this block are not counted (a blocking
        ``awaitTermination`` or the status-store reads)."""
        self._local.skip = True
        try:
            yield
        finally:
            self._local.skip = False

    def wrap(self, owner, attr: str, layer: str, files=None) -> None:
        """Record a ``layer`` span around every call of ``owner.attr``.

        Loaded package modules that imported the function by name are
        patched too. ``files(args, kwargs)`` may count input files."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            extra = {}
            if files is not None and tracer.enabled:
                extra["files"] = files(args, kwargs)
            with tracer.span(f"{layer}.{attr}", layer, **extra):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        for name, mod in list(sys.modules.items()):
            if (name.startswith(PACKAGE) and mod is not owner
                    and getattr(mod, attr, None) is orig):
                setattr(mod, attr, wrapper)

    def hook_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(conn, command):
            if not tracer.enabled or getattr(tracer._local, "skip", False):
                return orig(conn, command)
            t0 = time.perf_counter()
            try:
                return orig(conn, command)
            finally:
                dt = time.perf_counter() - t0
                with tracer._lock:
                    tracer.py4j_calls += 1
                    tracer.py4j_wait_s += dt
                st = tracer._stack()
                if st:
                    st[-1]["py4j_calls"] += 1
                    st[-1]["py4j_wait_s"] += dt

        ClientServerConnection.send_command = send_command

    def reset_counters(self) -> None:
        with self._lock:
            self.py4j_calls = 0
            self.py4j_wait_s = 0.0

    # ------------------------------------------------------- reporting
    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, **meta,
                       "spans": sorted(self.spans,
                                       key=lambda s: s["start"])}, f,
                      indent=1, default=str)


def run_spans(spans: list[dict], run_id: int) -> list[dict]:
    """Spans under the span ``run_id`` (itself included)."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == run_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span time not covered by the span's children, summed."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        child = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
        st = (s["end"] - s["start"]) - _union(child)
        out[s["layer"]] = out.get(s["layer"], 0.0) + st
    return out


def layer_totals(spans: list[dict], layer: str) -> dict:
    """Inclusive time, py4j and file counts of a layer's outermost spans
    (a span nested in a span of the same layer is not counted twice)."""
    by_id = {s["id"]: s for s in spans}

    def nested(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["layer"] == layer:
                return True
            p = by_id.get(p["parent"])
        return False

    top = [s for s in spans if s["layer"] == layer and not nested(s)]
    mine = [s for s in spans if s["layer"] == layer]
    inside = []
    for t in top:
        inside.extend(run_spans(spans, t["id"]))
    return {
        "seconds": sum(s["end"] - s["start"] for s in top),
        "files": sum(s.get("files", 0) for s in mine),
        "py4j_calls": sum(s["py4j_calls"] for s in inside),
        "py4j_wait_s": sum(s["py4j_wait_s"] for s in inside),
        "intervals": [(s["start"], s["end"]) for s in top],
    }


# ----------------------------------------------------------- exec layer
def last_job_id(spark) -> int:
    ids = spark.sparkContext._jsc.sc().statusStore().jobsList(
        spark._jvm.java.util.ArrayList())
    return max((ids.apply(i).jobId() for i in range(ids.size())),
               default=-1)


def exec_metrics(spark, after_job: int) -> dict:
    """Jobs with an id above ``after_job`` and their stages, read from
    the status store (it covers jobs of every job group, streaming ones
    included, and works with the UI off)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(spark._jvm.java.util.ArrayList())
    m = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
         "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
         "input_mb": 0.0, "job_times": []}
    stage_ids: set[int] = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= after_job:
            continue
        m["jobs"] += 1
        sub = j.submissionTime()
        if sub.isDefined():
            m["job_times"].append(sub.get().getTime() / 1000.0)
        sids = j.stageIds()
        stage_ids.update(sids.apply(k) for k in range(sids.size()))
    mb = 1024.0 * 1024.0
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — a stage never attempted
            continue
        if str(st.status().toString()) == "SKIPPED":
            continue
        m["stages"] += 1
        m["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        m["task_s"] += st.executorRunTime() / 1000.0
        m["cpu_s"] += st.executorCpuTime() / 1e9
        m["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
        m["shuffle_read_mb"] += (st.shuffleRemoteBytesRead()
                                 + st.shuffleLocalBytesRead()) / mb
        m["spill_mb"] += (st.memoryBytesSpilled()
                          + st.diskBytesSpilled()) / mb
        m["input_mb"] += st.inputBytes() / mb
    m["cpu_ratio"] = m["cpu_s"] / m["task_s"] if m["task_s"] else 0.0
    return m


def jobs_within(job_times: list[float], intervals) -> int:
    return sum(1 for t in job_times
               if any(a <= t <= b for a, b in intervals))
