"""Span recording around the engine's public functions, from outside it.

``Tracer.wrap(owner, attr, name)`` replaces ``owner.attr`` with a
wrapper that records one span per call: name, start, end, parent span
and operation id. Spans stay in memory and are written out once, at
the end of the run. An operation is either set explicitly by the
workload (``with tracer.operation(kind)``) or, for calls that arrive
with none (a server request thread), is the outermost span itself.

``spark_counters`` reads the session's event log (enabled only in
traced runs) and charges each Spark job to the operation whose time
interval contains its submission.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

from stats import self_time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        # (kind, op_id, start, end) of each workload-level operation
        self.operations: list[tuple[str, int, float, float]] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        # perf_counter → epoch seconds, to line spans up with Spark's
        # event-log timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def operation(self, kind: str):
        op_id = next(self._ids)
        prev = getattr(self._tls, "op", None)
        self._tls.op = op_id
        t0 = time.perf_counter()
        try:
            yield op_id
        finally:
            self._tls.op = prev
            with self._lock:
                self.operations.append((kind, op_id, t0, time.perf_counter()))

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        op = getattr(self._tls, "op", None)
        if op is None:  # no workload operation: the thread's root span is one
            op = stack[0] if stack else sid
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": t0, "end": t1, "parent": parent, "op": op}
                )

    def add(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[name] += value

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Record a span ``name`` around every call of ``owner.attr``;
        ``after(tracer, args, kwargs, result)`` may add counters."""

        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    result = orig(*args, **kwargs)
                if after is not None:
                    after(self, args, kwargs, result)
                return result

            return wrapper

        self.patch(owner, attr, make)

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` until
        ``unwrap_all``; for wrappers that must look at state before the
        call as well as after it."""
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- reading ----------------------------------------------------------
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times_ms(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        return {
            s["id"]: 1e3 * self_time(s["start"], s["end"], children[s["id"]])
            for s in self.spans
        }

    def first_child_wait_ms(self, names: set[str], spans: list[dict] | None = None) -> list[float]:
        """For each span named in ``names`` (among ``spans``, default
        all): time from its start to the start of its first child span —
        how long the call waited before its first traced piece of work,
        e.g. on a lock."""
        spans = self.spans if spans is None else spans
        first: dict[int, float] = {}
        for s in spans:
            p = s["parent"]
            if p is not None and (p not in first or s["start"] < first[p]):
                first[p] = s["start"]
        return [
            1e3 * (first[s["id"]] - s["start"])
            for s in spans
            if s["name"] in names and s["id"] in first
        ]

    def summary(self) -> dict[str, dict[str, float]]:
        selfs = self.self_times_ms()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            row["count"] += 1
            row["total_ms"] += 1e3 * (s["end"] - s["start"])
            row["self_ms"] += selfs[s["id"]]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "epoch_offset": self.epoch_offset,
                    "spans": self.spans,
                    "operations": self.operations,
                    "counters": dict(self.counters),
                },
                f,
            )


def eventlog_submit_args(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn on an uncompressed event log
    in the existing directory ``log_dir``."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{os.path.abspath(log_dir)} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )


def spark_counters(
    log_dir: str, intervals: list[tuple[str, float, float]]
) -> dict[str, dict[str, float]]:
    """Per operation kind: ``ops``, ``jobs``, ``task_ms``, ``shuffle_mb``
    and ``spill_mb`` summed over the jobs submitted inside one of that
    kind's ``(kind, start_epoch_s, end_epoch_s)`` intervals. A job inside
    several intervals goes to the one that started last."""
    stage_job: dict[int, int] = {}
    job_time: dict[int, float] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or path.endswith(".inprogress.tmp"):
            continue
        with open(path, errors="replace") as f:
            for line in f:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    job_time[ev["Job ID"]] = ev["Submission Time"] / 1e3
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    ordered = sorted(intervals, key=lambda t: t[1])

    def kind_at(ts: float) -> str | None:
        hit = None
        for kind, s, e in ordered:
            if s <= ts <= e:
                hit = kind
        return hit

    job_kind = {j: kind_at(t) for j, t in job_time.items()}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"ops": 0, "jobs": 0, "task_ms": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    )
    for kind, _, _ in intervals:
        out[kind]["ops"] += 1
    for j, kind in job_kind.items():
        if kind is not None:
            out[kind]["jobs"] += 1
    for t in tasks:
        kind = job_kind.get(stage_job.get(t["stage"], -1))
        if kind is not None:
            out[kind]["task_ms"] += t["run_ms"]
            out[kind]["shuffle_mb"] += t["shuffle"] / 2**20
            out[kind]["spill_mb"] += t["spill"] / 2**20
    return dict(out)


class NullTracer(Tracer):
    """Records nothing: the untraced run's stand-in."""

    def operation(self, kind: str):
        return contextlib.nullcontext()

    def span(self, name: str):
        return contextlib.nullcontext()
