"""Spans around calls into the engine's layers, kept in memory.

A traced run wraps module and class attributes of the engine (for example
``storage.read_table`` or ``TablesTSDB.sync``) so that each call records a
span: name, start, end, parent span and the id of the benchmark operation
it belongs to.  Top-level calls also run under their own Spark job group,
and a wrapper on the py4j client counts gateway calls per span.  At the end
of the run the Spark status REST API (the UI is enabled in traced sessions
only) gives jobs, tasks and executor CPU/GC/bytes, which are joined to the
top-level spans by job group.

Top-level calls do not overlap: the benchmark makes them one at a time.
A span opened on a thread with no span of its own open (for example one of
the worker threads ``TablesTSDB.sync`` starts per period) is the child of
the open top-level call, and that thread's gateway calls count against the
call too, so a call's figures include the work it hands to other threads.

An untraced run uses the same ``Tracer`` with ``enabled=False``: nothing is
wrapped and ``call`` only runs the function.
"""

from __future__ import annotations

import datetime
import functools
import itertools
import json
import statistics
import threading
import time
import urllib.parse
import urllib.request

#: job-group prefix of top-level calls
GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_id: int | None = None
        self._op_span: dict | None = None
        self._call_span: dict | None = None
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> dict | None:
        """The innermost open span of the calling thread; on a thread with
        none open, the open top-level call, else the operation's span."""
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else self._call_span or self._op_span

    def _open(self, name: str) -> dict:
        parent = self.current()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "start": time.time(),
            "end": None,
            "py4j": 0,
            "group": None,
        }
        self._stack().append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    def begin_op(self, op_id: int, name: str) -> None:
        """Mark the start of benchmark operation ``op_id``; spans opened by
        any thread until ``end_op`` belong to it."""
        self.op_id = op_id
        if self.enabled:
            self._op_span = self._open(name)

    def end_op(self) -> None:
        if self.enabled and self._op_span is not None:
            self._close(self._op_span)
        self.op_id = None
        self._op_span = None

    def call(self, name: str, fn, *args, spark=None, **kwargs):
        """Run ``fn`` as a top-level call; when tracing, under a span and
        (with ``spark``) a job group of its own."""
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self._open(name)
        self._call_span = span
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            span["group"] = f"{GROUP_PREFIX}{span['id']}"
            sc.setJobGroup(span["group"], name)
        try:
            return fn(*args, **kwargs)
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._call_span = None
            self._close(span)

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper (undone by
        ``unwrap``)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            span = tracer._open(name)
            try:
                return original(*args, **kwargs)
            finally:
                tracer._close(span)

        self._restore.append((owner, attr, original))
        setattr(owner, attr, traced)

    def count_py4j(self, spark) -> None:
        """Count gateway round trips against the calling thread's
        ``current`` span."""
        client = spark.sparkContext._gateway._gateway_client
        original = client.send_command
        tracer = self

        def counted(*args, **kwargs):
            span = tracer.current()
            if span is not None:
                with tracer._lock:
                    span["py4j"] += 1
            return original(*args, **kwargs)

        self._restore.append((client, "send_command", original))
        client.send_command = counted

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    # -- Spark status --------------------------------------------------------

    def spark_jobs(self, spark, settle_s: float = 1.0) -> dict[str, list[dict]]:
        """Completed jobs of this application grouped by job group, each
        with its interval and the summed metrics of its stages."""
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        time.sleep(settle_s)  # let the listener bus catch up

        def get(path):
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return json.load(r)

        stages = {s["stageId"]: s for s in get("/stages?status=complete")}
        seen: set[int] = set()
        groups: dict[str, list[dict]] = {}
        for job in sorted(get("/jobs"), key=lambda j: j["jobId"]):
            group = job.get("jobGroup")
            if not group or not group.startswith(GROUP_PREFIX):
                continue
            own = [stages[i] for i in job["stageIds"] if i in stages and i not in seen]
            seen.update(s["stageId"] for s in own)
            groups.setdefault(group, []).append(
                {
                    "submit": _epoch(job.get("submissionTime")),
                    "complete": _epoch(job.get("completionTime")),
                    "tasks": sum(s.get("numTasks", 0) for s in own),
                    "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in own) / 1e9,
                    "gc_s": sum(s.get("jvmGcTime", 0) for s in own) / 1e3,
                    "shuffle_bytes": sum(
                        s.get("shuffleWriteBytes", 0) for s in own
                    ),
                    "input_bytes": sum(s.get("inputBytes", 0) for s in own),
                    "output_bytes": sum(s.get("outputBytes", 0) for s in own),
                }
            )
        return groups

    def spark_split(self, span: dict, jobs: list[dict]) -> dict[str, float]:
        """The Spark-side split of one top-level call: jobs, tasks, time
        before the first job, time with no job running, executor totals."""
        start, end = span["start"], span["end"]
        wall = end - start
        intervals = sorted(
            (max(j["submit"], start), min(j["complete"] or end, end))
            for j in jobs
            if j["submit"] is not None
        )
        busy = 0.0
        cur_lo = cur_hi = None
        for lo, hi in intervals:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += max(cur_hi - cur_lo, 0.0)
        first = intervals[0][0] if intervals else end
        return {
            "jobs": float(len(jobs)),
            "tasks": float(sum(j["tasks"] for j in jobs)),
            "build_s": max(first - start, 0.0),
            "outside_jobs_s": max(wall - busy, 0.0),
            "executor_cpu_s": sum(j["executor_cpu_s"] for j in jobs),
            "gc_s": sum(j["gc_s"] for j in jobs),
            "shuffle_bytes": float(sum(j["shuffle_bytes"] for j in jobs)),
            "input_bytes": float(sum(j["input_bytes"] for j in jobs)),
            "output_bytes": float(sum(j["output_bytes"] for j in jobs)),
        }

    # -- summaries -----------------------------------------------------------

    def inclusive_py4j(self) -> dict[int, int]:
        """Gateway calls per span including those of its descendants."""
        total = {s["id"]: s["py4j"] for s in self.spans}
        parent = {s["id"]: s["parent"] for s in self.spans}
        for s in self.spans:
            p = parent.get(s["id"])
            while p is not None and p in total:
                total[p] += s["py4j"]
                p = parent.get(p)
        return total

    def by_name(self, name: str, ops: set[int]) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["op"] in ops]


def _epoch(stamp: str | None) -> float | None:
    """``2026-01-01T00:00:00.123GMT`` → epoch seconds."""
    if not stamp:
        return None
    dt = datetime.datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def median_or_zero(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
