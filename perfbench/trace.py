"""Layer tracing for the benchmark's traced runs.

Three sources, all read from outside the program:

- ``SpanRecorder`` wraps public functions and methods of each layer and
  records a span around every call, tagged with the op that was running.
  Spans stay in memory; ``totals`` reduces them per op.
- ``reduce_event_log`` reads Spark's own (uncompressed) event log and
  reduces it to one record per op, keyed by job group. Jobs without a job
  group (streaming micro-batches run on the stream thread, which does not
  inherit it) are attributed to the op whose time window holds them.
- ``StreamingProgressRecorder`` collects ``StreamingQueryProgress`` events
  through a Python ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from datetime import datetime


class SpanRecorder:
    """In-memory spans around wrapped calls, one op at a time.

    A span records (op, name, start, end, parent). When a span of a name
    encloses another of the same name, only the outer one counts in
    ``totals``, so re-entrant or self-calling functions are not counted
    twice.
    """

    def __init__(self) -> None:
        self.spans: list[tuple[str | None, str, float, float, int | None]] = []
        self.counts: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op: str | None = None
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[str, int]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn: Callable, *args, **kwargs):
        stack = self._stack()
        outer = any(n == name for n, _ in stack)
        parent = stack[-1][1] if stack else None
        idx = len(self.spans)
        self.spans.append((self.op, name, 0.0, 0.0, parent))
        stack.append((name, idx))
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            # a nested span of the same name is kept but marked uncounted
            self.spans[idx] = (self.op, name if not outer else f"~{name}", t0, t1, parent)

    def add(self, name: str, value: float) -> None:
        self.counts[self.op][name] += value

    def wrap(self, owner: object, attr: str, name: str,
             after: Callable[[object, tuple, dict], None] | None = None) -> bool:
        """Replace ``owner.attr`` by a recording wrapper; False if absent."""
        original = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
        if original is None:
            return False
        raw = original.__func__ if isinstance(original, (staticmethod, classmethod)) else original

        @functools.wraps(raw)
        def wrapper(*args, **kwargs):
            result = self.call(name, raw, *args, **kwargs)
            if after is not None:
                after(result, args, kwargs)
            return result

        replacement = type(original)(wrapper) if isinstance(original, (staticmethod, classmethod)) else wrapper
        setattr(owner, attr, replacement)
        self._patched.append((owner, attr, original))
        return True

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def totals(self, op: str) -> dict[str, float]:
        """Seconds per span name for one op, plus the op's counts."""
        out: dict[str, float] = defaultdict(float)
        for span_op, name, t0, t1, _ in self.spans:
            if span_op == op and not name.startswith("~"):
                out[name] += t1 - t0
        for name, value in self.counts.get(op, {}).items():
            out[name] += value
        return dict(out)


def _ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def reduce_event_log(lines: Iterable[str],
                     windows: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """One record per op from a Spark event log.

    Job groups are ``<op>`` or ``<op>:<phase>``; jobs issued under the
    ``build`` phase also count as ``build_jobs``. ``windows`` lists
    ``(op, start_ms, end_ms)`` in epoch milliseconds and attributes
    ungrouped jobs and SQL executions by submission time.
    """
    def by_time(t_ms: float) -> str | None:
        for op, t0, t1 in windows:
            if t0 <= t_ms <= t1:
                return op
        return None

    known = {op for op, _, _ in windows}

    def owner(group: str | None, t_ms: float) -> tuple[str | None, str]:
        if group:
            op, _, phase = group.partition(":")
            return (op if op in known else None), phase
        return by_time(t_ms), ""

    stage_op: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    rec: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            op, phase = owner(group, e["Submission Time"])
            if op is None:
                continue
            r = rec[op]
            r["jobs"] += 1
            if phase == "build":
                r["build_jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_op[sid] = op
        elif kind.endswith("SQLExecutionStart"):
            op, _ = owner(e.get("jobGroupId"), e["time"])
            if op is not None:
                rec[op]["sql_executions"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_op:
                rec[stage_op[sid]]["stages"] += 1
                stage_submit[sid] = info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if op is None or not m:
                continue
            r = rec[op]
            info = e["Task Info"]
            r["tasks"] += 1
            r["run_s"] += m["Executor Run Time"] / 1e3
            r["cpu_s"] += m["Executor CPU Time"] / 1e9
            r["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            r["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            submitted = stage_submit.get(e["Stage ID"])
            if submitted:
                r["task_wait_s"] += max(0.0, info["Launch Time"] - submitted) / 1e3
    return {op: dict(r) for op, r in rec.items()}


class StreamingProgressRecorder:
    """Collects micro-batch progress from a ``StreamingQueryListener``."""

    FIELDS = {
        "trigger_s": "triggerExecution",
        "add_batch_s": "addBatch",
        "plan_s": "queryPlanning",
        "wal_commit_s": "walCommit",
    }

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._lock = threading.Lock()
        self.listener = None

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        recorder = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with recorder._lock:
                    recorder.batches.append({
                        "t_ms": _ms(p.timestamp),
                        "input_rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def detach(self, spark) -> None:
        if self.listener is not None:
            spark.streams.removeListener(self.listener)
            self.listener = None

    def per_op(self, windows: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        with self._lock:
            batches = list(self.batches)
        for b in batches:
            op = next((op for op, t0, t1 in windows if t0 <= b["t_ms"] <= t1), None)
            if op is None:
                continue
            r = out[op]
            r["batches"] += 1
            r["empty_batches"] += b["input_rows"] == 0
            r["input_rows"] += b["input_rows"]
            for name, key in self.FIELDS.items():
                r[name] += b["duration_ms"].get(key, 0) / 1e3
        return {op: dict(r) for op, r in out.items()}
