"""In-memory spans, streaming progress and Spark event-log counters.

Spans are recorded only in the traced run (``--trace 1``). The
benchmark wraps the program's public entry points from here, by
replacing class and module attributes for the length of the run and
restoring them afterwards; the program's files are never touched.
Streaming progress is collected in every run, because the untraced
end-to-end metric ``trigger_p50_ms`` needs it.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: ProgressLog.settle: the listener bus counts as drained once no event
#: arrived for SETTLE_QUIET_S, and is waited on for at most SETTLE_MAX_S
SETTLE_QUIET_S = 0.25
SETTLE_MAX_S = 5.0


class Tracer:
    """Spans with a name, start, end, parent and op id.

    Each op (one ask, one ingest round, one curate pass, one drain) is
    a root span; spans opened on another thread (a streaming
    foreachBatch callback) while an op is running hang off that op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op_span: int | None = None
        self._op_id: str | None = None
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._op_span
        rec = {"id": sid, "name": name, "parent": parent, "op": self._op_id, "start": time.time()}
        stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    @contextlib.contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one measured (or set-up) operation."""
        self._op_id = op_id
        try:
            with self.span(name):
                self._op_span = self._stack()[-1] if self.enabled else None
                yield
        finally:
            self._op_span = None
            self._op_id = None

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a method or module function) with a
        spanned version until :meth:`restore`."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def wrap_context(self, owner, attr: str, name: str) -> None:
        """Like :meth:`wrap` for a method returning a context manager:
        the span covers entry (``name.acquire``) and exit
        (``name.release``), not the body."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        class _Timed:
            def __init__(self, cm):
                self.cm = cm

            def __enter__(self):
                with tracer.span(name + ".acquire"):
                    return self.cm.__enter__()

            def __exit__(self, *exc):
                with tracer.span(name + ".release"):
                    return self.cm.__exit__(*exc)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            return _Timed(orig(*args, **kwargs))

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, timed)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- derived numbers -----------------------------------------------------

    def durations(self, name: str, ops: set[str] | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (ops is None or s["op"] in ops)
        ]

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Median self time per span name over the spans of ``ops``:
        duration minus the part of it that child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        per_name: dict[str, list[float]] = {}
        for s in self.spans:
            if s["op"] not in ops:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            per_name.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
        return {k: statistics.median(v) for k, v in sorted(per_name.items())}


class ProgressLog(StreamingQueryListener):
    """Every micro-batch's progress, kept as plain dicts."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "name": p.name,
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "start": _iso_epoch(p.timestamp),
            "duration_ms": dict(p.durationMs),
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def settle(self) -> None:
        """Wait until the listener bus has delivered what is in flight."""
        deadline = time.time() + SETTLE_MAX_S
        seen = -1
        while time.time() < deadline and seen != len(self.events):
            seen = len(self.events)
            time.sleep(SETTLE_QUIET_S)

    def within(self, start: float, end: float) -> list[dict]:
        with self._lock:
            return [e for e in self.events if start <= e["start"] <= end]


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def event_log_counters(log_dir: str, windows: list[tuple[str, float, float]]) -> dict:
    """Per-op Spark counters from the event log: jobs, stages and tasks
    started in each op's window, plus task-metric totals. ``windows``
    is ``(op_id, start, end)`` in epoch seconds."""
    per_op = {op: {"jobs": 0, "stages": 0, "tasks": 0} for op, _, _ in windows}
    totals = {"shuffle_write_bytes": 0, "spill_bytes": 0, "output_bytes": 0, "task_cpu_s": 0.0, "gc_s": 0.0}

    def op_at(ms: int) -> str | None:
        t = ms / 1000.0
        for op, a, b in windows:
            if a <= t <= b:
                return op
        return None

    stage_submit: dict[tuple[int, int], int] = {}
    paths = glob.glob(f"{log_dir}/**/*", recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p) and "appstatus" not in os.path.basename(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = op_at(ev["Submission Time"])
                    if op:
                        per_op[op]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info.get("Submission Time", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    op = op_at(info.get("Submission Time") or stage_submit.get((info["Stage ID"], info["Stage Attempt ID"]), 0))
                    if op:
                        per_op[op]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = op_at(ev["Task Info"]["Launch Time"])
                    if not op:
                        continue
                    per_op[op]["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    totals["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    totals["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    totals["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return {"per_op": per_op, "totals": totals}
