"""Span recorder for the traced run, and the Spark event-log roll-up.

Spans are kept in memory and written out when the run ends. They are
recorded only from the benchmark's own files: around the engine calls
it makes, and around driver-side engine functions that it wraps by
module attribute (the engine imports those lazily, inside the calling
function, so the wrapper is what the caller picks up).

Spark jobs are attributed to the span whose wall interval contains the
job's submission time. The engine runs concurrent writes on its own
``ThreadPoolExecutor`` threads, which do not inherit job descriptions,
so time intervals are the only attribution that sees every job.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans: name, start, duration, parent span, counts."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block; yields the span record (or
        None when tracing is off or the caller is not the main thread)."""
        if not self.enabled or threading.get_ident() != self._main:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, count=None) -> None:
        """Replace ``module.attr`` by a spanned wrapper until :meth:`close`.
        ``count(result)`` adds a work count to the span. A no-op
        when tracing is off, so untraced runs call the engine directly."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if rec is not None and count is not None:
                    rec["n"] = count(out)
                return out

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def close(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its child spans cover."""
        out = {s["id"]: s["dur"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["dur"]
        return out

    def dump(self, path: Path, **extra) -> None:
        path.write_text(json.dumps({"spans": self.spans, **extra}))


# ---------------------------------------------------------------- Spark

SPARK_FIELDS = (
    "executor_run_s", "cpu_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "input_mb", "jobs", "tasks",
)
_MB = 1 << 20


def _task_row(tm: dict) -> dict:
    sr = tm.get("Shuffle Read Metrics", {})
    return {
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_mb": tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        ) / _MB,
        "shuffle_read_mb": (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / _MB,
        "spill_mb": (
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        ) / _MB,
        "input_mb": tm.get("Input Metrics", {}).get("Bytes Read", 0) / _MB,
    }


def spark_rollup(
    eventlog_dir: Path, intervals: list[tuple[str, float, float]]
) -> tuple[dict[str, dict], list[dict]]:
    """Roll ``SparkListenerTaskEnd`` metrics up by span.

    ``intervals``: (span name, start, end) in epoch seconds. Returns
    ``{span: {field: value}}`` for the spans jobs fell in (``other``
    for jobs outside every span) and the per-stage detail for the
    trace file.
    """
    job_span: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for f in sorted(eventlog_dir.iterdir()):
        for line in f.read_text().splitlines():
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"] / 1e3
                job_span[ev["Job ID"]] = next(
                    (n for n, a, b in intervals if a <= t <= b), "other"
                )
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                row = _task_row(ev.get("Task Metrics") or {})
                st = stages.setdefault(
                    ev["Stage ID"], dict.fromkeys(row, 0.0) | {"tasks": 0}
                )
                for k, v in row.items():
                    st[k] += v
                st["tasks"] += 1
    roll = {n: dict.fromkeys(SPARK_FIELDS, 0.0) for n in set(job_span.values())}
    for span in job_span.values():
        roll[span]["jobs"] += 1
    detail = []
    for sid, st in sorted(stages.items()):
        span = job_span.get(stage_job.get(sid, -1), "other")
        detail.append({"stage": sid, "span": span, **st})
        for k, v in st.items():
            roll[span][k] += v
    return roll, detail
