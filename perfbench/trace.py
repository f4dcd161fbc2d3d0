"""Span recorder and Spark event-log reader (standard library only).

Spans are recorded in memory, on the wall clock the event log also
uses, around the benchmark's calls into the
package: name, start, end, parent and request id.  Each thread keeps its
own span stack.  While a span is open, its id is the calling thread's
`bench.span` Spark local property, so every job in the event log names
the span that launched it.  A streaming query copies the local
properties of the thread that starts it, so jobs run inside a
`foreachBatch` attribute to the span around the activation; spans
opened inside the `foreachBatch` callback (another Python thread, with
an empty stack) take that activation span as their parent.

The event-log reader aggregates, per span id, what Spark recorded:
jobs, stages, tasks, task run/CPU/GC time, scheduler wait, shuffle and
spill bytes, the pandas-exec Python-worker metrics, and each streaming
query progress event's `durationMs`.  The log must be written
uncompressed and non-rolling (`spark.eventLog.compress=false`,
`spark.eventLog.rolling.enabled=false`).
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

SPAN_PROPERTY = "bench.span"
UNATTRIBUTED = "unattributed"


class Tracer:
    """In-memory span recorder.  `set_property(value)` is called with the
    innermost open span id (or None) whenever it changes in a thread."""

    def __init__(self, set_property=None):
        self.spans: dict[int, dict] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._set_property = set_property or (lambda value: None)
        self.adopted: int | None = None  # parent for spans opened on bare threads
        self.overhead_s = 0.0  # time spent opening and closing spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else self.adopted

    @contextmanager
    def span(self, name: str, root: bool = False, request=None, adopt: bool = False):
        """Open a span.  `root` starts a new tree (a benchmark request);
        `adopt` makes this span the parent of spans opened on threads
        that have no span of their own (foreachBatch callbacks)."""
        t0 = time.perf_counter()
        stack = self._stack()
        parent = None if root else self.current()
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "request": request,
               "thread": threading.get_ident(), "start": None, "end": None}
        with self._lock:
            self.spans[sid] = rec
        stack.append(sid)
        self._set_property(str(sid))
        prev_adopted = self.adopted
        if adopt:
            self.adopted = sid
        rec["start"] = time.time()
        cost = time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            stack.pop()
            if adopt:
                self.adopted = prev_adopted
            outer = self.current()
            self._set_property(None if outer is None else str(outer))
            cost += time.perf_counter() - t1
            with self._lock:
                self.overhead_s += cost

    def wrap(self, name: str, fn, adopt: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, adopt=adopt):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = fn
        return traced

    def install(self, package: str, targets: dict[str, tuple[str, str]],
                adopt: tuple[str, ...] = ()) -> int:
        """Replace each target function, `span name -> (module, attr)`, in
        every loaded module of `package` that binds it (a function is
        bound wherever it was imported).  Returns the bindings patched."""
        patched = 0
        for span_name, (mod_name, attr) in targets.items():
            original = getattr(sys.modules[mod_name], attr)
            wrapper = self.wrap(span_name, original, adopt=span_name in adopt)
            for name, mod in list(sys.modules.items()):
                if (name == package or name.startswith(package + ".")) and \
                        getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapper)
                    patched += 1
        return patched

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover.
        Children on other threads may overlap each other; their covered
        interval is merged before subtracting."""
        children = defaultdict(list)
        for s in self.spans.values():
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for sid, s in self.spans.items():
            if s["end"] is None:
                continue
            covered = union_length(
                (max(a, s["start"]), min(b, s["end"])) for a, b in children.get(sid, ())
            )
            out[sid] = max(0.0, (s["end"] - s["start"]) - covered)
        return out


def union_length(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
PROGRESS_KEYS = ("triggerExecution", "queryPlanning", "addBatch", "walCommit",
                 "commitOffsets", "getBatch", "latestOffset")
COUNTERS = ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "deser_ms",
            "sched_wait_ms", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "output_bytes", "python_ms", "arrow_to_python_bytes",
            "arrow_from_python_bytes")


def _acc_value(acc: dict) -> float:
    try:
        return float(acc.get("Update") or 0)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(path: str) -> dict:
    """Aggregate an uncompressed event log.  Returns

      by_span:  span id (str) -> counters (see COUNTERS), jobs without a
                span under "unattributed"
      jobs:     list of (span id, submit_ms, end_ms) in epoch milliseconds
      progress: list of QueryProgressEvent `durationMs` dicts, each with
                `at`, the batch start in epoch seconds
    """
    by_span: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_span: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    jobs: dict[int, list] = {}
    progress: list[dict] = []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                span = (e.get("Properties") or {}).get(SPAN_PROPERTY) or UNATTRIBUTED
                jobs[e["Job ID"]] = [span, e["Submission Time"], None]
                by_span[span]["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_span[sid] = span
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]][2] = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
                span = stage_span.get(info["Stage ID"], UNATTRIBUTED)
                by_span[span]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                span = stage_span.get(e["Stage ID"], UNATTRIBUTED)
                c = by_span[span]
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                c["tasks"] += 1
                c["run_ms"] += m.get("Executor Run Time", 0)
                c["cpu_ns"] += m.get("Executor CPU Time", 0)
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["deser_ms"] += m.get("Executor Deserialize Time", 0)
                submitted = stage_submit.get(e["Stage ID"])
                if submitted:
                    c["sched_wait_ms"] += max(0, info["Launch Time"] - submitted)
                c["shuffle_read_bytes"] += (
                    m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
                    + m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                )
                c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name == _PY_TIME:
                        c["python_ms"] += _acc_value(acc)
                    elif name == _PY_SENT:
                        c["arrow_to_python_bytes"] += _acc_value(acc)
                    elif name == _PY_RECV:
                        c["arrow_from_python_bytes"] += _acc_value(acc)
            elif kind.endswith("QueryProgressEvent"):
                p = e["progress"]
                durations = dict(p.get("durationMs") or {})
                durations["at"] = datetime.fromisoformat(
                    p["timestamp"].replace("Z", "+00:00")).timestamp()
                progress.append(durations)
    return {
        "by_span": dict(by_span),
        "jobs": [tuple(j) for _, j in sorted(jobs.items())],
        "progress": progress,
    }
