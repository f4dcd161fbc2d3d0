"""Shared benchmark plumbing: the Spark session, the memory sampler,
latency statistics, the null tracer used by untraced runs, and the
per-layer report built from spans plus the event log."""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time
from contextlib import nullcontext

from perfbench import trace

PACKAGE = "wellmeet_data_pipeline_spark"

# Public functions wrapped in traced runs: span name -> (module, attribute).
# The span names are the per-layer metric prefixes.
TRACED = {
    "streaming.run_orchestration": (f"{PACKAGE}.streaming.orchestration", "run_orchestration"),
    "streaming.drain_backlog": (f"{PACKAGE}.streaming.orchestration", "drain_backlog"),
    "pipelines.ingest_reviews": (f"{PACKAGE}.pipelines", "ingest_reviews"),
    "pipelines.project_payloads": (f"{PACKAGE}.pipelines", "project_payloads"),
    "sources.seed_frame": (f"{PACKAGE}.sources.ingest", "seed_frame"),
    "sources.fetch_rows": (f"{PACKAGE}.sources.ingest", "fetch_rows"),
    "sources.incremental_ingest": (f"{PACKAGE}.sources.ingest", "incremental_ingest"),
    "sinks.merge_append": (f"{PACKAGE}.sinks.merge", "merge_append"),
    "sinks.read_current": (f"{PACKAGE}.sinks.merge", "read_current"),
    "sinks.read_current_or_none": (f"{PACKAGE}.sinks.merge", "read_current_or_none"),
    "operators.retrieval.bm25_topk": (f"{PACKAGE}.operators.retrieval", "bm25_topk"),
    "operators.retrieval.rrf_fuse": (f"{PACKAGE}.operators.retrieval", "rrf_fuse"),
    "operators.similarity.brute_force_top_k": (f"{PACKAGE}.operators.similarity", "brute_force_top_k"),
}
ACTION_SUFFIX = ".collect"


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    def span(self, *args, **kwargs):
        return nullcontext()


def make_tracer(spark):
    """A span recorder that tags Spark jobs with their span and wraps
    every TRACED function wherever the package binds it."""
    import importlib

    for mod, _ in TRACED.values():
        importlib.import_module(mod)
    sc = spark.sparkContext
    tracer = trace.Tracer(lambda v: sc.setLocalProperty(trace.SPAN_PROPERTY, v))
    tracer.install(PACKAGE, TRACED, adopt=("streaming.run_orchestration",))
    return tracer


def start_spark(work: str, traced: bool):
    """The package's own session factory; the event log is switched on
    through `extra_conf` in traced runs only."""
    from wellmeet_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def event_log_path(work: str) -> str | None:
    logs = [p for p in glob.glob(os.path.join(work, "eventlog", "*")) if not p.endswith(".inprogress")]
    return logs[0] if logs else None


class RssSampler:
    """Summed RSS of this process and all its descendants (the driver
    JVM and the Python workers), sampled from /proc: the peak of the
    whole run, and the samples of the windows marked by `recording`."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}  # driver / jvm / workers at the peak
        self.recording = False  # while set, samples also go to window_bytes
        self.window_bytes: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> dict[str, int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        mine, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in mine]
            mine.update(kids)
            frontier += kids
        parts: dict[str, int] = {}
        for p in mine:
            try:
                with open(f"/proc/{p}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
                with open(f"/proc/{p}/comm") as fh:
                    comm = fh.read().strip()
            except (OSError, IndexError, ValueError):
                continue
            kind = "driver" if p == os.getpid() else "jvm" if comm == "java" else "workers"
            parts[kind] = parts.get(kind, 0) + rss
        return parts

    def _sample(self):
        parts = self._tree_rss()
        total = sum(parts.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_parts = total, parts
        if self.recording:
            self.window_bytes.append(total)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    @property
    def window_mb(self) -> float:
        """Median of the samples taken while `recording` was set."""
        return statistics.median(self.window_bytes) / 2**20


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def latency_stats(values) -> dict[str, float]:
    return {"p50": statistics.median(values), "p90": percentile(values, 90)}


class Window:
    """The timed part of a run: a deadline every loop checks."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.start = time.monotonic()
        self.deadline = self.start + seconds

    def open(self) -> bool:
        return time.monotonic() < self.deadline

    def left(self) -> float:
        return self.deadline - time.monotonic()


# ---------------------------------------------------------------------------
# Per-layer report (traced runs)
# ---------------------------------------------------------------------------

def _roots(spans: dict[int, dict]) -> dict[int, int]:
    root = {}
    for sid in sorted(spans):
        p = spans[sid]["parent"]
        root[sid] = sid if p is None else root.get(p, p)
    return root


def layer_report(tracer, log: dict | None, start: float, end: float) -> dict[str, float]:
    """Aggregate the spans whose request started in the window
    [start, end) (epoch seconds) with the event-log counters of their
    jobs.  A span named `<name>.collect` times the action that runs the
    plan `<name>` built, so its self time is added to `<name>`."""
    spans = tracer.spans
    selfs = tracer.self_times()
    root = _roots(spans)
    window = {sid for sid, s in spans.items()
              if s["end"] is not None and start <= spans[root[sid]]["start"] < end}
    out: dict[str, float] = {}
    for sid in window:
        name = spans[sid]["name"]
        if name.endswith(ACTION_SUFFIX):
            name = name[: -len(ACTION_SUFFIX)]
        else:
            out[f"{name}.calls"] = out.get(f"{name}.calls", 0) + 1
        out[f"{name}.self_s"] = out.get(f"{name}.self_s", 0.0) + selfs[sid]
    by_span = (log or {}).get("by_span", {})
    tot = dict.fromkeys(trace.COUNTERS, 0)
    for sid in window:
        for k, v in by_span.get(str(sid), {}).items():
            tot[k] += v
    out.update({
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.executor_offcpu_s": max(0.0, tot["run_ms"] / 1e3 - tot["cpu_ns"] / 1e9),
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.scheduler_wait_s": tot["sched_wait_ms"] / 1e3,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.python_worker_s": tot["python_ms"] / 1e3,
        "spark.arrow_to_python_bytes": tot["arrow_to_python_bytes"],
        "spark.arrow_from_python_bytes": tot["arrow_from_python_bytes"],
        "spark.unattributed_jobs": sum(1 for span, submit_ms, _ in (log or {}).get("jobs", [])
                                       if span == trace.UNATTRIBUTED and start <= submit_ms / 1e3 < end),
        "sinks.bytes_written": tot["output_bytes"],
    })
    # driver-side time of each request: before its first job, and not
    # covered by any job at all
    jobs_of: dict[int, list] = {}
    for span_id, submit_ms, end_ms in (log or {}).get("jobs", []):
        if span_id.isdigit() and int(span_id) in window:
            jobs_of.setdefault(root[int(span_id)], []).append(
                (submit_ms / 1e3, (end_ms or submit_ms) / 1e3))
    tops = [sid for sid in window if spans[sid]["parent"] is None]
    plan = residual = 0.0
    for sid in tops:
        s = spans[sid]
        js = [(max(a, s["start"]), min(b, s["end"])) for a, b in jobs_of.get(sid, [])]
        js = [(a, b) for a, b in js if b > a]
        dur = s["end"] - s["start"]
        plan += (min(a for a, _ in js) - s["start"]) if js else dur
        residual += dur - trace.union_length(js)
    out["driver.plan_s"] = plan
    out["driver.residual_s"] = residual
    # accounting: the self times of all spans should add up to the time
    # each client thread spent from its first request to its last
    extent: dict[int, list] = {}
    for sid in tops:
        a, b, t = spans[sid]["start"], spans[sid]["end"], spans[sid]["thread"]
        lo, hi, busy = extent.get(t, (a, b, 0.0))
        extent[t] = (min(lo, a), max(hi, b), busy + b - a)
    out["trace.client_s"] = sum(hi - lo for lo, hi, _ in extent.values())
    out["trace.unspanned_s"] = sum(hi - lo - busy for lo, hi, busy in extent.values())
    out["trace.self_sum_s"] = sum(selfs[sid] for sid in window)
    out["trace.accounted_share"] = out["trace.self_sum_s"] / max(1e-9, out["trace.client_s"])
    # streaming progress of the micro-batches started inside the window
    acts = [(spans[s]["start"], spans[s]["end"]) for s in window
            if spans[s]["name"] == "streaming.run_orchestration"]
    prog = [p for p in (log or {}).get("progress", []) if any(a <= p["at"] <= b for a, b in acts)]
    for key, metric in (("triggerExecution", "trigger_ms"), ("queryPlanning", "query_planning_ms"),
                        ("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                        ("commitOffsets", "commit_offsets_ms")):
        vals = [p.get(key, 0) for p in prog]
        out[f"streaming.{metric}"] = statistics.mean(vals) if vals else 0.0
    return out
