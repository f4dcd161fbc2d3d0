"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,retrieval} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  It builds its inputs from the seed under
`.perfbench/` in the current directory, runs the workload against the
package in the current directory, checks the outputs, and prints as its
last line one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json untraced, its
per-layer metrics traced).  Earlier lines echo the run's settings and
diagnostics.  Exits non-zero when a correctness gate fails or the
package is missing.

A traced run records spans over its window and reads Spark's event log
after it.  `trace.overhead_s` is the time the spans themselves took;
`trace.latency_p50_s` and `trace.requests_per_s` are the window's
end-to-end figures, to set against an untraced run of the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure(work: str) -> dict:
    """Keep every file the run writes inside `work`, and every thread
    count within the machine's cores."""
    ncpu = os.cpu_count() or 1
    try:
        ncpu = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if not cpus.isdigit() or not 1 <= int(cpus) <= ncpu:
        cpus = str(ncpu)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    import tempfile

    tempfile.tempdir = tmp
    return {"nproc": ncpu, "SPARK_GRAFT_CPUS": int(cpus)}


def main(argv=None) -> int:
    bench = spec()
    args = parse_args(argv, [w["name"] for w in bench["workloads"]])
    sys.path.insert(0, ROOT)
    import wellmeet_data_pipeline_spark  # noqa: F401  (the system under test must be here)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = configure(work)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                      "trace": args.trace, **env}), flush=True)
    try:
        res = execute(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}", flush=True)
    if res["notes"].get("over_sustainable_rate"):
        print("OVER SUSTAINABLE RATE: the backlog grew during the window, so its "
              "latencies measure the backlog, not the pipeline", flush=True)
    print(json.dumps({"notes": res["notes"]}, default=str), flush=True)
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = res["metrics"]
    out = {
        "correct": not res["problems"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in bench[kind]},
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


def end_to_end(res: dict) -> dict:
    return {
        "latency_p50_s": statistics.median(res["latencies"]),
        "requests_per_s": res["requests"] / res["elapsed_s"],
    }


def execute(args, work: str) -> dict:
    from pyspark import cloudpickle

    from perfbench import harness, loadgen, trace, workloads

    # the fetcher runs inside Spark's Python workers, which cannot import
    # the benchmark: ship its module by value
    cloudpickle.register_pickle_by_value(loadgen)
    cls = workloads.WORKLOADS[args.workload]
    extra = ()
    if hasattr(cls, "TABLES"):
        extra = (os.path.join(work, "tables"),)
        loadgen.write_tables(args.seed, extra[0], names=cls.TABLES)
    traced = bool(args.trace)
    spark = None
    with harness.RssSampler() as rss:
        try:
            t0 = time.monotonic()
            spark = harness.start_spark(work, traced)
            session_s = time.monotonic() - t0
            wl = cls(spark, args.seed, os.path.join(work, "run"), *extra)
            wl.setup()
            setup_s = time.monotonic() - t0
            if traced:
                wl.tracer = tracer = harness.make_tracer(spark)
            rss.recording = True
            w0 = time.time()
            res = wl.measure(args.seconds)
            w1 = time.time()
            rss.recording = False
            problems = wl.check()
        finally:
            if spark is not None:
                harness.stop_spark(spark)
    notes = dict(res["notes"], samples=len(res["latencies"]), peak_rss_mb=rss.peak_mb,
                 peak_rss_mb_parts={k: round(v / 2**20) for k, v in rss.peak_parts.items()})
    metrics = dict(end_to_end(res), setup_s=setup_s, rss_mb=rss.window_mb)
    if not traced:
        return {"metrics": metrics, "attempted": res["attempted"], "failed": res["failed"],
                "problems": problems, "notes": notes}
    path = harness.event_log_path(work)
    log = trace.read_event_log(path) if path else None
    report = harness.layer_report(tracer, log, w0, w1)
    report.update(res["layers"])
    report.update({
        "session.start_s": session_s,
        "session.warmup_s": setup_s - session_s,
        "sources.fetch_python_s": report["spark.python_worker_s"] if args.workload == "ingest" else 0.0,
        "streaming.drain_rounds": report.get("pipelines.ingest_reviews.calls", 0)
        / max(1, report.get("streaming.run_orchestration.calls", 0)),
        "trace.latency_p50_s": metrics["latency_p50_s"],
        "trace.requests_per_s": metrics["requests_per_s"],
        "trace.overhead_s": tracer.overhead_s,
        "trace.overhead_share": tracer.overhead_s / report["trace.client_s"],
    })
    spans_out = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
    with open(spans_out, "w") as fh:
        json.dump({"spans": list(tracer.spans.values()), "layers": report,
                   "event_log": log and log["by_span"]}, fh, default=str)
    notes["trace_file"] = os.path.relpath(spans_out, ROOT)
    return {"metrics": report, "attempted": res["attempted"], "failed": res["failed"],
            "problems": problems, "notes": notes}


if __name__ == "__main__":
    sys.exit(main())
