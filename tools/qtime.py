"""Isolated per-query timing + plan capture for the optimization rounds.

Fresh session, pricing_summary warmup (same as bench.py), then for each
named query: optional .explain("formatted") capture to a file, and
min-of-N timing of the same collect() action bench.py times, printed
beside the fewest Py4J round trips (driver -> JVM commands) one run
sent from the timing thread, plan building and collect together; py4j's
finalizer thread, which releases JVM objects asynchronously, is not
counted.  Beside them goes the fewest Spark jobs one run started over
plan building and collect (the DAGScheduler's `nextJobId()` delta), so a
job that starts while a plan is built shows up.  Usage:

    python tools/qtime.py [--sf SF_DIR] [--runs N] [--explain-dir DIR] q1 q2 ...

Consumers of a shared frame (bench.SHARED_FRAMES) get the same shared_*
kwargs bench passes, built once through bench.SharedFrames before the
timed runs and not billed, so the printed seconds are comparable to the
BENCH_DETAIL entries.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.clientserver import ClientServerConnection  # noqa: E402

from bench import SharedFrames  # noqa: E402
from wellmeet_data_pipeline_spark.plans.queries import REGISTRY  # noqa: E402
from wellmeet_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="", help="explain file suffix, e.g. _before")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["pricing_summary"].fn(spark, args.sf).collect()

    frames = SharedFrames(args.sf)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    round_trips = [0]
    thread = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(conn, command):
        round_trips[0] += threading.get_ident() == thread
        return send(conn, command)

    ClientServerConnection.send_command = counting
    out: dict[str, dict] = {}
    for name in args.queries:
        kwargs = frames.kwargs(spark, name)
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = REGISTRY[name].fn(spark, args.sf, **kwargs)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.explain_dir, f"{name}{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
        best = trips = jobs = None
        for _ in range(args.runs):
            # the job counter is read outside the timed, counted span
            first_job = scheduler.nextJobId()
            round_trips[0] = 0
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, args.sf, **kwargs).collect()
            dt = time.perf_counter() - t0
            run_trips = round_trips[0]
            run_jobs = scheduler.nextJobId() - first_job
            best = dt if best is None else min(best, dt)
            trips = run_trips if trips is None else min(trips, run_trips)
            jobs = run_jobs if jobs is None else min(jobs, run_jobs)
        out[name] = {"s": round(best, 3), "py4j_round_trips": trips, "spark_jobs": jobs}
        print(f"{name}: {out[name]['s']}s, {trips} py4j round trips, {jobs} spark jobs",
              flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
