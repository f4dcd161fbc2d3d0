"""Sweep the headline for driver-side plan-construction outliers (r14,
VERDICT item 8): the r13 round found twice, by accident, entries whose
cost was Catalyst compilation (embedding_lsh_sha ~2.8s of literals,
hamming pack ~6.7s of nested shiftlefts), not execution.  This tool
measures, per headline entry, (a) fn construction time (python + analysis)
and (b) .explain("formatted") time (full Catalyst optimization + physical
planning, driver-side) and prints entries above a threshold.

Usage: python tools/plan_cost_sweep.py [--sf SF] [--threshold 0.3]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, SharedFrames  # noqa: E402
from wellmeet_data_pipeline_spark.plans.queries import REGISTRY  # noqa: E402
from wellmeet_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--threshold", type=float, default=0.3)
    args = ap.parse_args()

    spark = get_spark("plan-cost-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["pricing_summary"].fn(spark, args.sf).collect()

    frames = SharedFrames(args.sf)
    out = {}
    for name in HEADLINE:
        kw = frames.kwargs(spark, name)
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, args.sf, **kw)
        t_fn = time.perf_counter() - t0
        t0 = time.perf_counter()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        t_plan = time.perf_counter() - t0
        out[name] = {"fn": round(t_fn, 3), "plan": round(t_plan, 3)}
        if t_fn + t_plan > args.threshold:
            print(f"SLOW-PLAN {name}: fn={t_fn:.2f}s plan={t_plan:.2f}s", flush=True)
    with open("/tmp/plan_cost_sweep.json", "w") as fh:
        json.dump(out, fh, indent=1)
    tot_fn = sum(v["fn"] for v in out.values())
    tot_plan = sum(v["plan"] for v in out.values())
    print(
        f"TOTAL fn={tot_fn:.1f}s plan={tot_plan:.1f}s over {len(out)} entries "
        "(detail: /tmp/plan_cost_sweep.json)"
    )


if __name__ == "__main__":
    main()
