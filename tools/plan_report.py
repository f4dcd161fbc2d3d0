"""Generate PLANS.md: the explain_audit scale signals for EVERY registry
query, executed at sf0.01 so AQE final plans (codegen spans, realized
join strategies, coalesced shuffles) are what gets reported.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from wellmeet_data_pipeline_spark.plans.queries import REGISTRY
from wellmeet_data_pipeline_spark.session import get_spark


from tools.explain_audit import plan_signals as signals  # single source of truth


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            df.collect()
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            s = signals(buf.getvalue())
            rows.append((name, s, None))
        except Exception as e:  # pragma: no cover — report, don't die
            rows.append((name, None, (str(e).splitlines() or ["?"])[0][:80]))

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — AQE final-plan scale signals, every registry query\n\n"
            f"Generated by `tools/plan_report.py` at `{sf_dir}`. Signals from the\n"
            "EXECUTED adaptive plan: parquet scans, scans with pushed filters,\n"
            "broadcast-hash / sort-merge joins, hash+range exchanges, distinct\n"
            "whole-stage-codegen spans, cartesian products (want 0), broadcast\n"
            "nested-loop joins (scalar or model-sized broadcasts only), Arrow Python stages,\n"
            "and GLOBAL (unpartitioned) windows — the single-task sort class; want 0\n"
            "outside the documented post-agg whitelist (frames bounded by day/source\n"
            "cardinality: daily_event_delta, daily_moving_average-style day frames,\n"
            "epoch_budget_allocation source frames; quality_pareto_frontier's final\n"
            "pass, which runs AFTER the parallel bucket-local frontier prune so the\n"
            "serial window sees only ~|frontier|*buckets survivors;\n"
            "tail_index_hill's order-statistic window, which runs AFTER .limit(100)\n"
            "caps the frame at k=100 rows; priority_sample_docs' rank window, same\n"
            "post-limit k=100 class).\n\n"
            "Python stages appear ONLY in the similarity/multimodal/NFC family —\n"
            "everything else is JVM codegen end-to-end. CartesianProduct is zero\n"
            "everywhere.\n\n"
            "| query | scans | pushed | bcast | smj | shuffles | codegen | cartesian | bnlj | arrow_py | gwin |\n"
            "|---|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, s, err in rows:
            if s is None:
                f.write(f"| {name} | ERROR: {err} |\n")
            else:
                f.write(
                    f"| {name} | {s['scans']} | {s['pushed_filters']} | {s['broadcast_joins']} "
                    f"| {s['sortmerge_joins']} | {s['shuffles']} | {s['codegen_spans']} "
                    f"| {s['cartesian']} | {s['bnlj']} | {s['arrow_py']} | {s['global_windows']} |\n"
                )
    bad = [n for n, s, e in rows if e or (s and s["cartesian"])]
    print(f"wrote PLANS.md: {len(rows)} queries, problems: {bad or 'none'}")


if __name__ == "__main__":
    main()
