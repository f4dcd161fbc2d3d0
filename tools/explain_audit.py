"""Plan-quality audit: prints formatted physical plans for the headline
queries and greps for the scale signals that matter — PushedFilters
reaching the parquet scan, pruned ReadSchema, broadcast joins for dims,
WholeStageCodegen coverage, and absence of accidental CartesianProduct.

Usage: python tools/explain_audit.py [query ...]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from wellmeet_data_pipeline_spark.plans.queries import REGISTRY
from wellmeet_data_pipeline_spark.session import get_spark

def plan_signals(plan: str) -> dict[str, int]:
    """Scale signals from a FORMATTED (and, for codegen/AQE-final info,
    executed) physical plan.  Single source of truth — PLANS.md
    (tools/plan_report.py) and the audit CLI both read these."""
    return {
        "scans": len(re.findall(r"Scan parquet", plan)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "shuffles": len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
        + len(re.findall(r"Arguments: (?:hash|range)partitioning", plan)),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
        or len(re.findall(r"WholeStageCodegen", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoop", plan)),
        "take_ordered": len(re.findall(r"TakeOrderedAndProject", plan)),
        "arrow_py": len(
            re.findall(r"MapInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInPandas", plan)
        ),
        # windowspecdefinition whose FIRST argument is already an ordering
        # term (col ASC/DESC) has an EMPTY partition list — the
        # single-task global window Spark warns about ("No Partition
        # Defined").  Want 0 outside the documented post-agg whitelist
        # (frames bounded by day/source cardinality).
        "global_windows": len(
            re.findall(r"windowspecdefinition\([^,()]*#\d+L? (?:ASC|DESC)", plan)
        ),
    }


AUDIT = [
    "flagship_incremental_enrich",
    "pricing_summary",
    "join_star_enrich",
    "join_anti_new_rows",
    "topk_per_group",
    "dedup_exact_documents",
    "dedup_minhash_lsh",
]


def main() -> None:
    names = sys.argv[1:] or AUDIT
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        # execute FIRST: under AQE the pre-execution plan is a placeholder
        # AdaptiveSparkPlan — codegen spans, final join strategies, and
        # runtime-coalesced shuffles only exist in the final plan
        df.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        signals = plan_signals(plan)
        print(f"\n=== {name} ===")
        print("  ", signals)
        read_schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
        for rs in read_schemas:
            print("   ReadSchema:", rs[:140])
        if "--full" in sys.argv:
            print(plan)


if __name__ == "__main__":
    main()
