"""Isolated timing of the bench 16x/hd matmul tiers (optimization-round
measurement harness).  Runs bench.py's own fixtures, tier functions and
min-of-2 protocol in a fresh session, so tier timings and recalls are
those bench reports, without running the whole headline.

Usage: python tools/tiertime.py [16x|hd|both]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    hd_tier,
    ivf_tier,
    min2,
    scale_fixture,
    truth_sets,
)
from wellmeet_data_pipeline_spark.operators.similarity import brute_force_top_k  # noqa: E402
from wellmeet_data_pipeline_spark.plans.queries import REGISTRY  # noqa: E402
from wellmeet_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_16x(spark, times):
    e16 = scale_fixture(spark, SF_DIR)
    bf16, times["cosine_topk_bruteforce_16x"] = min2(
        lambda: brute_force_top_k(e16, e16, k=5, n_blocks=32, round_digits=4).collect()
    )
    truth16 = truth_sets(bf16)
    times["ivf_16x_recall_at_5"], times["ivfpq_16x_recall_at_5"] = ivf_tier(
        e16, "16x", 64, times, lambda: truth16
    )


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    spark = get_spark("tiertime")
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["pricing_summary"].fn(spark, SF_DIR).collect()
    times: dict = {}
    if which in ("16x", "both"):
        run_16x(spark, times)
    if which in ("hd", "both"):
        times["ivf_hd_recall_at_5"], times["ivfpq_hd_recall_at_5"] = hd_tier(
            spark, SF_DIR, times
        )
    print(json.dumps(times, indent=1))


if __name__ == "__main__":
    main()
