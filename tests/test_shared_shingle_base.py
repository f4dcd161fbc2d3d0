"""Shared distinct-shingle base parity (bench.py `shared_shingle_base`
row, r14).

bench.py builds shingles_df(documents, "text", "doc_id", 3).distinct()
once per session and (a) feeds it to the verify-counts build via
minhash_verify_sha's shingle_base kwarg, (b) passes it to its consumers
via their shared_shingle_base kwarg.  That is only legitimate if every
shared path is EXACTLY the standalone path — these tests pin shared ==
standalone row-for-row on the driver's real sf0.001 parquet.
"""

from __future__ import annotations

import pytest

import bench
from wellmeet_data_pipeline_spark.operators.dedup import (
    minhash_signatures_sha,
    minhash_verify_sha,
)
from wellmeet_data_pipeline_spark.plans.queries import table

KWARG = "shared_shingle_base"


@pytest.mark.parametrize("name", sorted(bench.SHARED[KWARG].consumers))
def test_shared_matches_standalone(shared_parity, name):
    shared_parity(name, KWARG)


def test_verify_counts_from_base_match_standalone(spark, shared_frames):
    # the verify-counts row builds from this base (its `needs`)
    docs = table(spark, shared_frames.sf_dir, "documents")
    standalone = sorted(
        map(tuple, minhash_verify_sha(docs, raw_counts=True).collect())
    )
    shared = sorted(
        map(tuple, shared_frames.get(spark, "shared_verify_counts").collect())
    )
    assert standalone == shared
    assert len(standalone) > 0


def test_signatures_from_base_match_standalone(spark, shared_frames):
    # min is idempotent: signature mins over the DISTINCT shingle set must
    # equal the standalone build's (which takes the same distinct itself)
    docs = table(spark, shared_frames.sf_dir, "documents")
    base = shared_frames.get(spark, KWARG)
    standalone = sorted(map(tuple, minhash_signatures_sha(docs).collect()))
    shared = sorted(
        map(tuple, minhash_signatures_sha(docs, shingle_base=base).collect())
    )
    assert standalone == shared
    assert len(standalone) > 0
