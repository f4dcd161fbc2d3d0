"""Shared raw verify-counts frame parity (bench.py `shared_verify_counts`
row).

bench.py builds minhash_verify_sha(documents, raw_counts=True,
shingle_base=<the shared shingle base>) once per session and passes it
to its consumers via each query's shared_verify_counts kwarg;
dedup_vs_reference derives its rounded (est_jaccard, jaccard) columns
from the raw counts through minhash_verify_from_raw.  That is only
legitimate if the shared path is EXACTLY the standalone path — these
tests pin shared == standalone row-for-row for every consumer the row
names, on the driver's real sf0.001 parquet, with the frame built from
the shingle base exactly as bench builds it.
"""

from __future__ import annotations

import pytest

import bench
from wellmeet_data_pipeline_spark.operators.dedup import (
    minhash_verify_from_raw,
    minhash_verify_sha,
)
from wellmeet_data_pipeline_spark.plans.queries import table

KWARG = "shared_verify_counts"


@pytest.mark.parametrize("name", sorted(bench.SHARED[KWARG].consumers))
def test_shared_matches_standalone(shared_parity, name):
    shared_parity(name, KWARG)


def test_rounded_form_bit_identical_from_raw(spark, shared_frames):
    """minhash_verify_from_raw over the raw frame must reproduce the
    direct rounded output bit-for-bit (same doubles, not just close)."""
    d = table(spark, shared_frames.sf_dir, "documents")
    direct = sorted(map(tuple, minhash_verify_sha(d).collect()))
    derived = sorted(
        map(
            tuple,
            minhash_verify_from_raw(
                minhash_verify_sha(d, raw_counts=True)
            ).collect(),
        )
    )
    assert direct == derived
    assert direct
