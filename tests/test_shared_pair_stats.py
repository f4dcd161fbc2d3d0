"""Shared shingle pair-stats frame parity (bench.py `shared_pair_stats`
row).

bench.py builds _shingle_pair_stats(documents, "text", "doc_id", 3,
None, 10_000) once per session and passes it to the inverted-index
consumers via each query's shared_pair_stats kwarg; everything each
query applies on top (Jaccard/containment thresholds, rounding, split
labels, the S-curve sweep) is a projection over that frame.  That is
only legitimate if the shared path is EXACTLY the standalone path —
these tests pin shared == standalone row-for-row for every consumer the
row names, on the driver's real sf0.001 parquet.
"""

from __future__ import annotations

import pytest

import bench

KWARG = "shared_pair_stats"


@pytest.mark.parametrize("name", sorted(bench.SHARED[KWARG].consumers))
def test_shared_matches_standalone(shared_parity, name):
    shared_parity(name, KWARG)
