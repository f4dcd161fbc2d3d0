"""Shared dup-graph edge frame parity (bench.py `shared_lsh_edges` row).

bench.py builds minhash_lsh_candidates_sha(documents) once per session and
passes it to the whole dup-graph family via each query's shared_lsh_edges
kwarg.  That is only legitimate if the shared path is EXACTLY the
standalone path — these tests pin shared == standalone row-for-row for
every consumer the row names, on the driver's real sf0.001 parquet.
"""

from __future__ import annotations

import pytest

import bench

KWARG = "shared_lsh_edges"


@pytest.mark.parametrize("name", sorted(bench.SHARED[KWARG].consumers))
def test_shared_matches_standalone(shared_parity, name):
    shared_parity(name, KWARG)
