"""Shared LM-token frame parity (bench.py `shared_tokens` row).

bench.py builds _tokens_with_pos(documents) once per session and passes
it to the LM/token scorer family via each query's shared_tokens kwarg
(the LM-reference fifth becomes a row filter of the shared frame, exact
because tokenization is per-row).  That is only legitimate if the shared
path is EXACTLY the standalone path — these tests pin shared ==
standalone row-for-row for every consumer the row names, on the driver's
real sf0.001 parquet.  self_bleu_pairs additionally rides the dup-graph
shared edge frame; its two-frame leg passes both kwargs at once, exactly
like bench does.
"""

from __future__ import annotations

import pytest

import bench

KWARG = "shared_tokens"


@pytest.mark.parametrize("name", sorted(bench.SHARED[KWARG].consumers))
def test_shared_matches_standalone(shared_parity, name):
    shared_parity(name, KWARG)


def test_self_bleu_shared_both_frames(shared_parity):
    shared_parity("self_bleu_pairs", "shared_tokens", "shared_lsh_edges")
