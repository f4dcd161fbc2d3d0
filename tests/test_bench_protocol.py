"""Structural pins for bench.py's measurement protocol (no Spark).

The r12 driver snapshot flagged a phantom ">50% regression" on
dedup_lsh_candidates_build because the shared edge frame straddled the
88-entry session-restart cadence and its rebuild was accumulated into
the build entry (r12 verdict item 3).  These pins keep the protocol
honest as the headline grows:

- every name in HEADLINE resolves in REGISTRY (a typo'd entry would
  crash the driver's bench run, discovered only per-round);
- each shared-frame family's consumers sit inside ONE restart segment,
  so the session-keyed frame builds exactly once per run and the
  *_rebuild entries stay absent on a normal run;
- the SHARED_FRAMES table and the registry fns' shared_* kwargs agree.
"""

from __future__ import annotations

import inspect
import os

import bench
from wellmeet_data_pipeline_spark.plans.queries import REGISTRY


def _segments() -> list[int]:
    restart_at = sorted(set(range(88, len(bench.HEADLINE), 88)))
    return restart_at


def _segment_of(i: int) -> int:
    seg = 0
    for b in _segments():
        if i >= b:
            seg += 1
    return seg


def test_headline_names_resolve():
    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def _users(row) -> set[str]:
    """Headline entries that use `row`'s frame: its consumers, plus the
    consumers of every row whose build needs it."""
    out = set(row.consumers)
    for r in bench.SHARED_FRAMES:
        if row.kwarg in r.needs:
            out |= _users(r)
    return out


def test_shared_families_single_segment():
    idx = {n: i for i, n in enumerate(bench.HEADLINE)}
    for row in bench.SHARED_FRAMES:
        segs = {_segment_of(idx[n]) for n in _users(row) if n in idx}
        assert len(segs) == 1, (
            f"{row.kwarg} users straddle a session restart (segments "
            f"{sorted(segs)}): the shared frame would rebuild mid-run and "
            f"bill {row.stem}_rebuild — keep the family inside one segment"
        )


def test_shared_kwargs_match_consumers():
    # a headline fn taking a shared_* kwarg outside its row's consumers
    # would silently run standalone; a consumer whose fn lacks the kwarg
    # would crash bench's call
    headline = set(bench.HEADLINE)
    for name in bench.HEADLINE:
        for kw in inspect.signature(REGISTRY[name].fn).parameters:
            if kw.startswith("shared_"):
                assert kw in bench.SHARED, (name, kw)
                assert name in bench.SHARED[kw].consumers, (name, kw)
    for row in bench.SHARED_FRAMES:
        assert row.consumers <= headline, row.consumers - headline
        for name in row.consumers:
            params = inspect.signature(REGISTRY[name].fn).parameters
            assert row.kwarg in params, (name, row.kwarg)


def test_min2_set_members_exist():
    assert bench.MATMUL_MIN2 <= set(bench.HEADLINE)


def test_prev_detail_selects_completed_round_snapshot():
    # the noise-gated re-timing and the common-subset comparison both
    # read the most recent COMPLETED round's snapshot at the same sf;
    # with the repo's committed artifacts that is the r13 detail for 0.1
    # and nothing for an sf no round has recorded
    name, queries = bench._prev_detail(0.1)
    assert name is not None and "_r" in name
    assert isinstance(queries, dict) and len(queries) > 100
    none_name, none_q = bench._prev_detail(99.0)
    assert none_name is None and none_q is None


def test_stable_class_excludes_arrow_and_slow():
    # stable-class tiering (r12 verdict item 6): the snapshot tool's
    # class assignment must never hand an Arrow-bearing or >cutoff entry
    # to the skip list, and must only name headline entries bench.py can
    # actually skip
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    import bench_snapshot

    detail = {
        "queries": {
            "pricing_summary": 0.3,  # stable JVM
            "cosine_topk_ivf": 0.2,  # fast but Arrow (MATMUL_MIN2)
            "corpus_end_to_end": 2.4,  # slow JVM
            "int8_quant_16x": 3.0,  # tier entry, not in HEADLINE
        }
    }
    stable = bench_snapshot.stable_class(detail)
    assert stable == {"pricing_summary"}


def test_skip_env_is_opt_in():
    # a plain driver run (no env) must bench every headline entry: the
    # skip set is only ever populated from $SPARK_GRAFT_BENCH_SKIP
    import inspect

    src = inspect.getsource(bench.main)
    assert "SPARK_GRAFT_BENCH_SKIP" in src
    assert 'os.environ.get("SPARK_GRAFT_BENCH_SKIP")' in src
