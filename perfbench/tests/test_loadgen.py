"""The load generator depends on the seed alone.

Run from the repository root: python3 -m pytest perfbench/tests
"""

from __future__ import annotations

import json
import threading
import time

from perfbench import loadgen


def _landing_bytes(seed: int, tmp_path, n_files: int = 12) -> list[bytes]:
    out_dir = tmp_path / f"land-{seed}-{time.monotonic_ns()}"
    out_dir.mkdir()
    feed = loadgen.LandingFeed(seed, universe=50, per_file=4, prefix="1")
    paths = [feed.write_file(str(out_dir), feed.next_file()) for _ in range(n_files)]
    return [open(p, "rb").read() for p in paths]


def test_landing_files_are_byte_identical_per_seed(tmp_path):
    assert _landing_bytes(7, tmp_path) == _landing_bytes(7, tmp_path)
    assert _landing_bytes(7, tmp_path) != _landing_bytes(8, tmp_path)


def test_landing_files_hold_redeliveries_and_invalid_records(tmp_path):
    feed = loadgen.LandingFeed(3, universe=30, per_file=20, prefix="1",
                               redeliver_share=0.2, invalid_share=0.1)
    rows = [r for _ in range(10) for r in feed.next_file()]
    invalid = [r for r in rows if r["place_id"] is None or r["name"] is None]
    valid_ids = [r["place_id"] for r in rows if r not in invalid]
    assert invalid and len(valid_ids) > len(set(valid_ids))  # repeats happen
    assert feed.valid_ids == set(valid_ids)


def test_request_streams_are_identical_per_seed():
    a = json.dumps(loadgen.retrieval_requests(5, 60))
    assert a == json.dumps(loadgen.retrieval_requests(5, 60))
    assert a != json.dumps(loadgen.retrieval_requests(6, 60))


def test_request_mix_is_the_fixed_cycle():
    reqs = loadgen.retrieval_requests(1, 3 * len(loadgen.KIND_CYCLE))
    assert [r["kind"] for r in reqs] == list(loadgen.KIND_CYCLE) * 3
    assert {r["query"] for r in reqs if r["kind"] == "pinned"} == set(loadgen.PINNED_RETRIEVAL)
    for r in reqs:
        if "terms" in r:
            assert all(1 <= len(t) <= 4 and len(set(t)) == len(t) for t in r["terms"].values())


def test_fetcher_is_deterministic_and_has_duplicates():
    f = loadgen.ReviewFetcher(9)
    pages = [f("1000042", 1) for _ in range(2)]
    assert pages[0] == pages[1] and f("1000042", 2) == []
    assert loadgen.ReviewFetcher(10)("1000042", 1) != pages[0]
    many = [f(str(1000000 + i), 1) for i in range(40)]
    assert any(len({json.dumps(r, sort_keys=True) for r in p}) < len(p) for p in many)


def test_tables_are_byte_identical_per_seed(tmp_path):
    for d, seed in (("a", 1), ("b", 1), ("c", 2)):
        loadgen.write_tables(seed, str(tmp_path / d), sf=0.001)
    for t in ("lineitem", "documents", "embeddings"):
        a, b, c = ((tmp_path / d / f"{t}.parquet").read_bytes() for d in "abc")
        assert a == b and a != c


def test_scheduler_records_due_and_write_times(tmp_path):
    feed = loadgen.LandingFeed(1, universe=10, per_file=1, prefix="1")
    sched = loadgen.Scheduler(feed, str(tmp_path), interval_s=0.01)
    start = time.monotonic()
    sched.run(start, threading.Event(), start + 0.1)
    assert 5 <= len(sched.landed) <= 10
    assert all(written >= due for due, written in sched.landed.values())
    dues = sorted(due for due, _ in sched.landed.values())
    assert all(abs((b - a) - 0.01) < 1e-9 for a, b in zip(dues, dues[1:]))
