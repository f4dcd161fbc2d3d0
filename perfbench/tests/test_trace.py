"""The span recorder and the event-log reader.

Run from the repository root: python3 -m pytest perfbench/tests

`data/activation_cogroup.eventlog` is an uncompressed event log of one
`run_orchestration` activation over a landed restaurant file, run under
span "s1", followed by one cogroup query (`brute_force_top_k`) under
span "s2", on Spark 4.1 in local mode.
"""

from __future__ import annotations

import os
import threading
import time

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "activation_cogroup.eventlog")


def test_event_log_attributes_jobs_to_spans():
    log = trace.read_event_log(LOG)
    s1, s2 = log["by_span"]["s1"], log["by_span"]["s2"]
    assert trace.UNATTRIBUTED not in log["by_span"]
    assert (s1["jobs"], s1["stages"], s1["tasks"]) == (31, 33, 72)
    assert (s2["jobs"], s2["stages"], s2["tasks"]) == (5, 5, 11)
    assert [j[0] for j in log["jobs"]] == ["s1"] * 31 + ["s2"] * 5
    assert all(end >= submit for _, submit, end in log["jobs"])


def test_event_log_task_and_python_worker_counters():
    log = trace.read_event_log(LOG)
    s1, s2 = log["by_span"]["s1"], log["by_span"]["s2"]
    assert s1["run_ms"] == 26469 and s1["cpu_ns"] == 3815819940 and s1["gc_ms"] == 379
    assert s1["output_bytes"] == 13912  # the activation writes both stores
    assert s2["output_bytes"] == 0 and s2["shuffle_write_bytes"] == 4458
    # the review fetch (mapInPandas) and the cosine tiles (cogroup) both
    # run in Python workers and move Arrow batches both ways
    for c in (s1, s2):
        assert c["python_ms"] > 0
        assert c["arrow_to_python_bytes"] > 0 and c["arrow_from_python_bytes"] > 0
    assert (s2["arrow_to_python_bytes"], s2["arrow_from_python_bytes"]) == (9296, 3520)


def test_event_log_query_progress_durations():
    (p,) = trace.read_event_log(LOG)["progress"]
    assert p["triggerExecution"] == 15908
    assert p["addBatch"] == 14896 and p["queryPlanning"] == 512
    assert {"walCommit", "commitOffsets", "getBatch", "latestOffset"} <= set(p)
    jobs = trace.read_event_log(LOG)["jobs"]
    assert p["at"] <= jobs[0][1] / 1e3  # the batch starts before its first job


def test_spans_nest_per_thread_and_set_the_job_property():
    seen = []
    tr = trace.Tracer(seen.append)
    with tr.span("outer", root=True, request="r1"):
        with tr.span("inner"):
            time.sleep(0.02)
        assert seen[-1] == "1"  # back to the outer span
    assert seen == ["1", "2", "1", None]
    outer, inner = tr.spans[1], tr.spans[2]
    assert inner["parent"] == 1 and inner["request"] == "r1"
    selfs = tr.self_times()
    assert abs(selfs[1] + selfs[2] - (outer["end"] - outer["start"])) < 1e-9
    assert selfs[2] >= 0.02
    assert 0 < tr.overhead_s < 0.02  # the span bookkeeping, not the sleep


def test_adopted_span_parents_spans_on_bare_threads():
    tr = trace.Tracer()

    def batch():
        with tr.span("batch"):
            pass

    with tr.span("activation", root=True, request="a", adopt=True):
        t = threading.Thread(target=batch)
        t.start()
        t.join()
    batch = next(s for s in tr.spans.values() if s["name"] == "batch")
    assert batch["parent"] == 1 and batch["request"] == "a"


def test_union_length_merges_overlaps():
    assert trace.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
