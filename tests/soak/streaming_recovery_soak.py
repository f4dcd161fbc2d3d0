"""Crash-recovery soak for the streaming state-store twins (r9 verdict
item 7): KILL the driver process mid-stream — after a batch's store
commit but before the checkpoint records it (the torn gap every
foreachBatch sink lives with) — then restart from the checkpoint and
prove the store converges to batch parity.

Covered twins: Bloom bit-set registry, PageRank edge store, PSI
length-bin monitor.  The kill is real (os._exit inside foreachBatch,
injected by patching the merge_append binding the twins write through,
in a CHILD process), so the recovery leg exercises Structured Streaming's
offsets-without-commit replay against each store's idempotency
discipline: bit anti-join, edge dedup-on-read, (key, batch)-keyed
partials.

Usage:  python streaming_recovery_soak.py <tmpdir>            # full soak
        python streaming_recovery_soak.py <tmpdir> kill <twin> # child
"""

import json
import os
import subprocess
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

KILL_EXIT = 17
TWINS = ("bloom", "kcore", "psi", "cusum")


def get_session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName("streaming-recovery-soak")
        .getOrCreate()
    )


def paths(tmp, twin):
    return (
        os.path.join(tmp, f"{twin}_landing"),
        os.path.join(tmp, f"{twin}_store"),
        os.path.join(tmp, f"{twin}_ckpt"),
    )


def drop(landing, fname, rows):
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, fname), "w") as fh:
        json.dump(rows, fh)


BATCHES = {
    "bloom": [
        [{"c_custkey": 3}, {"c_custkey": 7}],
        [{"c_custkey": 11}, {"c_custkey": 19}],
        [{"c_custkey": 23}, {"c_custkey": 7}],
    ],
    "kcore": [
        [{"id_a": 1, "id_b": 2}, {"id_a": 2, "id_b": 3}, {"id_a": 3, "id_b": 1}],
        [{"id_a": 3, "id_b": 4}, {"id_a": 4, "id_b": 1}],
        [{"id_a": 4, "id_b": 5}, {"id_a": 5, "id_b": 1}, {"id_a": 2, "id_b": 3}],
    ],
    "psi": [
        [{"doc_id": i, "source": "A" if i % 2 else "B", "n_chars": 40 + i * 13}
         for i in range(30)],
        [{"doc_id": 100 + i, "source": "C" if i % 3 else "A", "n_chars": 300 + i * 9}
         for i in range(25)],
        [{"doc_id": 200 + i, "source": "B", "n_chars": 90 + i * 31}
         for i in range(20)],
    ],
    # CUSUM periods overlap across batches on purpose: the torn-gap
    # replay must roll duplicate (group, period, seq) partials up to the
    # same totals the batch operator sees
    "cusum": [
        [{"event_type": t, "day": f"2026-01-{d:02d}", "value": 10 + 7 * d + i}
         for t in ("view", "click") for d in (1, 2, 3) for i in range(3)],
        [{"event_type": t, "day": f"2026-01-{d:02d}", "value": 90 + 3 * d + i}
         for t in ("view", "buy") for d in (3, 4, 5) for i in range(2)],
        [{"event_type": "click", "day": f"2026-01-{d:02d}", "value": 5 * d}
         for d in (2, 4, 6)],
    ],
}

SCHEMAS = {
    "bloom": "c_custkey long",
    "kcore": "id_a long, id_b long",
    "psi": "doc_id long, source string, n_chars long",
    "cusum": "event_type string, day string, value long",
}


def activate(spark, tmp, twin):
    """One availableNow activation of `twin`; returns its query progress."""
    from pyspark.sql.types import StructType

    landing, store, ckpt = paths(tmp, twin)
    schema = StructType.fromDDL(SCHEMAS[twin])
    if twin == "bloom":
        from wellmeet_data_pipeline_spark.streaming.bloom import (
            run_streaming_bloom_bits,
        )

        return run_streaming_bloom_bits(
            spark, landing, store, ckpt, schema, "c_custkey", m_bits=64, k_hashes=3
        )
    elif twin == "kcore":
        from wellmeet_data_pipeline_spark.streaming.kcore import (
            run_streaming_kcore_edges,
        )

        return run_streaming_kcore_edges(spark, landing, store, ckpt, schema)
    elif twin == "cusum":
        from wellmeet_data_pipeline_spark.streaming.analytics import (
            run_streaming_period_totals,
        )

        return run_streaming_period_totals(
            spark, landing, store, ckpt, schema, "event_type", "day", "value"
        )
    else:
        from wellmeet_data_pipeline_spark.streaming.analytics import (
            run_streaming_length_bins,
        )

        return run_streaming_length_bins(spark, landing, store, ckpt, schema)


def patch_merge_append_to_kill():
    """Rebind merge_append everywhere the twins resolve it so the NEXT
    successful store commit durably lands and then the driver dies —
    the checkpoint's commit marker for that epoch is never written."""
    import wellmeet_data_pipeline_spark.sinks.merge as merge_mod
    import wellmeet_data_pipeline_spark.streaming.pipeline as pipeline_mod

    orig = merge_mod.merge_append

    def commit_then_die(*args, **kwargs):
        orig(*args, **kwargs)
        sys.stdout.flush()
        os._exit(KILL_EXIT)

    merge_mod.merge_append = commit_then_die
    # bound at module import: all four twins (bloom, kcore, psi, cusum)
    # write through pipeline.run_partials -> merge_append
    pipeline_mod.merge_append = commit_then_die


def n_input_rows(progress):
    return sum(p.numInputRows for p in progress)


def n_checkpoint_commits(ckpt):
    d = os.path.join(ckpt, "commits")
    return len([f for f in os.listdir(d) if not f.startswith(".")]) if os.path.isdir(d) else 0


def verify_parity(spark, tmp, twin):
    from pyspark.sql import functions as F

    landing, store, ckpt = paths(tmp, twin)
    rows = [r for batch in BATCHES[twin] for r in batch]
    if twin == "bloom":
        from wellmeet_data_pipeline_spark.operators.joins import bloom_prefilter_stats
        from wellmeet_data_pipeline_spark.streaming.bloom import (
            current_bloom_prefilter_stats,
        )

        build = spark.createDataFrame(
            [(r["c_custkey"],) for r in rows], "c_custkey long"
        ).distinct()
        probe = spark.createDataFrame([(k,) for k in range(40)], "o_custkey long")
        want = bloom_prefilter_stats(
            build, probe, "c_custkey", "o_custkey", m_bits=64, k_hashes=3
        ).collect()
        got = current_bloom_prefilter_stats(
            spark, store, probe, "o_custkey", build, "c_custkey", m_bits=64, k_hashes=3
        ).collect()
        assert [r.asDict() for r in got] == [r.asDict() for r in want], twin
    elif twin == "kcore":
        from wellmeet_data_pipeline_spark.operators.dedup import graph_pagerank
        from wellmeet_data_pipeline_spark.streaming.kcore import current_pagerank

        all_edges = spark.createDataFrame(
            [(r["id_a"], r["id_b"]) for r in rows], "id_a long, id_b long"
        )
        want = sorted(map(tuple, graph_pagerank(all_edges, iters=3).collect()))
        got = sorted(map(tuple, current_pagerank(spark, store, iters=3).collect()))
        assert got == want, twin
    elif twin == "cusum":
        from wellmeet_data_pipeline_spark.operators.stats import cusum_changepoint
        from wellmeet_data_pipeline_spark.streaming.analytics import (
            current_changepoint,
        )

        all_events = spark.createDataFrame(
            [(r["event_type"], r["day"], r["value"]) for r in rows],
            "event_type string, day string, value long",
        )
        totals = all_events.groupBy("event_type", "day").agg(
            F.sum("value").cast("long").alias("__x")
        )
        want = sorted(
            map(
                tuple,
                cusum_changepoint(
                    totals, "event_type", "day", F.col("__x")
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                current_changepoint(spark, store, "event_type", "day").collect(),
            )
        )
        assert got == want, twin
    else:
        from wellmeet_data_pipeline_spark.operators.scoring import (
            length_bins,
            psi_from_source_bin_counts,
        )
        from wellmeet_data_pipeline_spark.streaming.analytics import current_source_psi

        all_docs = spark.createDataFrame(
            [(r["doc_id"], r["source"], r["n_chars"]) for r in rows],
            "doc_id long, source string, n_chars long",
        )
        cs = length_bins(all_docs).groupBy("source", "bin").agg(
            F.count("*").alias("c")
        )
        want = sorted(map(tuple, psi_from_source_bin_counts(cs).collect()))
        got = sorted(map(tuple, current_source_psi(spark, store).collect()))
        assert got == want, twin


def main():
    tmp = sys.argv[1]
    if len(sys.argv) > 2 and sys.argv[2] == "kill":
        twin = sys.argv[3]
        patch_merge_append_to_kill()
        spark = get_session()
        activate(spark, tmp, twin)  # dies inside the first store commit
        os._exit(3)  # unreachable unless the batch produced no commit

    for twin in TWINS:
        landing, store, ckpt = paths(tmp, twin)
        spark = get_session()
        drop(landing, "b1.json", BATCHES[twin][0])
        progress = activate(spark, tmp, twin)  # epoch 0, clean
        assert n_checkpoint_commits(ckpt) == 1, twin
        assert n_input_rows(progress) == len(BATCHES[twin][0]), twin
        drop(landing, "b2.json", BATCHES[twin][1])
        spark.stop()

        # the kill leg runs in a child so the parent survives os._exit
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), tmp, "kill", twin],
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert child.returncode == KILL_EXIT, (twin, child.returncode, child.stderr[-2000:])
        # torn gap is REAL: the store holds epoch 1's commit, the
        # checkpoint does not
        spark = get_session()
        assert n_checkpoint_commits(ckpt) == 1, twin
        stored_batches = spark.read.parquet(store).select("_batch_seq").distinct().count()
        assert stored_batches == 2, (twin, stored_batches)

        progress = activate(spark, tmp, twin)  # recovery: epoch 1 replays idempotently
        assert n_checkpoint_commits(ckpt) == 2, twin
        # only the torn epoch replays: b2.json's rows, not b1.json's again
        assert n_input_rows(progress) == len(BATCHES[twin][1]), twin
        drop(landing, "b3.json", BATCHES[twin][2])
        progress = activate(spark, tmp, twin)  # life goes on: epoch 2
        assert n_input_rows(progress) == len(BATCHES[twin][2]), twin
        verify_parity(spark, tmp, twin)
        spark.stop()
        print(f"RECOVERY-OK {twin}", flush=True)
    print("SOAK-OK", flush=True)


if __name__ == "__main__":
    main()
