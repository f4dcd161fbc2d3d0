import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from wellmeet_data_pipeline_spark.sinks.http import post_partitioned, post_report
from wellmeet_data_pipeline_spark.sinks.merge import merge_append, read_current


def _reviews(spark, rows):
    return spark.createDataFrame(rows, "id string, place_id string, content string")


def test_merge_append_idempotent(spark, tmp_path):
    store = str(tmp_path / "store")
    b1 = _reviews(spark, [("r1", "p1", "v1"), ("r2", "p1", "v1"), ("r3", "p2", "v1")])
    merge_append(b1, store, batch_seq=0)
    # overlapping retry batch with a CHANGED payload for r2 — first version
    # must win (T4 idempotency)
    b2 = _reviews(spark, [("r2", "p1", "v2"), ("r4", "p2", "v1")])
    merge_append(b2, store, batch_seq=1)

    cur = read_current(spark, store)
    rows = {r["id"]: r["content"] for r in cur.collect()}
    assert rows == {"r1": "v1", "r2": "v1", "r3": "v1", "r4": "v1"}


def test_claim_batch_seq_concurrent_writers_get_distinct_seqs(tmp_path):
    """The optimistic-commit claim under a threaded race: N writers
    hammering the same store must each get a UNIQUE seq (the exclusive
    marker create is the whole protocol — a shared seq would make the
    first-version-wins read nondeterministic)."""
    import threading

    from wellmeet_data_pipeline_spark.sinks.merge import claim_batch_seq

    store = str(tmp_path / "store")
    seqs, errs = [], []
    barrier = threading.Barrier(8)

    def worker(i):
        try:
            barrier.wait()
            for _ in range(5):
                seqs.append(claim_batch_seq(store))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert sorted(seqs) == list(range(40))  # every claim unique and dense


def test_merge_append_concurrent_double_commit(spark, tmp_path):
    """r8 verdict item 4: two concurrent merge_append batches to the same
    store (overlapping id, conflicting payloads) — both batches' rows
    survive, the overlapping id resolves deterministically to the LOWER
    claimed seq, and replay idempotency is preserved."""
    import threading

    from wellmeet_data_pipeline_spark.sinks.merge import merge_append

    store = str(tmp_path / "store")
    b1 = _reviews(spark, [("r1", "p1", "w1"), ("rX", "p1", "w1")])
    b2 = _reviews(spark, [("r2", "p1", "w2"), ("rX", "p1", "w2")])
    got = {}
    barrier = threading.Barrier(2)

    def commit(name, df):
        barrier.wait()
        got[name] = merge_append(df, store, batch_seq=None)

    t1 = threading.Thread(target=commit, args=("w1", b1))
    t2 = threading.Thread(target=commit, args=("w2", b2))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert sorted(got.values()) == [0, 1]  # distinct claimed seqs
    cur = {r["id"]: r["content"] for r in read_current(spark, store).collect()}
    winner = "w1" if got["w1"] < got["w2"] else "w2"
    assert cur == {"r1": "w1", "r2": "w2", "rX": winner}

    # replay of the losing batch claims a FRESH seq; the view is unchanged
    loser_df = b1 if winner == "w2" else b2
    seq3 = merge_append(loser_df, store, batch_seq=None)
    assert seq3 == 2
    cur2 = {r["id"]: r["content"] for r in read_current(spark, store).collect()}
    assert cur2 == cur


def test_merge_append_replay_same_batch(spark, tmp_path):
    store = str(tmp_path / "store")
    b = _reviews(spark, [("r1", "p1", "v1")])
    merge_append(b, store, batch_seq=0)
    merge_append(b, store, batch_seq=0)  # at-least-once redelivery
    assert read_current(spark, store).count() == 1


def test_merge_append_zero_row_batch_commits_no_part_file(spark, tmp_path):
    """A zero-row batch writes no part file: under an explicit seq it
    commits nothing (its staging directory is removed), under a claimed
    seq an empty batch directory, so the reader's pin moves past it."""
    import glob
    import os

    from wellmeet_data_pipeline_spark.sinks.merge import committed_seq_pin, read_current_or_none

    store = str(tmp_path / "store")
    empty = _reviews(spark, [])
    merge_append(_reviews(spark, [("r1", "p1", "v1")]), store, partition_col=None, batch_seq=0)
    parts = sorted(glob.glob(store + "/**/*.parquet", recursive=True))
    assert merge_append(empty, store, partition_col=None, batch_seq=1) == 1
    assert merge_append(empty, store, partition_col=None, batch_seq=0) == 0
    assert sorted(glob.glob(store + "/**/*.parquet", recursive=True)) == parts
    assert not glob.glob(store + "/batch_commit=1") and not os.listdir(store + "/_staging")

    claimed = str(tmp_path / "claimed")
    merge_append(_reviews(spark, [("r1", "p1", "v1")]), claimed, batch_seq=None)
    seq = merge_append(empty, claimed, batch_seq=None)
    assert os.listdir(os.path.join(claimed, f"batch_commit={seq}")) == []
    assert committed_seq_pin(claimed) == seq
    merge_append(_reviews(spark, [("r2", "p1", "v1")]), claimed, batch_seq=None)
    assert {r["id"] for r in read_current(spark, claimed).collect()} == {"r1", "r2"}

    # a store with no part file is "not yet created": a missing path, an
    # empty directory, a store holding only an empty claimed batch.  That
    # is decided on the driver (no Spark job), and read_current raises an
    # error naming the store
    only_empty = str(tmp_path / "only_empty")
    merge_append(empty, only_empty, batch_seq=None)
    os.mkdir(tmp_path / "empty_dir")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    for name in ("missing", "empty_dir", "only_empty"):
        path = str(tmp_path / name)
        jobs = scheduler.nextJobId()
        assert read_current_or_none(spark, path) is None, name
        assert scheduler.nextJobId() == jobs, name
        with pytest.raises(FileNotFoundError, match=re.escape(path)):
            read_current(spark, path)

    # a part file without Spark's row schema is not "not yet created":
    # both readers raise, naming the store
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    pq.write_table(pa.table({"id": ["r1"]}), foreign / "part-0.parquet")
    for read in (read_current, read_current_or_none):
        with pytest.raises(ValueError, match=re.escape(str(foreign))):
            read(spark, str(foreign))


def test_http_sink_errors_as_data(spark):
    df = spark.createDataFrame(
        [("1", "ok"), ("2", "boom"), ("3", "ok")], "id string, content string"
    )

    def poster(rec):
        if rec["content"] == "boom":
            raise ValueError("api rejected")

    results = post_partitioned(df, poster)
    report = post_report(results)
    assert report["total"] == 3
    assert report["success"] == 2
    assert report["failed"] == 1
    assert "ValueError" in report["errors"][0]


def test_compact_materializes_dedup(spark, tmp_path):
    from wellmeet_data_pipeline_spark.sinks.merge import compact

    store = str(tmp_path / "store_c")
    out = str(tmp_path / "store_compacted")
    merge_append(_reviews(spark, [("r1", "p1", "v1"), ("r2", "p1", "v1")]), store, batch_seq=0)
    merge_append(_reviews(spark, [("r2", "p1", "v2"), ("r3", "p2", "v1")]), store, batch_seq=1)
    compact(spark, store, out)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = scheduler.nextJobId()
    cur = read_current(spark, out)  # an ordinary store: batch_commit=0
    assert scheduler.nextJobId() == jobs
    rows = {r["id"]: r["content"] for r in cur.collect()}
    assert rows == {"r1": "v1", "r2": "v1", "r3": "v1"}
    assert sorted(cur.collect()) == sorted(read_current(spark, store).collect())


@pytest.mark.parametrize("partition_col", ["place_id", None])
def test_compacted_store_takes_further_appends(spark, tmp_path, partition_col):
    """A compacted store is an ordinary store: after one more append its
    view holds every compacted row and the appended one, partitioned or
    not, and the compacted rows stay first-wins over a replayed id."""
    from wellmeet_data_pipeline_spark.sinks.merge import compact

    store, out = str(tmp_path / "store"), str(tmp_path / "compacted")
    merge_append(_reviews(spark, [("r1", "p1", "v1"), ("r2", "p2", "v1")]), store, partition_col, 0)
    merge_append(_reviews(spark, [("r2", "p2", "v2"), ("r3", "p3", "v1")]), store, partition_col, 1)
    compact(spark, store, out)
    merge_append(_reviews(spark, [("r3", "p3", "v9"), ("r4", "p4", "v1")]), out, partition_col, None)
    rows = {r["id"]: (r["place_id"], r["content"]) for r in read_current(spark, out).collect()}
    assert rows == {"r1": ("p1", "v1"), "r2": ("p2", "v1"), "r3": ("p3", "v1"), "r4": ("p4", "v1")}


def test_read_current_partition_key_reads_back_as_written(spark, tmp_path):
    """A partition key reads back as the string that was written, whatever
    ids the store holds.  Partition-type inference would read "007" as 7
    while every id is numeric (so a read of place "7" returned place
    "007"'s rows), as bigint past 2**31, and a filter on "abc" would fail
    its cast under ANSI mode."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    store = str(tmp_path / "store")
    written = set()
    for seq, pid in enumerate(["007", "3000000000", "abc"]):
        merge_append(_reviews(spark, [(f"r{seq}", pid, "v")]), store, batch_seq=seq)
        written.add(pid)
        cur = read_current(spark, store)
        assert cur.schema["place_id"].dataType == StringType(), pid
        assert {r["place_id"] for r in cur.collect()} == written
        assert cur.filter(F.col("place_id") == "7").count() == 0
        assert cur.filter(F.col("place_id") == "abc").count() == len({"abc"} & written)


def test_read_current_plans_without_a_spark_job(spark, tmp_path):
    """Planning read_current starts no Spark job: the read schema comes
    from one part-file footer, not from schema inference.  The
    save-reviews read of one place through project_payloads runs at most
    2.  Counted with the DAGScheduler's job counter."""
    from pyspark.sql import functions as F

    from wellmeet_data_pipeline_spark.pipelines import ingest_reviews, project_payloads

    def fetch(place_id, page):
        return [{"author": "a", "content": f"review {i} of {place_id}", "visit_date": "d",
                 "place_id": place_id} for i in range(3)]

    store = str(tmp_path / "rev")
    for seq, places in enumerate([["p1", "p2"], ["p2", "p3"]]):
        ingest_reviews(spark, places, fetch, store, batch_seq=seq)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = scheduler.nextJobId()
    cur = read_current(spark, store, id_col=["place_id", "id"])
    assert scheduler.nextJobId() == jobs
    rows = project_payloads(cur.filter(F.col("place_id") == "p2"), 10).collect()
    assert len(rows) == 3
    assert scheduler.nextJobId() - jobs <= 2


def test_write_training_shards_layout_and_order(spark, tmp_path):
    """Shard sink: one directory per shard, files capped, and a
    sequential read of any one file replays positions in order."""
    import glob

    from pyspark.sql import functions as F

    from wellmeet_data_pipeline_spark.operators.scoring import shuffle_to_shards
    from wellmeet_data_pipeline_spark.sinks.shards import (
        read_shard_in_order,
        write_training_shards,
    )

    df = spark.range(400).select(F.col("id").alias("doc_id"))
    sharded = shuffle_to_shards(df, 4)
    path = str(tmp_path / "shards")
    write_training_shards(sharded, path, max_records_per_file=40)

    dirs = sorted(glob.glob(path + "/shard=*"))
    assert [d.rsplit("=", 1)[-1] for d in dirs] == ["0", "1", "2", "3"]
    # files are bounded
    for d in dirs:
        for f in glob.glob(d + "/part-*.parquet"):
            import pyarrow.parquet as pq

            assert pq.read_metadata(f).num_rows <= 40
    # within-file order is the shard order (file order is how a training
    # reader consumes a shard)
    a_file = glob.glob(dirs[0] + "/part-*.parquet")[0]
    import pyarrow.parquet as pq

    pos = pq.read_table(a_file, columns=["pos_in_shard"])["pos_in_shard"].to_pylist()
    assert pos == sorted(pos)

    # read-back covers every row exactly once, in order per shard
    total = 0
    for s in range(4):
        rows = read_shard_in_order(spark, path, s).collect()
        assert [r["pos_in_shard"] for r in rows] == list(range(1, len(rows) + 1))
        total += len(rows)
    assert total == 400


def test_merge_reader_never_sees_torn_batch(spark, tmp_path):
    """r9 verdict item 5: a reader racing a claimed-mode commit sees the
    old snapshot or the new one, never a mix — the batch directory rename
    is the atomic visibility point."""
    import threading

    store = str(tmp_path / "store")
    base = _reviews(spark, [(f"r{i}", "p1", "old") for i in range(60)])
    merge_append(base, store, batch_seq=None)

    new = _reviews(spark, [(f"n{i}", "p1", "new") for i in range(60)])
    done = threading.Event()

    def commit():
        merge_append(new, store, batch_seq=None)
        done.set()

    t = threading.Thread(target=commit)
    t.start()
    saw_new = False
    try:
        while not done.is_set() or not saw_new:
            ids = {r["id"] for r in read_current(spark, store).collect()}
            n_new = sum(1 for i in ids if i.startswith("n"))
            assert sum(1 for i in ids if i.startswith("r")) == 60
            assert n_new in (0, 60)  # all-or-nothing, never a torn batch
            if n_new == 60:
                saw_new = True
            if done.is_set() and not saw_new:
                continue  # one more read now that the commit landed
    finally:
        t.join()
    assert saw_new


def test_merge_reader_pins_to_contiguous_committed_prefix(spark, tmp_path):
    """An out-of-order commit (seq 1 lands while seq 0 is still in
    flight) stays invisible until seq 0 commits, so the first-wins
    survivor never flips under a reader."""
    from wellmeet_data_pipeline_spark.sinks.merge import claim_batch_seq

    store = str(tmp_path / "store")
    slow_seq = claim_batch_seq(store)  # in-flight writer
    assert slow_seq == 0
    fast = _reviews(spark, [("rX", "p1", "fast"), ("r2", "p1", "fast")])
    assert merge_append(fast, store, batch_seq=None) == 1
    # batch 1 is committed but batch 0 is claimed and unfinished: pin = -1
    assert read_current(spark, store).count() == 0
    slow = _reviews(spark, [("rX", "p1", "slow")])
    merge_append(slow, store, batch_seq=slow_seq)  # finish the claim
    cur = {r["id"]: r["content"] for r in read_current(spark, store).collect()}
    assert cur == {"rX": "slow", "r2": "fast"}  # seq-0 row wins rX


def test_merge_reader_skips_stale_abandoned_claim(spark, tmp_path):
    """A writer that died between claim and commit must not wedge the
    store forever: claims older than the lease are skipped by the pin."""
    import os

    from wellmeet_data_pipeline_spark.sinks.merge import claim_batch_seq

    store = str(tmp_path / "store")
    dead_seq = claim_batch_seq(store)
    claim = os.path.join(store, "_commits", f"{dead_seq:020d}.commit")
    os.utime(claim, (1, 1))  # crashed long ago
    live = _reviews(spark, [("r1", "p1", "v1")])
    merge_append(live, store, batch_seq=None)
    # default lease (900s): claim 0 long stale -> skipped, batch 1 visible
    assert read_current(spark, store).count() == 1
    # a FRESH unfinished claim still blocks (fresh mtime)
    claim_batch_seq(store)
    merge_append(_reviews(spark, [("r9", "p1", "v9")]), store, batch_seq=None)
    cur = {r["id"] for r in read_current(spark, store).collect()}
    assert cur == {"r1"}  # seq 3 invisible while seq 2 is in flight
