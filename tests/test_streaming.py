import json
import os

import pytest

from wellmeet_data_pipeline_spark.schemas import REVIEW
from wellmeet_data_pipeline_spark.sinks.merge import read_current
from wellmeet_data_pipeline_spark.streaming.pipeline import run_ingest_pipeline


def _drop(landing, name, rows):
    (landing / name).write_text(json.dumps(rows, ensure_ascii=False))


def test_streaming_ingest_idempotent(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    r = lambda i, p: {"id": f"h{i}", "place_id": p, "author": "a", "content": f"c{i}", "visit_date": "d"}
    _drop(landing, "p1.json", [r(1, "p1"), r(2, "p1"), r(2, "p1")])  # in-file dup
    _drop(landing, "p2.json", [r(3, "p2")])

    progress = run_ingest_pipeline(spark, str(landing), store, ckpt, REVIEW)
    assert read_current(spark, store).count() == 3
    assert sum(p.numInputRows for p in progress) == 4

    # second activation: one new file, one re-delivered id (T4)
    _drop(landing, "p1_again.json", [r(2, "p1"), r(4, "p1")])
    progress = run_ingest_pipeline(spark, str(landing), store, ckpt, REVIEW)
    assert sum(p.numInputRows for p in progress) == 2

    cur = read_current(spark, store)
    assert cur.count() == 4
    assert {row["id"] for row in cur.collect()} == {"h1", "h2", "h3", "h4"}


def test_stateful_dedup_stream(spark, tmp_path):
    from wellmeet_data_pipeline_spark.streaming.stateful import run_stateful_dedup

    landing = tmp_path / "landing2"
    landing.mkdir()
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")

    r = lambda i, p: {"id": f"h{i}", "place_id": p, "author": "a", "content": f"c{i}", "visit_date": "d"}
    _drop(landing, "a.json", [r(1, "p1"), r(1, "p1"), r(2, "p1")])
    run_stateful_dedup(spark, str(landing), out, ckpt, REVIEW)
    assert spark.read.parquet(out).count() == 2

    # second activation: h2 re-delivered — checkpointed state drops it
    _drop(landing, "b.json", [r(2, "p1"), r(3, "p2")])
    run_stateful_dedup(spark, str(landing), out, ckpt, REVIEW)
    got = {row["id"] for row in spark.read.parquet(out).collect()}
    assert got == {"h1", "h2", "h3"}


def test_windowed_counts_stream(spark, tmp_path):
    from pyspark.sql.types import StructType, StructField, StringType, TimestampType
    from wellmeet_data_pipeline_spark.streaming.pipeline import run_windowed_counts

    schema = StructType(
        [StructField("ts", TimestampType()), StructField("event_type", StringType())]
    )
    landing = tmp_path / "landing3"
    landing.mkdir()
    out = str(tmp_path / "out3")
    ckpt = str(tmp_path / "ckpt3")
    _drop(
        landing,
        "ev.json",
        [
            {"ts": "2024-01-01T00:01:00.000Z", "event_type": "click"},
            {"ts": "2024-01-01T00:02:00.000Z", "event_type": "click"},
            {"ts": "2024-01-01T00:11:00.000Z", "event_type": "view"},
            {"ts": "2024-01-01T09:00:00.000Z", "event_type": "late-watermark-advancer"},
        ],
    )
    run_windowed_counts(spark, str(landing), out, ckpt, schema, minutes=10)
    rows = {(r["window_start"], r["event_type"]): r["n_events"] for r in spark.read.parquet(out).collect()}
    assert rows[("2024-01-01 00:00:00", "click")] == 2
    assert rows[("2024-01-01 00:10:00", "view")] == 1

    # second activation: the watermark (09:00 - 30m) is restored from the
    # checkpoint, so a planted 00:03 click is late; it is dropped, and the
    # progress reports the drop
    _drop(
        landing,
        "ev2.json",
        [
            {"ts": "2024-01-01T00:03:00.000Z", "event_type": "click"},
            {"ts": "2024-01-01T10:00:00.000Z", "event_type": "late-watermark-advancer"},
        ],
    )
    progress = run_windowed_counts(spark, str(landing), out, ckpt, schema, minutes=10)
    dropped = sum(op.numRowsDroppedByWatermark for p in progress for op in p.stateOperators)
    assert dropped == 1
    clicks = [
        r["n_events"]
        for r in spark.read.parquet(out).collect()
        if (r["window_start"], r["event_type"]) == ("2024-01-01 00:00:00", "click")
    ]
    assert clicks == [2]


def test_drain_raises_when_a_batch_fails(spark, tmp_path):
    """A failing foreachBatch callback surfaces from drain as
    StreamingQueryException, never as a silent empty progress."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream

    landing = tmp_path / "fail_landing"
    landing.mkdir()
    _drop(landing, "a.json", [{"id": "h1", "place_id": "p1"}])

    def boom(batch_df, batch_id):
        raise RuntimeError("planted batch failure")

    stream = landing_stream(spark, str(landing), REVIEW)
    with pytest.raises(StreamingQueryException, match="planted batch failure"):
        drain(stream.writeStream.foreachBatch(boom), str(tmp_path / "fail_ckpt"))


_HELPER_CASES = [
    "unseen_missing_store",
    "unseen_zero_part_store",
    "unseen_empty_claimed_batches",
    "unseen_one_key",
    "unseen_compound_key",
    "read_partials_before_commit",
    "read_partials_first_wins",
]


def _helper_case(spark, store, case):
    """(got, want) for one case of test_partial_store_helpers."""
    from wellmeet_data_pipeline_spark.sinks.merge import merge_append
    from wellmeet_data_pipeline_spark.streaming.pipeline import read_partials, unseen

    frame = spark.createDataFrame([(1, "a"), (1, "b"), (2, "a")], "k long, v string")
    rows = lambda df: None if df is None else sorted(map(tuple, df.collect()))
    if case == "unseen_zero_part_store":
        # an all-filtered first batch can commit _SUCCESS and no part file
        os.makedirs(store)
        open(os.path.join(store, "_SUCCESS"), "w").close()
    if case == "unseen_empty_claimed_batches":
        for _ in range(2):
            merge_append(frame.limit(0), store, partition_col=None, batch_seq=None)
    if case in ("unseen_missing_store", "unseen_zero_part_store", "unseen_empty_claimed_batches"):
        scheduler = spark.sparkContext._jsc.sc().dagScheduler()
        jobs = scheduler.nextJobId()
        got = unseen(spark, frame, store, ["k", "v"]) is frame
        return (got, scheduler.nextJobId() - jobs), (True, 0)
    stored = spark.createDataFrame([(1, "a", 9)], "k long, v string, extra int")
    if case == "unseen_one_key":
        merge_append(stored, store, partition_col=None, batch_seq=0)
        return rows(unseen(spark, frame, store, "k")), [(2, "a")]
    if case == "unseen_compound_key":
        merge_append(stored, store, partition_col=None, batch_seq=0)
        return rows(unseen(spark, frame, store, ["k", "v"])), [(1, "b"), (2, "a")]
    if case == "read_partials_before_commit":
        return read_partials(spark, store, ["k"]), None
    # a replayed batch re-appends its own (key, seq) identity and collapses;
    # the same key's partial from a later batch survives beside it
    partial = spark.createDataFrame([("a", 1), ("b", 5)], "g string, n long")
    merge_append(partial, store, partition_col=None, batch_seq=0)
    merge_append(partial, store, partition_col=None, batch_seq=0)
    merge_append(
        spark.createDataFrame([("a", 2)], "g string, n long"),
        store, partition_col=None, batch_seq=1,
    )
    return rows(read_partials(spark, store, ["g"])), [("a", 1), ("a", 2), ("b", 5)]



@pytest.mark.parametrize("case", _HELPER_CASES)
def test_partial_store_helpers(spark, tmp_path, case):
    """unseen returns the frame itself, with no Spark job, before the
    store's first part file (a missing path, a zero-part directory, only
    empty claimed batches) and anti-joins on one or a compound key after
    it; read_partials is None before the first commit and keeps one row
    per (keys, batch seq) after it."""
    got, want = _helper_case(spark, str(tmp_path / "store"), case)
    assert got == want


def _keyset_case(spark, store, case):
    """(frame, key, want) after building one store of
    test_unseen_matches_first_wins_anti_join."""
    from wellmeet_data_pipeline_spark.sinks.merge import claim_batch_seq, merge_append

    rows = lambda data: spark.createDataFrame(data, "place_id string, id string, v string")
    if case == "repeated_key":
        merge_append(rows([("p1", "a", "v0")]), store, partition_col=None, batch_seq=0)
        merge_append(rows([("p1", "a", "v1"), ("p2", "b", "v1")]), store, partition_col=None,
                     batch_seq=1)
        frame = rows([("p9", "a", "new"), ("p9", "b", "new"), ("p9", "c", "new")])
        return frame, "id", [("p9", "c", "new")]
    if case == "null_key":
        merge_append(rows([("p1", None, "v0"), ("p1", "a", "v0")]), store, partition_col=None,
                     batch_seq=0)
        frame = rows([("p2", None, "new"), ("p2", "a", "new"), ("p2", "b", "new")])
        return frame, "id", [("p2", None, "new"), ("p2", "b", "new")]
    if case == "compound_key":
        # the review store's layout: place_id is a partition key
        merge_append(rows([("p1", "a", "v0"), ("p2", "b", "v0")]), store, batch_seq=0)
        merge_append(rows([("p1", "a", "v1")]), store, batch_seq=1)
        frame = rows([("p1", "a", "new"), ("p1", "b", "new"), ("p2", "a", "new"),
                      ("p2", "b", "new")])
        return frame, ["place_id", "id"], [("p1", "b", "new"), ("p2", "a", "new")]
    # seq 0 is claimed by a live writer and not committed, so the pin
    # stays below seq 1's committed batch: its keys are not stored yet
    assert claim_batch_seq(store) == 0
    assert merge_append(rows([("p1", "a", "v1")]), store, partition_col=None,
                        batch_seq=None) == 1
    frame = rows([("p1", "a", "new"), ("p1", "b", "new")])
    return frame, "id", [("p1", "a", "new"), ("p1", "b", "new")]


@pytest.mark.parametrize(
    "case", ["repeated_key", "null_key", "compound_key", "uncommitted_claim_below_committed"]
)
def test_unseen_matches_first_wins_anti_join(spark, tmp_path, case):
    """unseen anti-joins against the store's committed key set and
    returns exactly the rows the anti-join against read_current's
    first-wins view returns: a key repeated across batches, a NULL key
    (never matched), a compound key over a partition column, and a
    committed batch above the pin (invisible to both).  Its plan holds no
    window; the view's does."""
    from wellmeet_data_pipeline_spark.sinks.merge import read_current
    from wellmeet_data_pipeline_spark.sources.ingest import incremental_ingest
    from wellmeet_data_pipeline_spark.streaming.pipeline import unseen

    store = str(tmp_path / "store")
    frame, key, want = _keyset_case(spark, store, case)
    got = unseen(spark, frame, store, key)
    ref = incremental_ingest(frame, read_current(spark, store, id_col=key), key)
    rows = lambda df: sorted(map(tuple, df.select(*frame.columns).collect()), key=repr)
    assert rows(got) == rows(ref) == sorted(want, key=repr)
    plan = lambda df: df._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan(got) and "Window" in plan(ref)


def test_merge_append_store_contract_is_structural():
    """The write takes no identity and the batch column is a constant;
    run_partials appends each partial straight through merge_append (no
    emptiness probe of its own: merge_append commits nothing for an
    empty batch), no module in streaming/ spells the batch column or
    appends outside merge_append, and the orchestration keeps no todo
    log of its own (the restaurant store is its fan-out ledger).  There is
    one store format: no second compaction module, no knob no caller
    sets, and one schema-passing reader call with no exception-text
    matching."""
    import glob
    import inspect

    from wellmeet_data_pipeline_spark import sinks
    from wellmeet_data_pipeline_spark.sinks import http, jdbc, merge, shards
    from wellmeet_data_pipeline_spark.streaming import orchestration, pipeline

    params = lambda fn: set(inspect.signature(fn).parameters)
    assert not {"id_col", "batch_col"} & params(merge.merge_append)
    for fn in (merge.read_current, merge.read_current_or_none, merge.compact):
        assert "batch_col" not in params(fn), fn.__name__
    assert not os.path.exists(os.path.join(os.path.dirname(sinks.__file__), "compact.py"))
    knobs = {"stale_claim_seconds", "writer_id", "max_attempts", "target_rows_per_file"}
    for mod in (http, jdbc, merge, shards):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ == mod.__name__:
                assert not knobs & params(fn), f"{mod.__name__}.{name}"
    assert "partition_col" not in params(merge.compact)
    merge_src = inspect.getsource(merge)
    assert "AnalysisException" not in merge_src
    assert merge_src.count("spark.read") == 1 and "spark.read.schema(" in merge_src
    assert not hasattr(pipeline, "append_nonempty")

    body = inspect.getsource(pipeline.run_partials)
    assert "merge_append(partial(batch_df)" in body and "isEmpty" not in body
    for path in sorted(glob.glob(os.path.join(os.path.dirname(pipeline.__file__), "*.py"))):
        with open(path) as fh:
            src = fh.read()
        assert '"_batch_seq"' not in src and "'_batch_seq'" not in src, path
        # every streaming store goes through merge_append
        assert '.write.mode("append")' not in src, path
    # the restaurant store is the fan-out ledger: no todo marks, no op
    # column, and a drain that stops on a short round needs no probe
    src = inspect.getsource(orchestration)
    assert "todo" not in src.lower() and "_op" not in src and "isEmpty" not in src


def test_embedding_pipeline_and_near_dups(spark, tmp_path):
    from wellmeet_data_pipeline_spark.streaming.embedding import (
        run_embedding_pipeline,
        store_near_dups,
    )

    landing = tmp_path / "landing4"
    landing.mkdir()
    store = str(tmp_path / "emb_store")
    ckpt = str(tmp_path / "ckpt4")

    r = lambda i, content: {"id": f"h{i}", "place_id": "p", "author": "a", "content": content, "visit_date": "d"}
    _drop(landing, "a.json", [r(1, "great food"), r(2, "terrible wait")])
    run_embedding_pipeline(spark, str(landing), store, ckpt, REVIEW)

    # second activation: h3 duplicates h1's content exactly -> embeddings
    # identical (deterministic encoder) -> cosine 1.0 across batches
    _drop(landing, "b.json", [r(3, "great food"), r(4, "fine")])
    run_embedding_pipeline(spark, str(landing), store, ckpt, REVIEW)

    from wellmeet_data_pipeline_spark.sinks.merge import read_current

    cur = read_current(spark, store)
    assert cur.count() == 4
    assert dict(cur.select("id").groupBy().count().collect()[0].asDict())  # smoke

    pairs = {(p["id_a"], p["id_b"]): p["cosine_sim"] for p in store_near_dups(spark, store).collect()}
    assert pairs == {("h1", "h3"): 1.0}


def test_full_orchestration_dag(spark, tmp_path):
    from wellmeet_data_pipeline_spark.streaming.orchestration import run_orchestration

    landing = tmp_path / "rest_landing"
    landing.mkdir()
    rest_store = str(tmp_path / "rest_store")
    rev_store = str(tmp_path / "rev_store")
    ckpt = str(tmp_path / "ckpt_orch")

    def rest(pid, name):
        return {
            "place_id": pid, "name": name, "thumbnail_url": "", "category": "한식",
            "page": 1, "origin_address": "서울특별시 마포구 마포대로 109",
            "address": "서울특별시 마포구 마포대로 109", "latitude": None, "longitude": None,
        }

    def make_review_fetcher():
        def fetch(place_id, page):
            return [
                {"author": "a", "content": f"review {i} of {place_id}", "visit_date": "d", "place_id": place_id}
                for i in range(2)
            ]
        return fetch

    backlog = str(tmp_path / "backlog")
    _drop(landing, "r1.json", [rest("p1", "집밥"), rest(None, "invalid"), rest("p2", "국수")])
    run_orchestration(spark, str(landing), rest_store, rev_store, ckpt, make_review_fetcher(),
                      backlog_store=backlog)

    from wellmeet_data_pipeline_spark.sinks.merge import read_current

    rests = read_current(spark, rest_store, id_col="place_id")
    assert {r["place_id"] for r in rests.collect()} == {"p1", "p2"}
    assert rests.filter("latitude = 0.0").count() == 2  # P7 defaults applied
    revs = read_current(spark, rev_store)
    assert revs.count() == 4  # 2 restaurants x 2 reviews

    # second activation: p2 re-landed (no new reviews crawled), p3 new
    _drop(landing, "r2.json", [rest("p2", "국수"), rest("p3", "곱창")])
    run_orchestration(spark, str(landing), rest_store, rev_store, ckpt, make_review_fetcher(),
                      backlog_store=backlog)
    assert read_current(spark, rest_store, id_col="place_id").count() == 3
    assert read_current(spark, rev_store).count() == 6  # only p3's crawl ran


def test_orchestration_crash_before_review_ingest_loses_no_reviews(spark, tmp_path):
    """A crash after the restaurant-store commit but before the review
    ingest loses no review crawl, capped or not: a stored place with no
    done mark is pending, so the restarted activation (whose anti-join
    finds every place already stored) still fetches them."""
    from pyspark.errors import StreamingQueryException

    from wellmeet_data_pipeline_spark.sinks.merge import read_current, read_current_or_none
    from wellmeet_data_pipeline_spark.streaming.orchestration import run_orchestration

    def rest(pid, name):
        return {
            "place_id": pid, "name": name, "thumbnail_url": "", "category": "한식",
            "page": 1, "origin_address": "서울특별시 마포구 마포대로 109",
            "address": "서울특별시 마포구 마포대로 109", "latitude": None, "longitude": None,
        }

    failing = {"on": True}

    def fetch(place_id, page):
        if failing["on"]:
            raise RuntimeError("fetcher down")
        return [
            {"author": "a", "content": f"review {i} of {place_id}", "visit_date": "d",
             "place_id": place_id}
            for i in range(2)
        ]

    for cap in (None, 1):
        root = tmp_path / f"cap_{cap}"
        landing = root / "landing"
        landing.mkdir(parents=True)
        rest_store, rev_store = str(root / "rest"), str(root / "rev")
        ckpt, backlog = str(root / "ckpt"), str(root / "backlog")
        _drop(landing, "r1.json", [rest("p1", "집밥"), rest("p2", "국수")])

        def activate():
            return run_orchestration(
                spark, str(landing), rest_store, rev_store, ckpt, fetch,
                backlog_store=backlog, max_keys_per_batch=cap,
            )

        failing["on"] = True
        with pytest.raises(StreamingQueryException):
            activate()
        assert read_current(spark, rest_store, id_col="place_id").count() == 2
        assert read_current_or_none(spark, rev_store) is None

        failing["on"] = False
        activate()
        revs = read_current(spark, rev_store, id_col=["place_id", "id"])
        assert revs.count() == 4, cap
        assert {r["place_id"] for r in revs.collect()} == {"p1", "p2"}


def test_replay_commits_no_empty_part_file(spark, tmp_path):
    """Replaying a landed file under a fresh checkpoint writes rows that
    are all anti-joined away: neither the lexical index nor ExactSubstr's
    two stores may gain a part file for them."""
    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.exactsubstr import run_exactsubstr_dedup
    from wellmeet_data_pipeline_spark.streaming.retrieval import run_lexical_index_pipeline

    landing = tmp_path / "landing"
    landing.mkdir()
    _drop(landing, "b1.json", [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 2, "text": "quick brown fox ran away"},
    ])
    schema = StructType.fromDDL("doc_id long, text string")
    lex = str(tmp_path / "lex")
    grams, out = str(tmp_path / "grams"), str(tmp_path / "out")

    def run(ckpt):
        run_lexical_index_pipeline(spark, str(landing), lex, str(tmp_path / f"lex_{ckpt}"), schema)
        run_exactsubstr_dedup(
            spark, str(landing), grams, out, str(tmp_path / f"xs_{ckpt}"), schema
        )

    def listing():
        return {
            store: sorted(
                os.path.relpath(os.path.join(root, f), store)
                for root, _dirs, files in os.walk(store)
                for f in files
                if f.endswith(".parquet")
            )
            for store in (lex + "/postings", lex + "/doclen", grams, out)
        }

    run("c1")
    before = listing()
    assert all(before.values()), before
    run("c2")
    assert listing() == before


def test_session_window_stream_matches_batch(spark, tmp_path):
    """SURVEY §2.10 T7 streaming twin: F.session_window sessionization
    agrees with the batch gaps-and-islands form on a fixture where no two
    events sit exactly one gap apart (the two formulations differ only on
    that boundary: stream closes at last+gap, batch keeps strictly >)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from wellmeet_data_pipeline_spark.operators.windows import session_window_agg
    from wellmeet_data_pipeline_spark.streaming.pipeline import run_session_windows

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    rows = [
        # u1: two sessions (gap 30m): [00:00, 00:10, 00:25] and [01:10]
        {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "user_id": "u1", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:10:00.000Z", "user_id": "u1", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T00:25:00.000Z", "user_id": "u1", "value": 3.0},
        {"event_id": 4, "ts": "2024-01-01T01:10:00.000Z", "user_id": "u1", "value": 4.0},
        # u2: one session
        {"event_id": 5, "ts": "2024-01-01T00:05:00.000Z", "user_id": "u2", "value": 5.0},
        {"event_id": 6, "ts": "2024-01-01T00:20:00.000Z", "user_id": "u2", "value": 6.0},
        # far-future row advances the watermark so every session closes
        {"event_id": 7, "ts": "2024-01-02T12:00:00.000Z", "user_id": "wm", "value": 0.0},
    ]
    landing = tmp_path / "landing_sess"
    landing.mkdir()
    _drop(landing, "ev.json", rows)
    out = str(tmp_path / "out_sess")
    ckpt = str(tmp_path / "ckpt_sess")
    run_session_windows(spark, str(landing), out, ckpt, schema, gap_minutes=30)

    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["ts"].replace("T", " ").replace(".000Z", ""), r["user_id"], r["value"]) for r in rows],
        "event_id long, ts_s string, user_id string, value double",
    ).selectExpr("event_id", "cast(ts_s as timestamp) as ts", "user_id", "value")
    batch = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in session_window_agg(batch_df, "ts", "user_id", 30).collect()
        # the watermark-advancer's own session can't close in the stream
        # (it holds the max event time), so it stays in state, not output
        if r["user_id"] != "wm"
    }
    assert got == batch
    assert got[("u1", "2024-01-01 00:00:00")] == (3, 6.0)
    assert got[("u1", "2024-01-01 01:10:00")] == (1, 4.0)


def test_stateful_dedup_deterministic_survivor(spark, tmp_path):
    """Within one batch, the survivor per id is the min row under the
    declared tiebreak, not whichever row Arrow delivered first."""
    from wellmeet_data_pipeline_spark.streaming.stateful import run_stateful_dedup

    landing = tmp_path / "landing_det"
    landing.mkdir()
    out = str(tmp_path / "out_det")
    ckpt = str(tmp_path / "ckpt_det")

    rows = [
        {"id": "h1", "place_id": "p", "author": "zeta", "content": "later", "visit_date": "d"},
        {"id": "h1", "place_id": "p", "author": "alpha", "content": "first", "visit_date": "d"},
        {"id": "h1", "place_id": "p", "author": "mid", "content": "middle", "visit_date": "d"},
    ]
    _drop(landing, "a.json", rows)
    run_stateful_dedup(spark, str(landing), out, ckpt, REVIEW)
    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    # min under (place_id, author, content, visit_date) -> author 'alpha'
    assert got[0]["author"] == "alpha"


def test_corpus_store_compaction_preserves_view(spark, tmp_path):
    """After several micro-batches fragment the store, the maintenance
    compaction must (1) shrink the file count (AQE coalesces the view's
    exchange into one output file here) and (2) leave the dedup-on-read
    view byte-identical."""
    import glob
    import json

    from wellmeet_data_pipeline_spark.sinks.merge import compact
    from wellmeet_data_pipeline_spark.streaming.corpus import (
        read_corpus,
        run_corpus_pipeline,
    )
    from pyspark.sql.types import StructType

    landing = tmp_path / "c_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "c_store"), str(tmp_path / "c_ckpt")
    schema = StructType.fromDDL("doc_id long, text string")
    bench = spark.createDataFrame([(900, "benchmark only")], "doc_id long, text string")

    for b in range(3):
        rows = [
            {"doc_id": b * 10 + i, "text": f"document number {b * 10 + i} has several distinct words"}
            for i in range(4)
        ]
        (landing / f"b{b}.json").write_text(json.dumps(rows))
        run_corpus_pipeline(spark, str(landing), store, ckpt, schema, bench)

    before = {(r["doc_id"], r["text"]) for r in read_corpus(spark, store).collect()}
    assert len(before) == 12
    # one commit-unit directory per batch (r10 staged-rename protocol)
    assert len(glob.glob(store + "/batch_commit=*/*.parquet")) >= 3

    compacted = str(tmp_path / "c_store_compacted")
    compact(spark, store, compacted, id_col="fingerprint")
    assert len(glob.glob(compacted + "/**/*.parquet", recursive=True)) == 1
    after = {(r["doc_id"], r["text"]) for r in read_corpus(spark, compacted).collect()}
    assert after == before


def test_rag_index_pipeline_chunks_and_embeds(spark, tmp_path):
    """Landing docs -> chunk -> embed -> store; re-delivery of the same doc
    must not duplicate chunks (idempotent on (doc_id, chunk_no))."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.sinks.merge import read_current
    from wellmeet_data_pipeline_spark.streaming.embedding import run_rag_index_pipeline

    landing = tmp_path / "rag_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "rag_store"), str(tmp_path / "rag_ckpt")
    schema = StructType.fromDDL("doc_id long, text string")

    text10 = " ".join(f"w{i}" for i in range(10))  # 5 chunks at w=4, s=2
    (landing / "b1.json").write_text(json.dumps([{"doc_id": 1, "text": text10}]))
    run_rag_index_pipeline(spark, str(landing), store, ckpt, schema,
                           window=4, stride=2, dim=8)

    cur = read_current(spark, store, id_col="chunk_key").collect()
    assert len(cur) == 5
    by_chunk = {r["chunk_no"]: r for r in cur}
    assert by_chunk[0]["chunk_text"] == "w0 w1 w2 w3"
    assert all(len(r["embedding"]) == 8 for r in cur)

    # redeliver doc 1 plus a new doc: old chunks must not duplicate
    (landing / "b2.json").write_text(
        json.dumps([{"doc_id": 1, "text": text10}, {"doc_id": 2, "text": "a b c"}])
    )
    run_rag_index_pipeline(spark, str(landing), store, ckpt, schema,
                           window=4, stride=2, dim=8)
    cur2 = read_current(spark, store, id_col="chunk_key")
    assert cur2.count() == 5 + 2  # doc2: starts 0 and 2
    assert cur2.filter("doc_id = 1").count() == 5


def test_stream_stream_range_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join produces the same pairs as the batch
    range_join_within on the same fixture."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from wellmeet_data_pipeline_spark.operators.joins import range_join_within
    from wellmeet_data_pipeline_spark.streaming.pipeline import (
        run_stream_stream_range_join,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )
    clicks = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "user_id": 7},
        {"event_id": 2, "ts": "2024-01-01T02:00:00.000Z", "user_id": 7},
    ]
    purchases = [
        {"event_id": 10, "ts": "2024-01-01T00:20:00.000Z", "user_id": 7},  # within 30m of click 1
        {"event_id": 11, "ts": "2024-01-01T01:00:00.000Z", "user_id": 7},  # matches nothing
        {"event_id": 12, "ts": "2024-01-01T02:10:00.000Z", "user_id": 7},  # within 30m of click 2
        {"event_id": 13, "ts": "2024-01-01T09:00:00.000Z", "user_id": 99}, # watermark advancer
    ]
    lpath, rpath = tmp_path / "ss_left", tmp_path / "ss_right"
    lpath.mkdir(); rpath.mkdir()
    _drop(lpath, "l.json", clicks)
    _drop(rpath, "r.json", purchases)

    out, ckpt = str(tmp_path / "ss_out"), str(tmp_path / "ss_ckpt")
    run_stream_stream_range_join(spark, str(lpath), str(rpath), out, ckpt, schema)
    got = {
        (r["l_event_id"], r["r_event_id"], r["delta_us"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, 10, 1200000000), (2, 12, 600000000)}

    # batch twin on identical data
    to_ts = lambda rows: spark.createDataFrame(
        [(r["event_id"], r["ts"].replace("T", " ").replace("Z", ""), r["user_id"]) for r in rows],
        "event_id long, ts_s string, user_id long",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id")
    batch = range_join_within(to_ts(clicks), to_ts(purchases), key="user_id", ts_col="ts", window_seconds=1800)
    got_batch = {
        (r["l_event_id"], r["r_event_id"], r["delta_us"]) for r in batch.collect()
    }
    assert got_batch == got


def test_debounce_stream_kept_anchored(spark, tmp_path):
    """True cooldown: in a chain of sub-cooldown events only the FIRST
    survives, and an event past the cooldown from the last KEPT (not last
    seen) is re-admitted; state persists across activations."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream
    from wellmeet_data_pipeline_spark.streaming.stateful import debounce_stream

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", StringType()),
        ]
    )
    landing = tmp_path / "db_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "db_out"), str(tmp_path / "db_ckpt")

    def run():
        stream = landing_stream(spark, str(landing), schema)
        debounced = debounce_stream(stream, ["user_id"], "ts", cooldown_seconds=300)
        drain(
            debounced.writeStream.format("parquet").option("path", out).outputMode("append"),
            ckpt,
        )

    # chain at 0, 2, 4, 6 minutes: lag-gap thinning would keep 0 only
    # (every successive gap < 5m); kept-anchored keeps 0 AND 6m (>= 5m
    # after the kept 0)
    _drop(landing, "b1.json", [
        {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "user_id": "u1"},
        {"event_id": 2, "ts": "2024-01-01T00:02:00.000Z", "user_id": "u1"},
        {"event_id": 3, "ts": "2024-01-01T00:04:00.000Z", "user_id": "u1"},
        {"event_id": 4, "ts": "2024-01-01T00:06:00.000Z", "user_id": "u1"},
    ])
    run()
    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 4]

    # next activation: 8m is < 5m after kept 6m -> dropped; 12m kept
    _drop(landing, "b2.json", [
        {"event_id": 5, "ts": "2024-01-01T00:08:00.000Z", "user_id": "u1"},
        {"event_id": 6, "ts": "2024-01-01T00:12:00.000Z", "user_id": "u1"},
    ])
    run()
    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 4, 6]


def test_streaming_corpus_drops_docs_already_in_reference_index(spark, tmp_path):
    """Cross-corpus gate (VERDICT r3 #6): micro-batches probe a persisted
    reference-corpus LSH index and drop exact AND near-dup copies of the
    training set before they reach the store; replayed deliveries stay
    dropped; unrelated docs (including new-vs-new dups) pass through to
    the normal in-batch/own-store handling."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.corpus import (
        build_reference_index,
        read_corpus,
        run_corpus_pipeline,
    )

    landing = tmp_path / "ref_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "ref_store"), str(tmp_path / "ref_ckpt")
    ref_idx = str(tmp_path / "ref_index")
    schema = StructType.fromDDL("doc_id long, text string")
    bench = spark.createDataFrame([(900, "benchmark only")], "doc_id long, text string")

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string",
    )
    build_reference_index(ref, ref_idx)

    rows = [
        # exact copy of the reference doc (different id)
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"},
        # near-dup of the reference doc (one word appended; this text
        # deterministically band-collides with the reference at the
        # default 16-hash/4-band parameters — the hash family is seeded)
        {"doc_id": 2, "text": "the quick brown fox jumps over the lazy dog again and again today"},
        # unrelated
        {"doc_id": 3, "text": "completely different words about spark query engines at scale"},
    ]
    (landing / "b1.json").write_text(json.dumps(rows))
    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, bench, ref_index_path=ref_idx
    )
    kept = {r["doc_id"] for r in read_corpus(spark, store).collect()}
    assert 3 in kept and 1 not in kept
    # the near-dup must collide at this banding (verified by the batch twin)
    assert 2 not in kept

    # replay: the same docs re-delivered in a new file stay dropped
    (landing / "b2.json").write_text(json.dumps(rows))
    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, bench, ref_index_path=ref_idx
    )
    kept2 = {r["doc_id"] for r in read_corpus(spark, store).collect()}
    assert kept2 == kept


def test_streaming_corpus_ref_index_composes_with_near_dup_store(spark, tmp_path):
    """ref_index_path and near_dup=True together: reference hits drop, and
    the surviving docs still index into / dedup against the OWN sig store
    across batches."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.corpus import (
        build_reference_index,
        read_corpus,
        run_corpus_pipeline,
    )

    landing = tmp_path / "rn_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "rn_store"), str(tmp_path / "rn_ckpt")
    sig_store, ref_idx = str(tmp_path / "rn_sigs"), str(tmp_path / "rn_ref_index")
    schema = StructType.fromDDL("doc_id long, text string")
    bench = spark.createDataFrame([(900, "benchmark only")], "doc_id long, text string")

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string",
    )
    build_reference_index(ref, ref_idx)

    (landing / "b1.json").write_text(json.dumps([
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"},
        {"doc_id": 3, "text": "completely different words about spark query engines at scale"},
    ]))
    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, bench,
        near_dup=True, sig_store_path=sig_store, ref_index_path=ref_idx,
    )
    assert {r["doc_id"] for r in read_corpus(spark, store).collect()} == {3}

    # batch 2: near-dup of doc 3 (own-store LSH hit; text chosen to
    # deterministically band-collide at the default parameters) +
    # unrelated new doc
    (landing / "b2.json").write_text(json.dumps([
        {"doc_id": 4, "text": "completely different words about spark query engines at scale today"},
        {"doc_id": 5, "text": "unrelated sentences mentioning neither corpus nor any reference"},
    ]))
    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, bench,
        near_dup=True, sig_store_path=sig_store, ref_index_path=ref_idx,
    )
    assert {r["doc_id"] for r in read_corpus(spark, store).collect()} == {3, 5}


def test_orchestration_fanout_capped_and_fully_drained(spark, tmp_path):
    """VERDICT r3 #7: with max_keys_per_batch set, a backfill-sized batch
    never materializes more than the cap of keys driver-side; overflow
    stays pending (stored, no done mark) and every key's reviews are
    eventually ingested (post-stream drain)."""
    import json

    from wellmeet_data_pipeline_spark.sinks.merge import read_current
    from wellmeet_data_pipeline_spark.streaming.orchestration import run_orchestration

    landing = tmp_path / "cap_landing"
    landing.mkdir()
    rest_store = str(tmp_path / "cap_rest")
    rev_store = str(tmp_path / "cap_rev")
    backlog = str(tmp_path / "cap_backlog")
    ckpt = str(tmp_path / "cap_ckpt")

    def rest(pid):
        return {
            "place_id": pid, "name": f"n{pid}", "thumbnail_url": "", "category": "한식",
            "page": 1, "origin_address": "서울특별시 마포구 마포대로 109",
            "address": "서울특별시 마포구 마포대로 109", "latitude": None, "longitude": None,
        }

    seen_batches = []

    def fetch(place_id, page):
        return [{"author": "a", "content": f"review of {place_id}", "visit_date": "d",
                 "place_id": place_id}]

    # wrap ingest_reviews to record per-call key-list sizes (the bounded
    # driver materialization under test)
    import wellmeet_data_pipeline_spark.streaming.orchestration as orch

    real_ingest = orch.ingest_reviews

    def spy_ingest(spark_, place_ids, *a, **kw):
        seen_batches.append(len(place_ids))
        return real_ingest(spark_, place_ids, *a, **kw)

    orch.ingest_reviews = spy_ingest
    try:
        _drop(landing, "backfill.json", [rest(f"p{i:02d}") for i in range(8)])
        run_orchestration(
            spark, str(landing), rest_store, rev_store, ckpt, fetch,
            max_keys_per_batch=3, backlog_store=backlog,
        )
    finally:
        orch.ingest_reviews = real_ingest

    assert seen_batches and max(seen_batches) <= 3
    revs = read_current(spark, rev_store)
    assert revs.count() == 8  # every key's reviews eventually ingested
    assert {r["place_id"] for r in revs.collect()} == {f"p{i:02d}" for i in range(8)}
    # backlog fully drained: every stored place has a done mark
    assert _pending(spark, rest_store, backlog) == set()


def _pending(spark, rest_store, done_store):
    """Stored places with no done mark: the orchestration's pending set."""
    from wellmeet_data_pipeline_spark.streaming.pipeline import unseen

    stored = read_current(spark, rest_store, "place_id").select("place_id")
    return {r["place_id"] for r in unseen(spark, stored, done_store, "place_id").collect()}


def test_done_store_compaction_preserves_pending(spark, tmp_path):
    """The done store is an ordinary merge-append store: sinks.merge.compact
    rewrites it to a NEW path and pending is unchanged, a replayed
    duplicate done mark included.  The compacted store then serves as the
    backlog store of an activation whose rounds append to it: no place
    already done is fetched again."""
    from wellmeet_data_pipeline_spark.catalog import local_frame
    from wellmeet_data_pipeline_spark.sinks.merge import compact, merge_append
    from wellmeet_data_pipeline_spark.streaming.orchestration import run_orchestration

    rest_store = str(tmp_path / "rest")
    done = str(tmp_path / "done")
    out = str(tmp_path / "done_compacted")
    marks = lambda ids: local_frame(spark, [(k,) for k in ids], "place_id string")
    merge_append(marks([f"p{i}" for i in range(6)]), rest_store, partition_col=None, batch_seq=0)
    merge_append(marks(["p0", "p1", "p2"]), done, partition_col=None, batch_seq=0)
    # a replayed round re-appends its done mark under a later seq
    merge_append(marks(["p1"]), done, partition_col=None, batch_seq=1)

    assert _pending(spark, rest_store, done) == {"p3", "p4", "p5"}
    compact(spark, done, out, id_col="place_id")
    assert _pending(spark, rest_store, out) == {"p3", "p4", "p5"}
    assert spark.read.parquet(out).count() == 3  # the duplicate mark collapsed

    landing = tmp_path / "landing"
    landing.mkdir()
    rev_store = str(tmp_path / "rev")
    # a cap of 1 makes three rounds, each reading the done marks the
    # previous round appended to the compacted store
    run_orchestration(spark, str(landing), rest_store, rev_store, str(tmp_path / "ckpt"),
                      _review_fetcher(), backlog_store=out, max_keys_per_batch=1)
    revs = read_current(spark, rev_store, id_col=["place_id", "id"]).collect()
    assert sorted(r["place_id"] for r in revs) == ["p3", "p3", "p4", "p4", "p5", "p5"]
    assert _pending(spark, rest_store, out) == set()


def _rest(pid):
    return {
        "place_id": pid, "name": f"n{pid}", "thumbnail_url": "", "category": "한식",
        "page": 1, "origin_address": "서울특별시 마포구 마포대로 109",
        "address": "서울특별시 마포구 마포대로 109", "latitude": None, "longitude": None,
    }


def _review_fetcher():
    # built per call: a nested function ships to the Python workers by
    # value, while a module-level one would need this test module there
    def fetch(place_id, page):
        return [{"author": "a", "content": f"review {i} of {place_id}", "visit_date": "d",
                 "place_id": place_id} for i in range(2)]

    return fetch


def test_orchestration_fans_out_stored_places_without_done_mark(spark, tmp_path):
    """The restaurant store is the list of review obligations: places
    stored by discover_restaurants (no done mark) get their reviews on
    the next activation, as every saved restaurant does in the reference
    (submit-aws-batch-lambda/lambda_function.py:165-183)."""
    from wellmeet_data_pipeline_spark.pipelines import discover_restaurants
    from wellmeet_data_pipeline_spark.streaming.orchestration import run_orchestration

    landing = tmp_path / "landing"
    landing.mkdir()
    rest_store, rev_store = str(tmp_path / "rest"), str(tmp_path / "rev")
    ckpt, backlog = str(tmp_path / "ckpt"), str(tmp_path / "done")

    def search(query, page):
        return [{"place_id": f"d{page}", "name": "n", "thumbnail_url": "", "category": "c",
                 "page": page, "origin_address": "서울특별시 마포구 마포대로 109"}]

    discover_restaurants(spark, ["q"], search, rest_store, pages=2)
    _drop(landing, "r1.json", [_rest("p1")])
    run_orchestration(spark, str(landing), rest_store, rev_store, ckpt, _review_fetcher(),
                      backlog_store=backlog, max_keys_per_batch=2)
    revs = read_current(spark, rev_store, id_col=["place_id", "id"])
    assert sorted(r["place_id"] for r in revs.collect()) == ["d1", "d1", "d2", "d2", "p1", "p1"]
    assert _pending(spark, rest_store, backlog) == set()

    # no new landing file, so no micro-batch runs: the activation still
    # fetches a place discover_restaurants stored since the last one
    discover_restaurants(spark, ["q"], search, rest_store, pages=3, batch_seq=1)
    run_orchestration(spark, str(landing), rest_store, rev_store, ckpt, _review_fetcher(),
                      backlog_store=backlog, max_keys_per_batch=2)
    revs = read_current(spark, rev_store, id_col=["place_id", "id"])
    assert sorted(r["place_id"] for r in revs.collect()) == [
        "d1", "d1", "d2", "d2", "d3", "d3", "p1", "p1"]
    assert _pending(spark, rest_store, backlog) == set()


@pytest.mark.parametrize("new_places, cap, want_rounds", [
    (2, 16, [2]),  # steady: the stream's short round is the only one
    (5, 2, [2, 2, 1]),  # the stream's full round is drained on to a short one
    (2, 2, [2, 0]),  # a full round is followed by one that finds nothing
    (5, None, [5]),  # no cap: one round takes every pending place
])
def test_orchestration_stream_round_counts_as_a_drain_round(
    spark, tmp_path, monkeypatch, new_places, cap, want_rounds
):
    """drain_backlog runs after the stream only when the stream's last
    fan-out round took a full cap: a steady activation whose round is
    short runs exactly one round, and one with more new places than the
    cap still fetches every place."""
    import wellmeet_data_pipeline_spark.streaming.orchestration as orch

    landing = tmp_path / "landing"
    landing.mkdir()
    rest_store, rev_store = str(tmp_path / "rest"), str(tmp_path / "rev")
    ckpt, backlog = str(tmp_path / "ckpt"), str(tmp_path / "done")

    def activate():
        orch.run_orchestration(spark, str(landing), rest_store, rev_store, ckpt,
                               _review_fetcher(), backlog_store=backlog, max_keys_per_batch=cap)

    _drop(landing, "r0.json", [_rest("p0")])
    activate()  # the stores exist from here on: the next activation is steady
    rounds = []
    real_fan_out = orch._fan_out

    def spy_fan_out(*a, **kw):
        rounds.append(real_fan_out(*a, **kw))
        return rounds[-1]

    monkeypatch.setattr(orch, "_fan_out", spy_fan_out)
    places = [f"p1{i}" for i in range(new_places)]
    _drop(landing, "r1.json", [_rest(p) for p in places])
    activate()
    assert rounds == want_rounds
    revs = read_current(spark, rev_store, id_col=["place_id", "id"]).collect()
    assert sorted(r["place_id"] for r in revs) == sorted(["p0", *places] * 2)
    assert _pending(spark, rest_store, backlog) == set()


def test_overflowing_activations_commit_each_review_batch_once(spark, tmp_path):
    """Drain rounds of two activations that each overflow the cap never
    share a review batch directory: a shared one would be filled by two
    write jobs through merge_append's per-file fallback, losing the
    batch's all-or-nothing visibility."""
    import re

    from wellmeet_data_pipeline_spark.streaming.orchestration import run_orchestration

    landing = tmp_path / "landing"
    landing.mkdir()
    rest_store, rev_store = str(tmp_path / "rest"), str(tmp_path / "rev")
    ckpt, backlog = str(tmp_path / "ckpt"), str(tmp_path / "done")
    for act in range(2):
        _drop(landing, f"r{act}.json", [_rest(f"p{act}a"), _rest(f"p{act}b")])
        run_orchestration(spark, str(landing), rest_store, rev_store, ckpt, _review_fetcher(),
                          backlog_store=backlog, max_keys_per_batch=1)

    jobs_per_batch = {}
    for root, _dirs, files in os.walk(rev_store):
        batch = re.search(r"batch_commit=\d+", root)
        for f in files:
            job = re.match(r"part-\d+-([0-9a-f-]{36})", f)
            if batch and job:
                jobs_per_batch.setdefault(batch.group(0), set()).add(job.group(1))
    assert len(jobs_per_batch) == 4, jobs_per_batch  # one round per place
    assert all(len(jobs) == 1 for jobs in jobs_per_batch.values()), jobs_per_batch
    assert read_current(spark, rev_store, id_col=["place_id", "id"]).count() == 8


def test_steady_orchestration_activation_job_budget(spark, tmp_path):
    """One steady activation — 4 one-restaurant files, cap 16 — runs at
    most 10 Spark jobs: the stream's short fan-out round is its only one,
    and every store existence test reads a key set, not a first-wins
    view.  Counted with the DAGScheduler's job counter: job groups miss
    the jobs the stream's own thread launches."""
    from wellmeet_data_pipeline_spark.streaming.orchestration import run_orchestration

    landing = tmp_path / "landing"
    landing.mkdir()
    stores = [str(tmp_path / d) for d in ("rest", "rev", "ckpt")]
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    for act in range(3):
        for i in range(4):
            _drop(landing, f"r{act}_{i}.json", [_rest(f"p{act}{i}")])
        jobs_before = scheduler.nextJobId()
        progress = run_orchestration(spark, str(landing), *stores, _review_fetcher(),
                                     backlog_store=str(tmp_path / "done"), max_keys_per_batch=16)
        jobs = scheduler.nextJobId() - jobs_before
    assert sum(p.numInputRows for p in progress) == 4  # one scan of the batch
    assert jobs <= 10, jobs


def test_streaming_corpus_dsir_gate_drops_off_distribution_docs(spark, tmp_path):
    """A persisted-model DSIR gate in the streaming corpus pipeline keeps
    target-like docs and drops off-distribution ones per micro-batch."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.operators.scoring import build_dsir_model
    from wellmeet_data_pipeline_spark.streaming.corpus import (
        read_corpus,
        run_corpus_pipeline,
    )

    landing = tmp_path / "dsir_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "dsir_store"), str(tmp_path / "dsir_ckpt")
    schema = StructType.fromDDL("doc_id long, text string")
    bench = spark.createDataFrame([(900, "benchmark only")], "doc_id long, text string")

    target = spark.createDataFrame(
        [(100, "encyclopedia article about physics chemistry and biology research"),
         (101, "detailed encyclopedia article covering physics research topics")],
        "doc_id long, text string",
    )
    raw = target.unionByName(spark.createDataFrame(
        [(200, "buy cheap deals now click here amazing offer"),
         (201, "free spam offer click now buy cheap deals")],
        "doc_id long, text string",
    ))
    model = build_dsir_model(target, raw).localCheckpoint(eager=True)

    (landing / "b1.json").write_text(json.dumps([
        {"doc_id": 1, "text": "encyclopedia article about physics research"},
        {"doc_id": 2, "text": "buy cheap deals click now amazing offer"},
    ]))
    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, bench, dsir_model=model
    )
    assert {r["doc_id"] for r in read_corpus(spark, store).collect()} == {1}


def test_streaming_corpus_bloom_gate_decontaminates_without_benchmark(spark, tmp_path):
    """Bloom decontamination gate: micro-batches probe the persisted
    benchmark bitmap (the benchmark itself is never read per batch) and
    drop every doc sharing a shingle with it; clean docs pass; replays
    stay idempotent."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.corpus import (
        build_benchmark_bloom,
        read_corpus,
        run_corpus_pipeline,
    )

    landing = tmp_path / "bloom_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "bloom_store"), str(tmp_path / "bloom_ckpt")
    bloom_path = str(tmp_path / "bench_bloom")
    schema = StructType.fromDDL("doc_id long, text string")
    bench = spark.createDataFrame(
        [(900, "held out benchmark question about prime factorization")],
        "doc_id long, text string",
    )
    build_benchmark_bloom(bench, bloom_path)

    rows = [
        # contains a benchmark 3-gram -> must be dropped by the gate
        {"doc_id": 1, "text": "an exam leak with the benchmark question about primes"},
        {"doc_id": 2, "text": "clean training text about distributed query planning"},
        {"doc_id": 3, "text": "another clean document with its own unrelated words"},
    ]
    (landing / "b1.json").write_text(json.dumps(rows))
    # benchmark arg is still required but must NOT be consulted on the
    # bloom path: pass an empty frame to prove the gate runs off the bitmap
    empty_bench = bench.filter("doc_id < 0")
    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, empty_bench, bloom_path=bloom_path
    )
    kept = {r["doc_id"] for r in read_corpus(spark, store).collect()}
    assert kept == {2, 3}

    # replay idempotency
    (landing / "b2.json").write_text(json.dumps(rows))
    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, empty_bench, bloom_path=bloom_path
    )
    kept2 = {r["doc_id"] for r in read_corpus(spark, store).collect()}
    assert kept2 == {2, 3}


def test_streaming_heavy_hitters_incremental_and_replay_safe(spark, tmp_path):
    from wellmeet_data_pipeline_spark.sinks.merge import merge_append
    from wellmeet_data_pipeline_spark.streaming.analytics import (
        current_heavy_hitters,
        run_streaming_key_counts,
    )
    from pyspark.sql.types import StructType, StructField, StringType
    from pyspark.sql import functions as F

    landing = tmp_path / "hh_landing"
    landing.mkdir()
    store = str(tmp_path / "hh_store")
    ckpt = str(tmp_path / "hh_ckpt")
    schema = StructType([StructField("k", StringType())])

    # empty store -> empty frame, not an error
    assert current_heavy_hitters(spark, store, "k", 0.5).count() == 0

    _drop(landing, "a.json", [{"k": "hot"}] * 3 + [{"k": "cold"}])
    run_streaming_key_counts(spark, str(landing), store, ckpt, schema, "k")
    got = {r["k"]: (r["n"], r["share"]) for r in
           current_heavy_hitters(spark, store, "k", 0.5).collect()}
    assert got == {"hot": (3, 0.75)}

    # second activation: new file shifts the distribution
    _drop(landing, "b.json", [{"k": "cold"}] * 4)
    run_streaming_key_counts(spark, str(landing), store, ckpt, schema, "k")
    got = {r["k"]: r["n"] for r in
           current_heavy_hitters(spark, store, "k", 0.5).collect()}
    assert got == {"cold": 5}  # 5 of 8

    # at-least-once replay: the same (key, batch) partial re-appended
    # (foreachBatch contract: same batch_id => same data) must not
    # double-count
    replay = spark.createDataFrame([("cold", 4)], "k string, n long")
    merge_append(replay, store, partition_col=None, batch_seq=1)
    got = {r["k"]: r["n"] for r in
           current_heavy_hitters(spark, store, "k", 0.5).collect()}
    assert got == {"cold": 5}


def test_stream_stream_left_outer_join_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: matched clicks pair with their
    purchase; a click with no purchase inside the window is emitted
    with nulls once the watermark proves no match can still arrive."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from wellmeet_data_pipeline_spark.streaming.pipeline import (
        run_stream_stream_left_outer_join,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )
    clicks = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "user_id": 7},  # matched
        {"event_id": 2, "ts": "2024-01-01T02:00:00.000Z", "user_id": 7},  # abandoned
    ]
    purchases = [
        {"event_id": 10, "ts": "2024-01-01T00:20:00.000Z", "user_id": 7},
        # advances right watermark far past click 2's ts + window + watermark
        {"event_id": 13, "ts": "2024-01-02T12:00:00.000Z", "user_id": 99},
    ]
    lpath, rpath = tmp_path / "lo_left", tmp_path / "lo_right"
    lpath.mkdir(); rpath.mkdir()
    _drop(lpath, "l.json", clicks)
    _drop(rpath, "r.json", purchases)
    # a second left file far in the future advances the LEFT watermark too
    _drop(lpath, "l2.json", [{"event_id": 3, "ts": "2024-01-02T12:00:00.000Z", "user_id": 98}])

    out, ckpt = str(tmp_path / "lo_out"), str(tmp_path / "lo_ckpt")
    run_stream_stream_left_outer_join(spark, str(lpath), str(rpath), out, ckpt, schema)
    # a second activation with one more watermark-advancing file flushes
    # any final-state rows availableNow left pending
    _drop(lpath, "l3.json", [{"event_id": 4, "ts": "2024-01-03T12:00:00.000Z", "user_id": 98}])
    _drop(rpath, "r3.json", [{"event_id": 14, "ts": "2024-01-03T12:00:00.000Z", "user_id": 99}])
    run_stream_stream_left_outer_join(spark, str(lpath), str(rpath), out, ckpt, schema)

    rows = {r["l_event_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[1]["r_event_id"] == 10 and rows[1]["delta_us"] == 20 * 60 * 1_000_000
    assert 2 in rows and rows[2]["r_event_id"] is None  # abandoned click emitted with nulls


def test_streaming_cdc_apply_latest_state(spark, tmp_path):
    from wellmeet_data_pipeline_spark.sinks.merge import merge_append
    from wellmeet_data_pipeline_spark.streaming.cdc import (
        current_state,
        run_streaming_cdc_apply,
    )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    landing = tmp_path / "cdc_landing"
    landing.mkdir()
    store = str(tmp_path / "cdc_store")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("seq", LongType()),
            StructField("op", StringType()),
            StructField("v", LongType()),
        ]
    )

    def state():
        return {
            r["k"]: (r["op"], r["v"])
            for r in current_state(spark, store, "k", ["seq"], "op", "D").collect()
        }

    # batch 1: k1 insert+update (within-batch reduction), k2 insert
    _drop(
        landing,
        "c1.json",
        [
            {"k": 1, "seq": 1, "op": "I", "v": 10},
            {"k": 1, "seq": 2, "op": "U", "v": 20},
            {"k": 2, "seq": 3, "op": "I", "v": 30},
        ],
    )
    run_streaming_cdc_apply(spark, str(landing), store, ckpt, schema, "k", ["seq"])
    assert state() == {1: ("U", 20), 2: ("I", 30)}

    # batch 2: k2 deleted, k3 born — tombstone must erase k2 across batches
    _drop(
        landing,
        "c2.json",
        [
            {"k": 2, "seq": 4, "op": "D", "v": 0},
            {"k": 3, "seq": 5, "op": "I", "v": 50},
        ],
    )
    run_streaming_cdc_apply(spark, str(landing), store, ckpt, schema, "k", ["seq"])
    assert state() == {1: ("U", 20), 3: ("I", 50)}

    # batch 3: k2 REINSERTED after its tombstone -> resurrected
    _drop(landing, "c3.json", [{"k": 2, "seq": 6, "op": "I", "v": 60}])
    run_streaming_cdc_apply(spark, str(landing), store, ckpt, schema, "k", ["seq"])
    assert state() == {1: ("U", 20), 2: ("I", 60), 3: ("I", 50)}

    # at-least-once replay of batch 1's partials (same (key, batch)
    # identity, same rows) must not change anything — in particular it
    # must NOT revive k1's seq-2 row above k2's later state
    replay = spark.createDataFrame(
        [(1, 2, "U", 20), (2, 3, "I", 30)], "k long, seq long, op string, v long"
    )
    merge_append(replay, store, partition_col=None, batch_seq=0)
    assert state() == {1: ("U", 20), 2: ("I", 60), 3: ("I", 50)}


def test_streaming_rolling_active_users(spark, tmp_path):
    from wellmeet_data_pipeline_spark.sinks.merge import merge_append
    from wellmeet_data_pipeline_spark.streaming.analytics import (
        current_rolling_active,
        run_streaming_active_days,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    landing = tmp_path / "dau_landing"
    landing.mkdir()
    store = str(tmp_path / "dau_store")
    ckpt = str(tmp_path / "dau_ckpt")
    schema = StructType(
        [StructField("u", LongType()), StructField("ts", StringType())]
    )

    # empty store -> empty frame, not an error
    assert current_rolling_active(spark, store, 7).count() == 0

    def dau():
        return {
            str(r["as_of_day"]): r["n_active"]
            for r in current_rolling_active(spark, store, 7).collect()
        }

    _drop(
        landing,
        "d1.json",
        [
            {"u": 1, "ts": "2024-05-01 10:00:00"},
            {"u": 1, "ts": "2024-05-01 11:00:00"},  # same (user, day)
            {"u": 2, "ts": "2024-05-02 09:00:00"},
        ],
    )
    run_streaming_active_days(spark, str(landing), store, ckpt, schema, "u", "ts")
    assert dau() == {"2024-05-01": 1, "2024-05-02": 2}

    # u1 again on day 9: outside u2's 7-day reach (May 2 + 6 = May 8)
    _drop(landing, "d2.json", [{"u": 1, "ts": "2024-05-09 08:00:00"}])
    run_streaming_active_days(spark, str(landing), store, ckpt, schema, "u", "ts")
    assert dau() == {"2024-05-01": 1, "2024-05-02": 2, "2024-05-09": 1}

    # replay of batch 0's pairs (same (user, day, batch) identity): no change
    replay = spark.createDataFrame(
        [("2024-05-01", 1), ("2024-05-02", 2)], "d string, u long"
    ).select(F.col("d").cast("date").alias("__day"), F.col("u").alias("__u"))
    merge_append(replay, store, partition_col=None, batch_seq=0)
    assert dau() == {"2024-05-01": 1, "2024-05-02": 2, "2024-05-09": 1}


def test_streaming_source_drift_matches_batch_and_replay(spark, tmp_path):
    """Streaming drift monitor: JS from the incrementally-maintained
    (source, term) store must equal the batch operator on the same docs
    (shared core), and an at-least-once replayed partial must not move
    the answer."""
    from wellmeet_data_pipeline_spark.operators.scoring import js_divergence_by_group
    from wellmeet_data_pipeline_spark.sinks.merge import merge_append
    from wellmeet_data_pipeline_spark.streaming.analytics import (
        current_source_drift,
        run_streaming_term_counts,
    )
    from pyspark.sql.types import StringType, StructField, StructType

    landing = tmp_path / "drift_landing"
    landing.mkdir()
    store = str(tmp_path / "drift_store")
    ckpt = str(tmp_path / "drift_ckpt")
    schema = StructType(
        [StructField("source", StringType()), StructField("text", StringType())]
    )

    # empty store -> typed empty frame, not an error
    assert current_source_drift(spark, store).count() == 0

    b1 = [
        {"source": "web", "text": "the cat sat on the mat"},
        {"source": "code", "text": "def foo return foo"},
        {"source": None, "text": "must not count"},
    ]
    b2 = [
        {"source": "web", "text": "cat and dog"},
        {"source": "code", "text": "class bar def init"},
        {"source": "web", "text": None},
    ]
    _drop(landing, "b1.json", b1)
    run_streaming_term_counts(spark, str(landing), store, ckpt, schema)
    _drop(landing, "b2.json", b2)
    run_streaming_term_counts(spark, str(landing), store, ckpt, schema)

    docs = spark.createDataFrame(
        [(r["source"], r["text"]) for r in b1 + b2], "source string, text string"
    )
    want = {
        r.source: (r.n_tokens, r.n_terms, r.js_micro_nats)
        for r in js_divergence_by_group(docs).collect()
    }
    got = {
        r.source: (r.n_tokens, r.n_terms, r.js_micro_nats)
        for r in current_source_drift(spark, store).collect()
    }
    assert got == want and set(got) == {"web", "code"}

    # replayed (grp, term, batch) partial (foreachBatch contract: same
    # batch_id => same data) must dedup on read
    replay = spark.createDataFrame([("web", "cat", 1)], "grp string, term string, a long")
    merge_append(replay, store, partition_col=None, batch_seq=1)
    assert {
        r.source: (r.n_tokens, r.n_terms, r.js_micro_nats)
        for r in current_source_drift(spark, store).collect()
    } == want


def test_streaming_fuzzy_upsert_registry(spark, tmp_path):
    """Fuzzy insert-if-absent: exact dups, 1-deletion variants (either
    direction), and replays never mint entities; novel names do."""
    from wellmeet_data_pipeline_spark.streaming.linkage import (
        current_entities,
        run_streaming_fuzzy_upsert,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    landing = tmp_path / "ent_landing"
    landing.mkdir()
    store = str(tmp_path / "ent_store")
    ckpt = str(tmp_path / "ent_ckpt")
    schema = StructType(
        [
            StructField("record_id", LongType()),
            StructField("record_name", StringType()),
        ]
    )

    assert current_entities(spark, store).count() == 0

    def run():
        run_streaming_fuzzy_upsert(spark, str(landing), store, ckpt, schema)

    def reg():
        return {
            r.entity_name: r.entity_id for r in current_entities(spark, store).collect()
        }

    _drop(
        landing,
        "b1.json",
        [
            {"record_id": 1, "record_name": "wellmeet-gangnam"},
            {"record_id": 2, "record_name": "wellmeet-gangnam"},  # in-batch exact dup
            {"record_id": 3, "record_name": "seoul-branch"},
        ],
    )
    run()
    assert reg() == {"wellmeet-gangnam": 1, "seoul-branch": 3}

    _drop(
        landing,
        "b2.json",
        [
            {"record_id": 10, "record_name": "wellmeet-gangnam"},   # exact -> absorbed
            {"record_id": 11, "record_name": "wellmeetgangnam"},    # "-" lost -> absorbed
            {"record_id": 12, "record_name": "seoul-brancha"},      # 1 longer -> absorbed
            {"record_id": 13, "record_name": "busan-harbor"},       # novel
            {"record_id": 14, "record_name": None},                 # dropped
            {"record_id": None, "record_name": "null-id-ghost"},    # dropped
            {"record_id": 3, "record_name": "reused-id-name"},      # id taken
        ],
    )
    run()
    assert reg() == {
        "wellmeet-gangnam": 1,
        "seoul-branch": 3,
        "busan-harbor": 13,
    }

    # at-least-once replay: re-deliver batch 2's content as a new file;
    # every record now exact- or fuzzy-matches (incl. its own insertion)
    _drop(
        landing,
        "b2_replay.json",
        [
            {"record_id": 13, "record_name": "busan-harbor"},
            {"record_id": 11, "record_name": "wellmeetgangnam"},
        ],
    )
    run()
    assert reg() == {
        "wellmeet-gangnam": 1,
        "seoul-branch": 3,
        "busan-harbor": 13,
    }


def test_streaming_ivf_maintenance_matches_batch(spark, tmp_path):
    """Incremental IVF: init -> stream two vector batches -> the drift
    report must equal the BATCH ivf_index_merge of (initial, all new),
    and replays must be no-ops."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.operators.similarity import ivf_index_merge
    from wellmeet_data_pipeline_spark.streaming.ivf import (
        current_index_report,
        init_ivf_store,
        run_ivf_maintenance,
    )

    old_rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.9, 0.1, 0.0]),
        (4, [0.1, 0.9, 0.0]),
    ]
    new_rows = [
        (10, [1.0, 0.1, 0.0]),
        (11, [0.0, 0.9, 0.4]),
        (12, [0.8, 0.0, 0.6]),
    ]
    old = spark.createDataFrame(old_rows, "vec_id long, embedding array<double>")

    landing = tmp_path / "ivf_landing"
    landing.mkdir()
    seeds_p = str(tmp_path / "ivf_seeds")
    assign_p = str(tmp_path / "ivf_assign")
    ckpt = str(tmp_path / "ivf_ckpt")
    schema = StructType.fromDDL("vec_id long, embedding array<double>")

    init_ivf_store(old, seeds_p, assign_p, k=2)

    (landing / "b1.json").write_text(
        json.dumps([{"vec_id": i, "embedding": v} for i, v in new_rows[:2]])
    )
    run_ivf_maintenance(spark, str(landing), seeds_p, assign_p, ckpt, schema)
    (landing / "b2.json").write_text(
        json.dumps([{"vec_id": new_rows[2][0], "embedding": new_rows[2][1]}])
    )
    run_ivf_maintenance(spark, str(landing), seeds_p, assign_p, ckpt, schema)

    got = {
        r["centroid_id"]: (r["n_before"], r["n_added"], r["mean_shift_cos"])
        for r in current_index_report(spark, assign_p).collect()
    }
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<double>")
    want = {
        r["centroid_id"]: (r["n_before"], r["n_added"], r["mean_shift_cos"])
        for r in ivf_index_merge(old, new, k=2).collect()
    }
    assert got == want
    assert sum(v[1] for v in got.values()) == 3

    # replay the same landing files under a FRESH checkpoint: merge-append
    # dedup-on-read keeps first arrivals, report unchanged
    run_ivf_maintenance(
        spark, str(landing), seeds_p, assign_p, str(tmp_path / "ivf_ckpt2"), schema
    )
    got2 = {
        r["centroid_id"]: (r["n_before"], r["n_added"], r["mean_shift_cos"])
        for r in current_index_report(spark, assign_p).collect()
    }
    assert got2 == want


def test_streaming_exactsubstr_matches_batch_and_replays(spark, tmp_path):
    """Incremental ExactSubstr: batches arriving in doc_id order must
    reproduce the batch operator's output exactly; replays are no-ops;
    cross-batch spans are scrubbed (the part a per-batch pass misses)."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.operators.corpus import remove_repeated_spans
    from wellmeet_data_pipeline_spark.streaming.exactsubstr import (
        read_clean_corpus,
        run_exactsubstr_dedup,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "quick brown fox ran away"),          # cross-batch span vs doc 1
        (3, "the quick brown fox jumps again"),   # cross-batch span vs doc 1
        (4, "completely different text entirely here"),
    ]
    landing = tmp_path / "xs_landing"
    landing.mkdir()
    grams_p = str(tmp_path / "xs_grams")
    out_p = str(tmp_path / "xs_out")
    ckpt = str(tmp_path / "xs_ckpt")
    schema = StructType.fromDDL("doc_id long, text string")

    (landing / "b1.json").write_text(
        json.dumps([{"doc_id": i, "text": t} for i, t in docs[:2]])
    )
    run_exactsubstr_dedup(spark, str(landing), grams_p, out_p, ckpt, schema)
    (landing / "b2.json").write_text(
        json.dumps([{"doc_id": i, "text": t} for i, t in docs[2:]])
    )
    run_exactsubstr_dedup(spark, str(landing), grams_p, out_p, ckpt, schema)

    got = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in read_clean_corpus(spark, out_p).collect()
    }
    full = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in remove_repeated_spans(full, span_w=3).collect()
    }
    assert got == want
    assert got[2][1] > 0 and got[3][1] > 0  # cross-batch scrub happened
    assert got[4][1] == 0

    # replay both files under a fresh checkpoint: self-exclusion keeps a
    # re-delivered doc from scrubbing itself against its own grams, and
    # first-arrival wins in the out store
    run_exactsubstr_dedup(
        spark, str(landing), grams_p, out_p, str(tmp_path / "xs_ckpt2"), schema
    )
    got2 = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in read_clean_corpus(spark, out_p).collect()
    }
    assert got2 == want


def test_streaming_exactsubstr_out_of_order_no_zero_survivor(spark, tmp_path):
    """Out-of-order arrival keeps a DIFFERENT survivor than batch order,
    but some copy of every duplicated span must survive — including
    across a fresh-checkpoint full replay (the zero-survivor review
    scenario: replay used to re-scrub the original survivor and tie its
    out-store row)."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.exactsubstr import (
        read_clean_corpus,
        run_exactsubstr_dedup,
    )

    landing = tmp_path / "oo_landing"
    landing.mkdir()
    grams_p = str(tmp_path / "oo_grams")
    out_p = str(tmp_path / "oo_out")
    schema = StructType.fromDDL("doc_id long, text string")
    shared = "alpha beta gamma"

    # doc 5 arrives FIRST, doc 3 second — reverse of the batch total order
    (landing / "b1.json").write_text(
        json.dumps([{"doc_id": 5, "text": f"{shared} five tail"}])
    )
    run_exactsubstr_dedup(
        spark, str(landing), grams_p, out_p, str(tmp_path / "c1"), schema
    )
    (landing / "b2.json").write_text(
        json.dumps([{"doc_id": 3, "text": f"{shared} three tail"}])
    )
    run_exactsubstr_dedup(
        spark, str(landing), grams_p, out_p, str(tmp_path / "c2"), schema
    )

    def survivors():
        rows = {r["doc_id"]: r["text"] for r in read_clean_corpus(spark, out_p).collect()}
        return rows, sum(shared in t for t in rows.values())

    rows1, n1 = survivors()
    assert rows1[5] == f"{shared} five tail"  # first arrival keeps the span
    assert n1 == 1                            # exactly one surviving copy

    # full replay of both files, fresh checkpoint: already-done docs are
    # skipped, nothing is re-scrubbed, still exactly one survivor
    run_exactsubstr_dedup(
        spark, str(landing), grams_p, out_p, str(tmp_path / "c3"), schema
    )
    rows2, n2 = survivors()
    assert rows2 == rows1 and n2 == 1

def test_streaming_exactsubstr_tombstones_empty_and_consumed(spark, tmp_path):
    """Done-ledger convergence (ADVICE r7): originally-empty docs and
    fully-consumed docs must land in the out store as tombstones so the
    done-skip learns them — a fresh-checkpoint replay of such a batch
    re-processes NOTHING.  read_clean_corpus hides tombstones by
    default (the batch operator's vanish contract) and exposes them
    with include_empty=True."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.exactsubstr import (
        read_clean_corpus,
        run_exactsubstr_dedup,
    )

    landing = tmp_path / "tb_landing"
    landing.mkdir()
    grams_p = str(tmp_path / "tb_grams")
    out_p = str(tmp_path / "tb_out")
    schema = StructType.fromDDL("doc_id long, text string")

    # doc 1: survivor; doc 2: exact copy -> FULLY consumed (vanishes);
    # doc 3: empty; doc 4: whitespace-only; doc 5: null text
    (landing / "b1.json").write_text(
        json.dumps(
            [
                {"doc_id": 1, "text": "alpha beta gamma delta"},
                {"doc_id": 2, "text": "alpha beta gamma delta"},
                {"doc_id": 3, "text": ""},
                {"doc_id": 4, "text": "   "},
                {"doc_id": 5, "text": None},
            ]
        )
    )
    run_exactsubstr_dedup(
        spark, str(landing), grams_p, out_p, str(tmp_path / "c1"), schema
    )

    visible = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in read_clean_corpus(spark, out_p).collect()
    }
    assert visible == {1: ("alpha beta gamma delta", 0)}

    ledger = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in read_clean_corpus(spark, out_p, include_empty=True).collect()
    }
    # every delivered doc is in the ledger: empties/null with 0 removed,
    # the fully-consumed copy with its whole token count
    assert set(ledger) == {1, 2, 3, 4, 5}
    assert ledger[2] == ("", 4)
    assert ledger[3] == ("", 0) and ledger[4] == ("", 0) and ledger[5] == ("", 0)

    # fresh-checkpoint replay: the done-skip knows every doc, so the
    # ledger is byte-identical (no re-processing, no duplicate rows)
    run_exactsubstr_dedup(
        spark, str(landing), grams_p, out_p, str(tmp_path / "c2"), schema
    )
    ledger2 = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in read_clean_corpus(spark, out_p, include_empty=True).collect()
    }
    assert ledger2 == ledger

def test_streaming_kcore_matches_batch_and_replays(spark, tmp_path):
    """Streaming k-core twin: edges arriving across batches (with
    duplicates, reversed orientation, self-loops) yield the same k-core
    as one batch peel over all edges; a fresh-checkpoint full replay
    leaves the edge store byte-identical (edge = its own idempotency
    token)."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.operators.dedup import kcore_decomposition
    from wellmeet_data_pipeline_spark.streaming.kcore import (
        current_kcore,
        run_streaming_kcore_edges,
    )

    landing = tmp_path / "kc_landing"
    landing.mkdir()
    store = str(tmp_path / "kc_edges")
    schema = StructType.fromDDL("id_a long, id_b long")

    # triangle 1-2-3 plus a pendant 4; batch 2 closes a second triangle
    # 3-4-5 (promoting 4 into the 2-core) and replays edge (1,2) reversed
    b1 = [(1, 2), (2, 3), (3, 1), (3, 4), (7, 7)]
    b2 = [(4, 5), (5, 3), (2, 1), (4, 3)]
    (landing / "b1.json").write_text(
        json.dumps([{"id_a": a, "id_b": b} for a, b in b1])
    )
    run_streaming_kcore_edges(
        spark, str(landing), store, str(tmp_path / "kc_c1"), schema
    )
    core1 = {r["node"]: r["core_degree"] for r in current_kcore(spark, store, k=2).collect()}
    assert core1 == {1: 2, 2: 2, 3: 2}  # pendant 4 peeled, self-loop dropped

    (landing / "b2.json").write_text(
        json.dumps([{"id_a": a, "id_b": b} for a, b in b2])
    )
    run_streaming_kcore_edges(
        spark, str(landing), store, str(tmp_path / "kc_c2"), schema
    )
    got = {r["node"]: r["core_degree"] for r in current_kcore(spark, store, k=2).collect()}

    all_edges = spark.createDataFrame(b1 + b2, "id_a long, id_b long")
    want = {
        r["node"]: r["core_degree"]
        for r in kcore_decomposition(all_edges, k=2).collect()
    }
    assert got == want and 4 in got  # batch parity; 4 was promoted

    # store rows before/after a fresh-checkpoint full replay
    def store_rows():
        return sorted(
            (r["id_a"], r["id_b"])
            for r in spark.read.parquet(store).select("id_a", "id_b").collect()
        )

    before = store_rows()
    assert len(before) == len(set(before))  # no duplicate edge rows at all
    run_streaming_kcore_edges(
        spark, str(landing), store, str(tmp_path / "kc_c3"), schema
    )
    assert store_rows() == before


def test_streaming_kcore_commits_no_empty_batch(spark, tmp_path):
    """A batch with no new edge commits nothing: a first batch of only
    self-loops leaves no batch directory, and a fresh-checkpoint full
    replay leaves the store's file listing unchanged."""
    import glob
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.kcore import run_streaming_kcore_edges

    landing = tmp_path / "kce_landing"
    landing.mkdir()
    store = str(tmp_path / "kce_edges")
    schema = StructType.fromDDL("id_a long, id_b long")
    drop = lambda name, edges: (landing / name).write_text(
        json.dumps([{"id_a": a, "id_b": b} for a, b in edges])
    )

    drop("loops.json", [(7, 7), (8, 8)])
    run_streaming_kcore_edges(spark, str(landing), store, str(tmp_path / "kce_c1"), schema)
    assert glob.glob(store + "/batch_commit=*") == []

    drop("edges.json", [(1, 2), (2, 3), (3, 1)])
    run_streaming_kcore_edges(spark, str(landing), store, str(tmp_path / "kce_c1"), schema)

    def listing():
        return sorted(
            os.path.relpath(os.path.join(root, f), store)
            for root, _dirs, files in os.walk(store)
            for f in files
        )

    before = listing()
    assert glob.glob(store + "/batch_commit=*/*.parquet")
    run_streaming_kcore_edges(spark, str(landing), store, str(tmp_path / "kce_c2"), schema)
    assert listing() == before

def test_streaming_quantile_sketch_matches_batch_and_replays(spark, tmp_path):
    """Streaming sketch partials merged on read == one batch sketch over
    all rows (the monoid, end-to-end through the store); replays are
    exactly-once via (group, bucket, batch) identity."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.operators.aggregations import (
        quantile_sketch,
        quantiles_from_sketch,
    )
    from wellmeet_data_pipeline_spark.streaming.analytics import (
        current_quantiles,
        run_streaming_quantile_sketch,
    )

    landing = tmp_path / "qs_landing"
    landing.mkdir()
    store = str(tmp_path / "qs_store")
    schema = StructType.fromDDL("grp string, cents long")

    rows = [("a", v * 7 - 2000) for v in range(100)] + [("b", 2 ** (v % 20)) for v in range(60)]
    (landing / "b1.json").write_text(
        json.dumps([{"grp": g, "cents": c} for g, c in rows[:70]])
    )
    run_streaming_quantile_sketch(
        spark, str(landing), store, str(tmp_path / "qs_c1"), schema,
        value_col="cents", group_cols=("grp",),
    )
    (landing / "b2.json").write_text(
        json.dumps([{"grp": g, "cents": c} for g, c in rows[70:]])
    )
    run_streaming_quantile_sketch(
        spark, str(landing), store, str(tmp_path / "qs_c2"), schema,
        value_col="cents", group_cols=("grp",),
    )

    got = {
        (r["grp"], r["quantile"]): (r["est"], r["n_rows"])
        for r in current_quantiles(
            spark, store, group_cols=("grp",), group_ddl="grp string, "
        ).collect()
    }
    df = spark.createDataFrame(rows, "grp string, cents long")
    want = {
        (r["grp"], r["quantile"]): (r["est"], r["n_rows"])
        for r in quantiles_from_sketch(
            quantile_sketch(df, "cents", group_cols=("grp",)), group_cols=("grp",)
        ).collect()
    }
    assert got == want and len(got) == 6

    # replay both files under the SAME checkpoint dir semantics (fresh
    # trigger, no new files): no new partials, identical read
    run_streaming_quantile_sketch(
        spark, str(landing), store, str(tmp_path / "qs_c2"), schema,
        value_col="cents", group_cols=("grp",),
    )
    got2 = {
        (r["grp"], r["quantile"]): (r["est"], r["n_rows"])
        for r in current_quantiles(
            spark, store, group_cols=("grp",), group_ddl="grp string, "
        ).collect()
    }
    assert got2 == got


def test_orchestration_soak_under_task_and_batch_faults(tmp_path):
    """r8 verdict item 5: the composed §3.3 DAG across >= 3 micro-batches
    with an induced once-failing task (absorbed by spark.task retries)
    and an induced batch-level crash (absorbed by checkpoint replay +
    idempotent stores; a stored place with no done mark stays pending).
    Subprocess: the soak
    needs master local[4,2] (task retries), a SparkContext property the
    shared session can't change."""
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(os.path.dirname(__file__), "soak", "orchestration_soak.py"),
            str(tmp_path),
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert "SOAK-OK" in proc.stdout


def test_streaming_bloom_bits_matches_batch_and_replay(spark, tmp_path):
    """Streamed Bloom bit store == the batch operator's bit set after any
    number of batches (bit-set union is the monoid), probe stats agree
    frame-for-frame with bloom_prefilter_stats on the same build table,
    and re-activating over already-seen data appends nothing."""
    import json as _json

    from wellmeet_data_pipeline_spark.operators.joins import bloom_prefilter_stats
    from wellmeet_data_pipeline_spark.streaming.bloom import (
        current_bloom_prefilter_stats,
        run_streaming_bloom_bits,
    )
    from pyspark.sql.types import StructType

    landing = tmp_path / "bloom_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "bloom_store"), str(tmp_path / "bloom_ckpt")
    schema = StructType.fromDDL("c_custkey long")
    M, K = 64, 3

    def drop(fname, keys):
        with open(landing / fname, "w") as fh:
            _json.dump([{"c_custkey": k} for k in keys], fh)

    drop("b1.json", [3, 7, None])
    run_streaming_bloom_bits(spark, str(landing), store, ckpt, schema,
                             "c_custkey", m_bits=M, k_hashes=K)
    drop("b2.json", [11, 19, 7])  # 7 re-lands: its bits are already set
    run_streaming_bloom_bits(spark, str(landing), store, ckpt, schema,
                             "c_custkey", m_bits=M, k_hashes=K)

    build = spark.createDataFrame([(k,) for k in [3, 7, 11, 19]], "c_custkey long")
    probe = spark.createDataFrame([(k,) for k in range(40)], "o_custkey long")
    want = bloom_prefilter_stats(build, probe, "c_custkey", "o_custkey",
                                 m_bits=M, k_hashes=K).collect()
    got = current_bloom_prefilter_stats(spark, store, probe, "o_custkey",
                                        build, "c_custkey",
                                        m_bits=M, k_hashes=K).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]

    # replay: a fresh checkpoint re-reads every file; the store's raw row
    # count must not grow (bits are their own idempotency tokens)
    raw_before = spark.read.parquet(store).count()
    run_streaming_bloom_bits(spark, str(landing), store,
                             str(tmp_path / "bloom_ckpt2"), schema,
                             "c_custkey", m_bits=M, k_hashes=K)
    assert spark.read.parquet(store).count() == raw_before


def test_streaming_pagerank_matches_batch(spark, tmp_path):
    """The streamed edge store serves PageRank through the same batch
    core: after two activations (with a re-delivered edge), the read
    equals graph_pagerank over the union of all edges."""
    import json as _json

    from wellmeet_data_pipeline_spark.operators.dedup import graph_pagerank
    from wellmeet_data_pipeline_spark.streaming.kcore import (
        current_pagerank,
        run_streaming_kcore_edges,
    )
    from pyspark.sql.types import StructType

    landing = tmp_path / "pr_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "pr_store"), str(tmp_path / "pr_ckpt")
    schema = StructType.fromDDL("id_a long, id_b long")

    def drop(fname, edges):
        with open(landing / fname, "w") as fh:
            _json.dump([{"id_a": a, "id_b": b} for a, b in edges], fh)

    drop("e1.json", [(1, 2), (2, 3), (3, 1)])
    run_streaming_kcore_edges(spark, str(landing), store, ckpt, schema)
    drop("e2.json", [(3, 4), (2, 3), (4, 1)])  # (2,3) re-delivered
    run_streaming_kcore_edges(spark, str(landing), store, ckpt, schema)

    all_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)], "id_a long, id_b long"
    )
    want = sorted(map(tuple, graph_pagerank(all_edges, iters=3).collect()))
    got = sorted(map(tuple, current_pagerank(spark, store, iters=3).collect()))
    assert got == want


def test_streaming_psi_matches_batch_and_replay(spark, tmp_path):
    """Streamed (source, bin) partial counts serve PSI through the SAME
    core as the batch query: after two activations the read equals the
    batch PSI over the union corpus; a fresh-checkpoint replay leaves
    the current view unchanged (partials keyed by batch overwrite their
    own contribution)."""
    import json as _json

    from wellmeet_data_pipeline_spark.operators.scoring import (
        length_bins,
        psi_from_source_bin_counts,
    )
    from wellmeet_data_pipeline_spark.streaming.analytics import (
        current_source_psi,
        run_streaming_length_bins,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    landing = tmp_path / "psi_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "psi_store"), str(tmp_path / "psi_ckpt")
    schema = StructType.fromDDL("doc_id long, source string, n_chars long")

    # consumer view before ANY batch: empty typed frame, not an exception
    assert current_source_psi(spark, store).count() == 0

    rows1 = [{"doc_id": i, "source": "A" if i % 2 else "B", "n_chars": 40 + i * 13}
             for i in range(30)]
    rows2 = [{"doc_id": 100 + i, "source": "C" if i % 3 else "A",
              "n_chars": 300 + i * 9} for i in range(25)]
    with open(landing / "d1.json", "w") as fh:
        _json.dump(rows1, fh)
    run_streaming_length_bins(spark, str(landing), store, ckpt, schema)
    with open(landing / "d2.json", "w") as fh:
        _json.dump(rows2, fh)
    run_streaming_length_bins(spark, str(landing), store, ckpt, schema)

    all_docs = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["n_chars"]) for r in rows1 + rows2],
        "doc_id long, source string, n_chars long",
    )
    cs = length_bins(all_docs).groupBy("source", "bin").agg(F.count("*").alias("c"))
    want = sorted(map(tuple, psi_from_source_bin_counts(cs).collect()))
    got = sorted(map(tuple, current_source_psi(spark, store).collect()))
    assert got == want

    # crash-replay of a batch (foreachBatch contract: same batch_id =>
    # same data): the re-appended (source, bin, batch) partial dedups on
    # read — the view must not move.  (A FRESH checkpoint over the same
    # files is a different ingest with different batch boundaries and
    # legitimately double-counts — partial-count stores are idempotent
    # per (key, batch), not content-addressed like the bit/edge stores.)
    from wellmeet_data_pipeline_spark.sinks.merge import merge_append

    orig = spark.read.parquet(store).filter(
        (F.col("source") == "A") & (F.col("bin") == 0) & (F.col("_batch_seq") == 0)
    )
    replay = orig.select("source", "bin", "c")  # byte-identical partial
    merge_append(replay, store, partition_col=None, batch_seq=0)
    again = sorted(map(tuple, current_source_psi(spark, store).collect()))
    assert again == want

    # same-checkpoint re-activation with no new files processes nothing
    run_streaming_length_bins(spark, str(landing), store, ckpt, schema)
    assert sorted(map(tuple, current_source_psi(spark, store).collect())) == want


def test_streaming_bloom_bits_all_null_first_batch_does_not_poison(spark, tmp_path):
    """r9 advice: a first batch whose keys are all NULL must not commit a
    zero-part store (the UNABLE_TO_INFER_SCHEMA poisoning case the
    analytics monitors already guard), and the guard must not swallow
    later real batches."""
    import json as _json

    from wellmeet_data_pipeline_spark.streaming.bloom import run_streaming_bloom_bits
    from pyspark.sql.types import StructType

    landing = tmp_path / "bn_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "bn_store"), str(tmp_path / "bn_ckpt")
    schema = StructType.fromDDL("c_custkey long")

    with open(landing / "b1.json", "w") as fh:
        _json.dump([{"c_custkey": None}, {"c_custkey": None}], fh)
    run_streaming_bloom_bits(spark, str(landing), store, ckpt, schema,
                             "c_custkey", m_bits=64, k_hashes=3)
    import glob
    assert glob.glob(store + "/batch_commit=*") == []  # nothing committed

    with open(landing / "b2.json", "w") as fh:
        _json.dump([{"c_custkey": 5}], fh)
    run_streaming_bloom_bits(spark, str(landing), store, ckpt, schema,
                             "c_custkey", m_bits=64, k_hashes=3)
    assert spark.read.parquet(store).count() == 3  # k_hashes bits for key 5


def test_streaming_recovery_soak_after_midstream_kill(tmp_path):
    """r9 verdict item 7 (+ r10 item 6: the CUSUM period-totals twin):
    each state-store twin (Bloom bit registry, PageRank edge store, PSI
    bin monitor, CUSUM drift monitor) is KILLED mid-stream — after a
    batch's store commit, before the checkpoint records it — then
    restarted from the checkpoint; the replayed epoch must be absorbed by
    the store's idempotency discipline and the final view must equal the
    batch twin.  Subprocess: the kill is a literal os._exit of the
    driver."""
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(os.path.dirname(__file__), "soak", "streaming_recovery_soak.py"),
            str(tmp_path),
        ],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert "SOAK-OK" in proc.stdout
    for twin in ("bloom", "kcore", "psi", "cusum"):
        assert f"RECOVERY-OK {twin}" in proc.stdout


def test_streaming_fingerprint_registry_matches_batch_and_replays(spark, tmp_path):
    """Streamed winnowing registry == the batch operator over all landed
    docs after any number of batches; a probe doc embedding a >= 6-word
    run from a registry doc is caught; replay appends nothing new to the
    dedup view."""
    import json as _json

    from wellmeet_data_pipeline_spark.operators.dedup import winnowing_fingerprints
    from wellmeet_data_pipeline_spark.sinks.merge import read_current
    from wellmeet_data_pipeline_spark.streaming.fingerprints import (
        current_fingerprint_matches,
        run_streaming_fingerprint_registry,
    )
    from pyspark.sql.types import StructType

    landing = tmp_path / "fpr_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "fpr_store"), str(tmp_path / "fpr_ckpt")
    schema = StructType.fromDDL("doc_id long, text string")

    bench_run = "the seven benchmark answer tokens appear here verbatim"
    b1 = [{"doc_id": 1, "text": f"reference one {bench_run} tail words"},
          {"doc_id": 2, "text": "another reference with its own content entirely"}]
    b2 = [{"doc_id": 3, "text": "late registered benchmark document arrives second batch"},
          {"doc_id": 4, "text": None}]
    with open(landing / "b1.json", "w") as fh:
        _json.dump(b1, fh)
    run_streaming_fingerprint_registry(spark, str(landing), store, ckpt, schema)
    with open(landing / "b2.json", "w") as fh:
        _json.dump(b2, fh)
    run_streaming_fingerprint_registry(spark, str(landing), store, ckpt, schema)

    all_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in b1 + b2 if r["text"] is not None],
        "doc_id long, text string",
    )
    want = sorted(map(tuple, winnowing_fingerprints(all_docs).collect()))
    got = sorted(
        map(tuple, read_current(spark, store, id_col=["doc_id", "pos", "fp"]).collect())
    )
    assert got == want and got

    # embedded-run probe: doc 100 pastes the 7-word benchmark run
    probe = spark.createDataFrame(
        [
            (100, f"student essay quoting {bench_run} inside a paragraph"),
            (101, "clean document sharing nothing with any reference text"),
        ],
        "doc_id long, text string",
    )
    m = current_fingerprint_matches(spark, store, probe).collect()
    hits = {(r["probe_id"], r["ref_id"]) for r in m}
    assert (100, 1) in hits
    assert all(p != 101 for p, _ in hits)

    # replay with a fresh checkpoint: view unchanged (rows are their own
    # idempotency tokens)
    run_streaming_fingerprint_registry(
        spark, str(landing), store, str(tmp_path / "fpr_ckpt2"), schema
    )
    again = sorted(
        map(tuple, read_current(spark, store, id_col=["doc_id", "pos", "fp"]).collect())
    )
    assert again == want


def test_streaming_cusum_monitor_parity_and_replay(spark, tmp_path):
    """The streaming drift monitor must (a) match the batch
    cusum_changepoint on the same data, (b) absorb an at-least-once
    replay of a (group, period, batch) partial, (c) return an empty
    typed frame before the store exists."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from wellmeet_data_pipeline_spark.operators.stats import cusum_changepoint
    from wellmeet_data_pipeline_spark.sinks.merge import merge_append
    from wellmeet_data_pipeline_spark.streaming.analytics import (
        current_changepoint,
        run_streaming_period_totals,
    )

    landing = tmp_path / "cusum_landing"
    landing.mkdir()
    store = str(tmp_path / "cusum_store")
    ckpt = str(tmp_path / "cusum_ckpt")
    schema = StructType(
        [
            StructField("g", StringType()),
            StructField("day", StringType()),
            StructField("v", LongType()),
        ]
    )

    assert current_changepoint(spark, store, "g", "day").count() == 0

    rows1 = [{"g": "t", "day": f"2024-01-{d:02d}", "v": 10} for d in range(1, 8)]
    _drop(landing, "a.json", rows1)
    run_streaming_period_totals(
        spark, str(landing), store, ckpt, schema, "g", "day", "v"
    )
    # shift arrives in a later file — including a late partial for day 7
    rows2 = [{"g": "t", "day": f"2024-01-{d:02d}", "v": 50} for d in range(8, 15)]
    rows2.append({"g": "t", "day": "2024-01-07", "v": 5})
    _drop(landing, "b.json", rows2)
    run_streaming_period_totals(
        spark, str(landing), store, ckpt, schema, "g", "day", "v"
    )

    got = current_changepoint(spark, store, "g", "day").collect()
    all_rows = rows1 + rows2
    batch = cusum_changepoint(
        spark.createDataFrame(
            [(r["g"], r["day"], r["v"]) for r in all_rows],
            "g string, day string, v long",
        ),
        "g",
        "day",
        F.col("v"),
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in batch]
    assert got[0]["cp_period"] == "2024-01-07"  # last pre-shift day

    # at-least-once replay: same (group, period, batch) identity appended
    # again must not change the answer
    replay = spark.createDataFrame([("t", "2024-01-07", 10)], "g string, day string, x long")
    merge_append(replay, store, partition_col=None, batch_seq=0)
    again = current_changepoint(spark, store, "g", "day").collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in batch]


def test_streaming_transitions_parity_and_replay(spark, tmp_path):
    """The streaming Markov session-path monitor must (a) match the
    batch markov_transition_probs on the same data — including the
    transition that SPANS two micro-batches (user state carries the
    last event across the batch boundary), (b) absorb an at-least-once
    replay of a (from, to, batch) partial, (c) return an empty typed
    frame before the store exists."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from wellmeet_data_pipeline_spark.operators.stats import markov_transition_probs
    from wellmeet_data_pipeline_spark.sinks.merge import merge_append
    from wellmeet_data_pipeline_spark.streaming.stateful import (
        current_transition_probs,
        run_streaming_transitions,
    )

    landing = tmp_path / "trans_landing"
    landing.mkdir()
    store = str(tmp_path / "trans_store")
    ckpt = str(tmp_path / "trans_ckpt")
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", LongType()),  # unix micros
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )

    assert current_transition_probs(spark, store).count() == 0

    # user 1's path A->B->C is SPLIT across the two files (A,B | C): the
    # B->C transition exists only via carried state.  user 2 has a
    # same-timestamp tie broken by event_id (B before A).
    rows1 = [
        {"user_id": 1, "ts": 10, "event_id": 1, "event_type": "A"},
        {"user_id": 1, "ts": 20, "event_id": 2, "event_type": "B"},
        {"user_id": 2, "ts": 10, "event_id": 3, "event_type": "B"},
        {"user_id": 2, "ts": 10, "event_id": 4, "event_type": "A"},
    ]
    _drop(landing, "a.json", rows1)
    run_streaming_transitions(spark, str(landing), store, ckpt, schema)
    rows2 = [
        {"user_id": 1, "ts": 30, "event_id": 5, "event_type": "C"},
        {"user_id": 2, "ts": 40, "event_id": 6, "event_type": "B"},
    ]
    _drop(landing, "b.json", rows2)
    run_streaming_transitions(spark, str(landing), store, ckpt, schema)

    got = sorted(map(tuple, current_transition_probs(spark, store).collect()))
    all_rows = rows1 + rows2
    batch = sorted(
        map(
            tuple,
            markov_transition_probs(
                spark.createDataFrame(
                    [
                        (r["user_id"], r["ts"], r["event_id"], r["event_type"])
                        for r in all_rows
                    ],
                    "user_id long, ts long, event_id long, event_type string",
                ),
                "user_id",
                F.col("ts"),
                "event_type",
                tiebreak_col="event_id",
            ).collect(),
        )
    )
    assert got == batch and len(got) > 0
    # the cross-batch B->C transition is present
    assert any(r[0] == "B" and r[1] == "C" for r in got)

    # at-least-once replay: same (from, to, batch) identity appended again
    # must not change the probabilities
    replay = spark.createDataFrame(
        [("A", "B", 1)], "from_state string, to_state string, n_trans long"
    )
    merge_append(replay, store, partition_col=None, batch_seq=0)
    again = sorted(map(tuple, current_transition_probs(spark, store).collect()))
    assert again == got


def test_streaming_trend_monitor_parity_and_replay(spark, tmp_path):
    """The streaming Mann-Kendall trend monitor (r13) must (a) match
    the batch mann_kendall_by_group on the same data — under BOTH index
    conventions, since S/tau/z only depend on period ORDER, (b) honor
    the trailing-window variant, (c) absorb an at-least-once replay of
    a (group, period, batch) partial, (d) return an empty typed frame
    before the store exists."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from wellmeet_data_pipeline_spark.operators.stats import mann_kendall_by_group
    from wellmeet_data_pipeline_spark.sinks.merge import merge_append
    from wellmeet_data_pipeline_spark.streaming.analytics import (
        current_trend,
        run_streaming_period_totals,
    )

    landing = tmp_path / "trend_landing"
    landing.mkdir()
    store = str(tmp_path / "trend_store")
    ckpt = str(tmp_path / "trend_ckpt")
    schema = StructType(
        [
            StructField("g", StringType()),
            StructField("day", StringType()),
            StructField("v", LongType()),
        ]
    )

    assert current_trend(spark, store, "g", "day").count() == 0

    # rising series with a tie pair and a dip; plus a constant series
    # (the hostile __constdaily__ shape: S=0, tau/z NULL-safe)
    vals = [10, 12, 12, 11, 15, 18, 21]
    rows1 = [
        {"g": "up", "day": f"2024-02-{d + 1:02d}", "v": vals[d]} for d in range(5)
    ] + [{"g": "flat", "day": f"2024-02-{d + 1:02d}", "v": 7} for d in range(5)]
    _drop(landing, "a.json", rows1)
    run_streaming_period_totals(
        spark, str(landing), store, ckpt, schema, "g", "day", "v"
    )
    rows2 = [
        {"g": "up", "day": f"2024-02-{d + 1:02d}", "v": vals[d]} for d in range(5, 7)
    ] + [
        {"g": "flat", "day": f"2024-02-{d + 1:02d}", "v": 7} for d in range(5, 7)
    ] + [
        # late partial for an already-seen day
        {"g": "up", "day": "2024-02-03", "v": 2}
    ]
    _drop(landing, "b.json", rows2)
    run_streaming_period_totals(
        spark, str(landing), store, ckpt, schema, "g", "day", "v"
    )

    got = sorted(map(tuple, current_trend(spark, store, "g", "day").collect()))

    all_rows = rows1 + rows2
    batch_totals = (
        spark.createDataFrame(
            [(r["g"], r["day"], r["v"]) for r in all_rows],
            "g string, day string, v long",
        )
        .groupBy("g", "day")
        .agg(F.sum("v").cast("long").alias("x"))
    )
    # index convention 1: per-group rank (the monitor's)
    from pyspark.sql import Window

    wi = Window.partitionBy("g").orderBy(F.col("day").asc())
    by_rank = sorted(
        map(
            tuple,
            mann_kendall_by_group(
                batch_totals.withColumn("i", F.row_number().over(wi)), "g", "i", "x"
            ).collect(),
        )
    )
    # index convention 2: epoch day (the daily_revenue_mann_kendall
    # batch query's) — same stats, S is order-only
    by_epoch = sorted(
        map(
            tuple,
            mann_kendall_by_group(
                batch_totals.withColumn(
                    "i", F.unix_date(F.to_date("day")).cast("long")
                ),
                "g",
                "i",
                "x",
            ).collect(),
        )
    )
    assert got == by_rank == by_epoch
    flat = [r for r in got if r[0] == "flat"][0]
    assert flat[2] == 0  # s_stat on the constant series

    # trailing window: last 3 days of 'up' are strictly rising -> S = 3
    w3 = {
        r["g"]: r["s_stat"]
        for r in current_trend(spark, store, "g", "day", window_periods=3).collect()
    }
    assert w3["up"] == 3 and w3["flat"] == 0

    # at-least-once replay: same (group, period, batch) identity must
    # not change the answer
    replay = spark.createDataFrame(
        [("up", "2024-02-03", 2)], "g string, day string, x long"
    )
    merge_append(replay, store, partition_col=None, batch_seq=1)
    again = sorted(map(tuple, current_trend(spark, store, "g", "day").collect()))
    assert again == got


def test_streaming_ewma_chart_parity_and_replay(spark, tmp_path):
    """The streaming EWMA control chart (r13) must (a) match the batch
    ewma_control_chart on the same rolled-up totals, (b) fold an
    at-least-once replay and a late partial into period totals exactly
    as the batch read would, (c) return an empty typed frame before the
    store exists."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from wellmeet_data_pipeline_spark.operators.experiment import ewma_control_chart
    from wellmeet_data_pipeline_spark.streaming.analytics import (
        current_ewma_chart,
        run_streaming_period_totals,
    )

    landing = tmp_path / "ewma_landing"
    landing.mkdir()
    store = str(tmp_path / "ewma_store")
    ckpt = str(tmp_path / "ewma_ckpt")
    schema = StructType(
        [
            StructField("g", StringType()),
            StructField("day", StringType()),
            StructField("v", LongType()),
        ]
    )

    assert current_ewma_chart(spark, store, "g", "day").count() == 0

    vals = [100, 120, 90, 300, 110, 95, 105]
    rows1 = [
        {"g": "a", "day": f"2024-03-{d + 1:02d}", "v": vals[d]} for d in range(4)
    ] + [{"g": "b", "day": f"2024-03-{d + 1:02d}", "v": 50} for d in range(4)]
    _drop(landing, "a.json", rows1)
    run_streaming_period_totals(
        spark, str(landing), store, ckpt, schema, "g", "day", "v"
    )
    rows2 = [
        {"g": "a", "day": f"2024-03-{d + 1:02d}", "v": vals[d]} for d in range(4, 7)
    ] + [
        {"g": "b", "day": f"2024-03-{d + 1:02d}", "v": 50} for d in range(4, 7)
    ] + [
        # late partial for an already-seen day: folds into 2024-03-02
        {"g": "a", "day": "2024-03-02", "v": 30}
    ]
    _drop(landing, "b.json", rows2)
    run_streaming_period_totals(
        spark, str(landing), store, ckpt, schema, "g", "day", "v"
    )

    got = sorted(map(tuple, current_ewma_chart(spark, store, "g", "day").collect()))

    all_rows = rows1 + rows2
    batch_totals = (
        spark.createDataFrame(
            [(r["g"], r["day"], r["v"]) for r in all_rows],
            "g string, day string, v long",
        )
        .groupBy("g", "day")
        .agg(F.sum("v").cast("long").alias("v"))
    )
    want = sorted(
        map(tuple, ewma_control_chart(batch_totals, "g", "day", "v").collect())
    )
    assert got == want

    # the constant series never breaches; the late-partial day carries
    # the folded total in the chart's v column
    by_key = {(r[0], r[1]): r for r in got}
    assert all(by_key[("b", d)][6] == 0 for _, d in by_key if _ == "b")
    assert by_key[("a", "2024-03-02")][2] == 150


def test_streaming_scd2_history_parity_and_replay(spark, tmp_path):
    """The streaming SCD2 twin (r13) must (a) match the batch
    scd2_history on the same observation set, (b) fold a replayed
    observation and an out-of-order late observation exactly as a batch
    rebuild would (history is a function of the observation SET), (c)
    return an empty typed frame before the store exists."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from wellmeet_data_pipeline_spark.operators.windows import scd2_history
    from wellmeet_data_pipeline_spark.streaming.analytics import (
        current_scd2_history,
        run_streaming_event_log,
    )

    landing = tmp_path / "scd2_landing"
    landing.mkdir()
    store = str(tmp_path / "scd2_store")
    ckpt = str(tmp_path / "scd2_ckpt")
    schema = StructType(
        [
            StructField("uid", LongType()),
            StructField("st", StringType()),
            StructField("ts", StringType()),
            StructField("eid", LongType()),
        ]
    )

    assert (
        current_scd2_history(spark, store, "uid", "st", "ts", "eid").count() == 0
    )

    def ob(uid, st, t, eid):
        return {"uid": uid, "st": st, "ts": f"2024-04-{t:02d}", "eid": eid}

    rows1 = [ob(1, "A", 1, 1), ob(1, "A", 2, 2), ob(1, "B", 5, 5), ob(2, "X", 1, 9)]
    _drop(landing, "a.json", rows1)
    run_streaming_event_log(spark, str(landing), store, ckpt, schema, "eid")

    # batch 2: a LATE observation (day 3, between existing days), a new
    # run for user 1, and a replayed duplicate of eid=5
    rows2 = [ob(1, "B", 3, 3), ob(1, "A", 7, 7), ob(1, "B", 5, 5)]
    _drop(landing, "b.json", rows2)
    run_streaming_event_log(spark, str(landing), store, ckpt, schema, "eid")

    got = sorted(
        map(tuple, current_scd2_history(spark, store, "uid", "st", "ts", "eid").collect())
    )

    all_obs = {r["eid"]: r for r in rows1 + rows2}  # replay collapses
    batch = spark.createDataFrame(
        [(r["uid"], r["st"], r["ts"], r["eid"]) for r in all_obs.values()],
        "uid long, st string, ts string, eid long",
    )
    want = sorted(
        map(
            tuple,
            scd2_history(batch, "uid", "st", "ts", "eid")
            .select("uid", "state", "effective_from", "effective_to", "version", "is_current")
            .collect(),
        )
    )
    assert got == want

    # the late day-3 'B' observation reshapes user 1's history into
    # A(1..3) B(3..7) A(7..) — versions renumber deterministically
    u1 = sorted([r for r in got if r[0] == 1], key=lambda r: r[4])
    assert [r[1] for r in u1] == ["A", "B", "A"]
    assert u1[-1][5] == 1  # only the last range is current
