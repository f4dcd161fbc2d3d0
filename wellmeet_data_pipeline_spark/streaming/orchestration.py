"""The reference's full event-driven DAG as ONE streaming pipeline
(SURVEY.md §3.3).

Reference choreography: restaurant JSON lands in S3 → Lambda validates
and saves → one AWS Batch job PER RESTAURANT crawls its reviews → review
JSON lands in S3 → second Lambda projects and posts.  Four processes,
three network hops, a job queue.

Here: one foreachBatch.  Per micro-batch of landed restaurants —
validate (P4) → fill defaults (P7) → insert-if-absent into the
restaurant store (J2/K2) → the batch's NEW place_ids become the seed
frame for the review ingest (K5's job-per-restaurant collapses into
partition-per-key scheduling) → incremental review ingest (J1) into the
review store.  The only driver-side materialization is the new-key list
(bounded by batch size, not corpus size).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.operators.projections import fill_rds_defaults, require_fields
from wellmeet_data_pipeline_spark.pipelines import ingest_reviews
from wellmeet_data_pipeline_spark.schemas import RESTAURANT
from wellmeet_data_pipeline_spark.sinks.merge import merge_append
from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream, unseen


def _read_backlog_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    # narrow catch: ONLY path-does-not-exist may read as "no backlog yet".
    # A transient read failure must propagate — treating it as empty would
    # make the caller proceed without the carried-over obligations.
    import os

    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def _read_pending(spark: SparkSession, backlog_store: str) -> DataFrame | None:
    """Pending fan-out keys from the append-only backlog log: rows marked
    'todo' that have no 'done' marker.  The log is never overwritten —
    appends are crash-safe (a torn append leaves at worst a replayable
    duplicate, and both marks are idempotent on place_id), unlike a
    rewrite-in-place whose delete window can lose the only durable copy."""
    log = _read_backlog_or_none(spark, backlog_store)
    if log is None:
        return None
    todo = log.filter(F.col("_op") == "todo").select("place_id").distinct()
    done = log.filter(F.col("_op") == "done").select("place_id")
    return todo.join(done, "place_id", "left_anti")


def _append_marks(keys: DataFrame, backlog_store: str, op: str) -> None:
    keys.select("place_id", F.lit(op).alias("_op")).write.mode("append").parquet(
        backlog_store
    )


def _take_chunk(todo: DataFrame, max_keys: int | None) -> list[str]:
    """First `max_keys` place_ids (all of them for None) in deterministic
    order — the ONE driver materialization of the fan-out."""
    todo = todo.orderBy("place_id")
    if max_keys is not None:
        todo = todo.limit(max_keys)
    return [r["place_id"] for r in todo.collect()]


def _ingest_capped(
    spark: SparkSession,
    pending: DataFrame,
    backlog_store: str,
    review_store: str,
    review_fetcher: Callable[[str, int], list[dict]],
    max_keys: int | None,
    batch_seq: int,
) -> None:
    """Ingest up to `max_keys` pending keys (all for None), marking them
    done afterwards.

    At-least-once order: the 'todo' marks are already durable (appended by
    the caller before this runs); the chunk is ingested (review merge is
    idempotent on (place_id, id), so a crash-replay of the chunk is
    harmless); only then are 'done' marks appended.  A crash between
    ingest and the done-append re-ingests the chunk later — nothing is
    ever lost, because no step deletes log data."""
    chunk = _take_chunk(pending, max_keys)
    if not chunk:
        return
    ingest_reviews(spark, chunk, review_fetcher, review_store, batch_seq=batch_seq)
    chunk_df = local_frame(spark, [(k,) for k in chunk], "place_id string")
    _append_marks(chunk_df, backlog_store, "done")


def drain_backlog(
    spark: SparkSession,
    backlog_store: str,
    review_store: str,
    review_fetcher: Callable[[str, int], list[dict]],
    max_keys_per_batch: int | None,
    start_seq: int = 1_000_000,
) -> None:
    """Drain any carried-over fan-out backlog to empty, one chunk of at
    most max_keys_per_batch keys (None: no cap) per round."""
    if max_keys_per_batch is not None and max_keys_per_batch < 1:
        raise ValueError(f"max_keys_per_batch must be >= 1, got {max_keys_per_batch}")
    round_no = 0
    while True:
        pending = _read_pending(spark, backlog_store)
        if pending is None or pending.isEmpty():
            return
        _ingest_capped(
            spark, pending.localCheckpoint(eager=True), backlog_store, review_store,
            review_fetcher, max_keys_per_batch, start_seq + round_no,
        )
        round_no += 1


def run_orchestration(
    spark: SparkSession,
    restaurant_landing_dir: str,
    restaurant_store: str,
    review_store: str,
    checkpoint_dir: str,
    review_fetcher: Callable[[str, int], list[dict]],
    backlog_store: str,
    max_keys_per_batch: int | None = None,
) -> list[StreamingQueryProgress]:
    """availableNow activation of the whole §3.3 DAG; returns the
    stream's progress (drain), read after the post-stream backlog drain.

    Every new place_id's review fan-out is an obligation in the
    append-only `backlog_store` log before the restaurant store commits
    it, so a crash anywhere in a batch loses no review crawl.
    `max_keys_per_batch` bounds the one driver-side materialization (the
    key list driving the per-key review fan-out): each micro-batch
    ingests at most that many pending keys and leaves the overflow in the
    log, which later batches — and a final post-stream drain — keep
    draining under the same cap.  None means no cap: a backfill-sized
    batch then builds a driver list proportional to the batch (the
    reference's one-Batch-job-per-restaurant loop has the same unbounded
    fan-out, lambda_function.py:145-183)."""
    if max_keys_per_batch is not None and max_keys_per_batch < 1:
        raise ValueError(f"max_keys_per_batch must be >= 1, got {max_keys_per_batch}")
    stream = landing_stream(spark, restaurant_landing_dir, RESTAURANT)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        valid = fill_rds_defaults(require_fields(batch_df, ["place_id", "name"]))
        valid = valid.dropDuplicates(["place_id"])
        fresh = unseen(spark, valid, restaurant_store, "place_id")
        # durable FIRST — and specifically BEFORE the restaurant-store
        # commit: `fresh` is an anti join against the store, so a crash
        # after the store commit but before the todo-append would replay
        # the batch with fresh EMPTY and the review obligation lost
        # forever (caught by the r9 fault-injection soak).  Appending
        # todo first is safe in the other direction: a crash before the
        # store commit replays with fresh unchanged and the re-appended
        # todo marks collapse in _read_pending's distinct.
        _append_marks(fresh.select("place_id"), backlog_store, "todo")
        merge_append(fresh, restaurant_store, partition_col=None, batch_seq=batch_id)
        pending = _read_pending(spark, backlog_store)
        if pending is None:
            return
        # materialize BEFORE _ingest_capped appends done-marks: the
        # pending lineage reads the log being appended to; K5's
        # one-Batch-job-per-restaurant becomes one seed frame per chunk
        _ingest_capped(
            spark, pending.localCheckpoint(eager=True), backlog_store, review_store,
            review_fetcher, max_keys_per_batch, batch_id,
        )

    progress = drain(stream.writeStream.foreachBatch(on_batch), checkpoint_dir)
    drain_backlog(spark, backlog_store, review_store, review_fetcher, max_keys_per_batch)
    return progress


def compact_backlog(spark: SparkSession, backlog_store: str, out_path: str) -> None:
    """Maintenance: rewrite the append-only mark log as pending-only
    'todo' marks at `out_path` (done pairs cancelled).  Writes to a NEW
    path like sinks.merge.compact — the live log is never overwritten, so
    the swap stays crash-safe (keep the old dir until the new one is
    committed); marks keep accumulating otherwise."""
    pending = _read_pending(spark, backlog_store)
    if pending is None:
        pending = local_frame(spark, [], "place_id string")
    pending.select("place_id", F.lit("todo").alias("_op")).write.mode(
        "error"
    ).parquet(out_path)
