"""The reference's full event-driven DAG as ONE streaming pipeline
(SURVEY.md §3.3).

Reference choreography: restaurant JSON lands in S3 → Lambda validates
and saves → one AWS Batch job PER RESTAURANT crawls its reviews → review
JSON lands in S3 → second Lambda projects and posts.  Four processes,
three network hops, a job queue.

Here: one foreachBatch.  Per micro-batch of landed restaurants —
validate (P4) → fill defaults (P7) → insert-if-absent into the
restaurant store (J2/K2) → one review fan-out round.  As in the
reference, saving a restaurant is what owes its review crawl
(submit-aws-batch-lambda/lambda_function.py:165-183): the restaurant
store IS the list of obligations, and a done mark per place_id in a
merge-append `backlog_store` discharges one.  Pending = stored places
with no done mark, so a crash anywhere after the store commit loses no
crawl by construction.  A round collects at most `max_keys_per_batch`
pending keys in place_id order — the only driver-side materialization
— ingests their reviews (J1; K5's job-per-restaurant collapses into
partition-per-key scheduling), then marks them done.  Pending is an
anti-join of key sets (`unseen` of the stored place_ids against the done
marks), so a round reads neither store through its first-wins window.
The stream's own round counts as a drain round: `drain_backlog` runs
after the stream only when no micro-batch ran or the last round took a
full cap.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.listener import StreamingQueryProgress

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.operators.projections import fill_rds_defaults, require_fields
from wellmeet_data_pipeline_spark.pipelines import ingest_reviews
from wellmeet_data_pipeline_spark.schemas import RESTAURANT
from wellmeet_data_pipeline_spark.sinks.merge import (
    committed_seqs,
    merge_append,
    read_keys_or_none,
)
from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream, unseen


def _fan_out(
    spark: SparkSession,
    restaurant_store: str,
    backlog_store: str,
    review_store: str,
    review_fetcher: Callable[[str, int], list[dict]],
    max_keys: int | None,
) -> int:
    """One fan-out round: ingest the reviews of the first `max_keys`
    pending places (all of them for None), then mark them done; returns
    how many places the round took.

    At-least-once: a crash before the done marks commit leaves the chunk
    pending, and its replay re-ingests nothing (the review merge is
    idempotent on (place_id, id)).  The round's seq lies above every
    batch either store has committed, so no round — a replay, or another
    activation's drain — ever commits into an existing batch directory."""
    stored = read_keys_or_none(spark, restaurant_store, "place_id")
    if stored is None:
        return 0
    pending = unseen(spark, stored.distinct(), backlog_store, "place_id")
    pending = pending.orderBy("place_id")
    if max_keys is not None:
        pending = pending.limit(max_keys)
    chunk = [r["place_id"] for r in pending.collect()]
    if chunk:
        committed = committed_seqs(review_store) + committed_seqs(backlog_store)
        seq = 1 + max(committed, default=-1)
        ingest_reviews(spark, chunk, review_fetcher, review_store, batch_seq=seq)
        done = local_frame(spark, [(k,) for k in chunk], "place_id string")
        merge_append(done, backlog_store, partition_col=None, batch_seq=seq)
    return len(chunk)


def drain_backlog(
    spark: SparkSession,
    restaurant_store: str,
    backlog_store: str,
    review_store: str,
    review_fetcher: Callable[[str, int], list[dict]],
    max_keys_per_batch: int | None,
) -> None:
    """Fan out every pending place, one round of at most
    max_keys_per_batch keys (None: no cap) at a time, until a round
    comes back short of the cap: a short round took every place pending
    when it read the stores, so nothing it could see is left."""
    if max_keys_per_batch is not None and max_keys_per_batch < 1:
        raise ValueError(f"max_keys_per_batch must be >= 1, got {max_keys_per_batch}")
    while _fan_out(
        spark, restaurant_store, backlog_store, review_store, review_fetcher,
        max_keys_per_batch,
    ) == max_keys_per_batch:
        pass


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
    stream's progress (drain), read after any post-stream backlog drain.

    Every place in `restaurant_store` owes one review crawl until
    `backlog_store` (a merge-append store of done marks) holds its
    place_id — whoever stored it, this stream or `discover_restaurants`.
    `max_keys_per_batch` bounds the one driver-side materialization (the
    key list driving the per-key review fan-out): each micro-batch
    ingests at most that many pending places and leaves the rest
    pending, which later batches keep draining under the same cap.  The
    stream's last round counts as a drain round, so `drain_backlog` runs
    after the stream only when that round took a full cap, or when no
    micro-batch ran (no new landing file: places another writer stored
    still get their crawl).  None means no cap: a backfill-sized
    batch then builds a driver list proportional to the batch (the
    reference's one-Batch-job-per-restaurant loop has the same unbounded
    fan-out, lambda_function.py:145-183)."""
    if max_keys_per_batch is not None and max_keys_per_batch < 1:
        raise ValueError(f"max_keys_per_batch must be >= 1, got {max_keys_per_batch}")
    stream = landing_stream(spark, restaurant_landing_dir, RESTAURANT)
    rounds: list[int] = []  # places each micro-batch's fan-out round took

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        valid = fill_rds_defaults(require_fields(batch_df, ["place_id", "name"]))
        valid = valid.dropDuplicates(["place_id"])
        fresh = unseen(spark, valid, restaurant_store, "place_id")
        merge_append(fresh, restaurant_store, partition_col=None, batch_seq=batch_id)
        rounds.append(_fan_out(
            spark, restaurant_store, backlog_store, review_store, review_fetcher,
            max_keys_per_batch,
        ))

    progress = drain(stream.writeStream.foreachBatch(on_batch), checkpoint_dir)
    if not rounds or rounds[-1] == max_keys_per_batch:
        drain_backlog(
            spark, restaurant_store, backlog_store, review_store, review_fetcher,
            max_keys_per_batch,
        )
    return progress
