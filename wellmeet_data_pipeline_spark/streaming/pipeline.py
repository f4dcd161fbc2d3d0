"""Structured Streaming pipelines (SURVEY.md §2.10, §3.3).

The reference's choreography — S3 ObjectCreated -> Lambda -> AWS Batch ->
Lambda (§3.3: 4 processes, 3 network hops) — collapses into file-source
micro-batches:

  T1 trigger        a file-source stream on the landing dir (landing_stream) +
                    Trigger.AvailableNow via drain(), which runs one
                    activation to quiescence (= the reference's
                    event-per-upload + convergence loop R5) and returns
                    the query's StreamingQueryProgress list: rows in,
                    per-batch durationMs, state-operator sizes
  T2 state          the file-source checkpoint tracks processed files;
                    cross-batch id dedup via watermark + dropDuplicates;
                    state size is in drain()'s progress (numRowsTotal)
  T4 idempotency    foreachBatch -> merge_append sink (exactly-once per id
                    through the dedup-on-read view); every partial store
                    is one run_partials body (foreachBatch -> a batch's
                    partial -> merge_append -> drain) read back by
                    read_partials under identity (*keys, batch seq), so
                    a replayed batch re-appends its own identity and
                    vanishes on read
  K2 insert-if-     unseen(frame, store, key): the rows whose key the
     absent         store does not hold yet (left anti-join against the
                    store's committed key set, read with no first-wins
                    window; the frame itself before the store's first
                    commit)
  T5 backpressure   maxFilesPerTrigger replaces the [:10] caps and sleeps
  T6 late data      explicit watermark instead of the silent newest-first
                    assumption (naver_crawler.py:243-247); the rows it
                    drops are reported, not silent: each state operator's
                    numRowsDroppedByWatermark in drain()'s progress
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.sinks.merge import (
    BATCH_COL,
    merge_append,
    read_current_or_none,
    read_keys_or_none,
)
from wellmeet_data_pipeline_spark.sources.ingest import incremental_ingest


def landing_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """T1/S6: the landing directory IS the event source — every new file is
    an ObjectCreated record (submit-aws-batch-lambda/lambda_function.py:
    33-39) without the Lambda hop."""
    reader = spark.readStream.schema(schema).option("multiLine", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(landing_dir)


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> list[StreamingQueryProgress]:
    """T1/R5: run one availableNow activation of `writer` to quiescence.

    Returns the query's `recentProgress`: one StreamingQueryProgress per
    micro-batch, carrying numInputRows, durationMs and, per state
    operator, numRowsTotal and numRowsDroppedByWatermark (T6).  Only the
    last `spark.sql.streaming.numRecentProgressUpdates` (default 100)
    batches are kept.  A failed batch raises StreamingQueryException."""
    query = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query.recentProgress


def run_partials(
    stream: DataFrame,
    store: str,
    checkpoint_dir: str,
    partial: Callable[[DataFrame], DataFrame],
) -> list[StreamingQueryProgress]:
    """T4: the one body of every partial store.  Each micro-batch appends
    `partial(batch)` under its batch id (merge_append commits nothing for
    an empty partial); runs one availableNow activation and returns its
    progress."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_append(partial(batch_df), store, partition_col=None, batch_seq=batch_id)

    return drain(stream.writeStream.foreachBatch(write_batch), checkpoint_dir)


def read_partials(
    spark: SparkSession, store: str, keys: Sequence[str]
) -> DataFrame | None:
    """The run_partials store deduped on (*keys, batch seq): one row per
    key per batch, so a replayed batch's re-appended partials collapse
    while distinct batches' partials all survive for the caller's
    rollup.  None before the first commit."""
    return read_current_or_none(spark, store, id_col=[*keys, BATCH_COL])


def unseen(
    spark: SparkSession, frame: DataFrame, store: str, key: str | list[str]
) -> DataFrame:
    """K2 insert-if-absent: the rows of `frame` whose `key` the store does
    not hold yet — a left anti-join against the store's committed key set
    (`read_keys_or_none`: the pinned scan of the key columns, no
    first-wins window, since which row wins never changes which keys are
    present); `frame` itself before the store's first commit."""
    stored = read_keys_or_none(spark, store, key)
    if stored is None:
        return frame
    return incremental_ingest(frame, stored, key)


def run_ingest_pipeline(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    id_col: str = "id",
    partition_col: str | None = "place_id",
) -> list[StreamingQueryProgress]:
    """§3.3 as ONE streaming pipeline: validate -> per-batch dedup ->
    idempotent merge-append.  Cross-batch duplicates are handled by the
    sink's dedup-on-read (T4): re-delivered ids never surface twice.
    Runs with availableNow and blocks until drained (R5 convergence)."""
    stream = landing_stream(spark, landing_dir, schema)
    valid = stream.filter(F.col(id_col).isNotNull())

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.dropDuplicates([id_col])  # D1 within the batch
        merge_append(fresh, store_path, partition_col=partition_col, batch_seq=batch_id)

    return drain(valid.writeStream.foreachBatch(write_batch), checkpoint_dir)


def run_windowed_counts(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: StructType,
    ts_col: str = "ts",
    minutes: int = 10,
    watermark: str = "30 minutes",
) -> list[StreamingQueryProgress]:
    """T6/T7: watermarked tumbling-window counts over an event stream —
    late rows beyond the watermark are dropped *explicitly* (the reference
    silently truncated via its newest-first assumption), and the returned
    progress counts them (numRowsDroppedByWatermark)."""
    stream = landing_stream(spark, landing_dir, schema)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), f"{minutes} minutes").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return drain(
        agg.writeStream.format("parquet").option("path", out_path).outputMode("append"),
        checkpoint_dir,
    )


def run_session_windows(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: StructType,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> list[StreamingQueryProgress]:
    """T7's streaming twin of operators.windows.session_window_agg:
    watermarked F.session_window sessionization.  The state store keys on
    (key, merging session) and shards on the groupBy shuffle — the same
    per-key layout the batch gaps-and-islands form shuffles on, so the
    batch and stream agree wherever no two events are exactly one gap
    apart (F.session_window closes at `last + gap`, i.e. a gap == the
    threshold starts a new session; the batch/SQL form uses strictly >).

    Emits (key, session_start, n_events, sum_value) per closed session —
    session_start == min(ts) exactly as in the batch form; the window's
    end is last_event + gap by definition, so parity checks compare on
    start.  availableNow drains the source and the watermark closes every
    session older than the horizon."""
    stream = landing_stream(spark, landing_dir, schema)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes").alias("sw"),
            F.col(key_col),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col(key_col),
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return drain(
        agg.writeStream.format("parquet").option("path", out_path).outputMode("append"),
        checkpoint_dir,
    )


def _stream_stream_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str,
    ts_col: str,
    window_seconds: int,
    watermark: str,
    how: str,
) -> list[StreamingQueryProgress]:
    """The body of both watermarked stream-stream joins below; `how` is
    the join type."""
    left = (
        landing_stream(spark, left_dir, schema)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key_col),
            F.col("event_id").alias("l_event_id"),
            F.col(ts_col).alias("l_ts"),
        )
    )
    right = (
        landing_stream(spark, right_dir, schema)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key_col).alias("__rk"),
            F.col("event_id").alias("r_event_id"),
            F.col(ts_col).alias("r_ts"),
        )
    )
    joined = left.join(
        right,
        (F.col(key_col) == F.col("__rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")),
        how,
    ).select(
        key_col,
        "l_event_id",
        "r_event_id",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("delta_us"),
    )
    return drain(
        joined.writeStream.format("parquet").option("path", out_path).outputMode("append"),
        checkpoint_dir,
    )


def run_stream_stream_range_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window_seconds: int = 1800,
    watermark: str = "1 hour",
) -> list[StreamingQueryProgress]:
    """Watermarked stream-stream range join — the streaming twin of
    `range_join_events` (click ⋈ purchase within a window per user).
    Both sides watermark on event time; the join condition bounds the
    right side's timestamp to [left.ts, left.ts + window], which is what
    lets Structured Streaming EVICT state: a buffered left row can be
    dropped once the right watermark passes left.ts + window.  An
    unbounded-condition stream-stream join would hold both sides
    forever — the time bound IS the state-retention contract at scale.

    Output columns mirror the batch operator: (user_id, l_event_id,
    r_event_id, delta_us).  Append-mode parquet sink; availableNow."""
    return _stream_stream_join(
        spark, left_dir, right_dir, out_path, checkpoint_dir, schema,
        key_col, ts_col, window_seconds, watermark, "inner",
    )


def run_stream_stream_left_outer_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window_seconds: int = 1800,
    watermark: str = "1 hour",
) -> list[StreamingQueryProgress]:
    """Watermarked stream-stream LEFT OUTER join: every left event is
    emitted exactly once — matched rows as soon as the match arrives,
    UNMATCHED rows only when the watermark proves no match can still
    come (the engine holds the left row in state until right's
    watermark passes left.ts + window, then emits it with nulls).  This
    is the abandonment/attribution read (clicks with no purchase inside
    the window) that an inner join silently drops — and the null-emit
    timing is exactly why the time-bound + watermark are mandatory on
    BOTH sides: without them unmatched rows could never be declared
    final.  Output mirrors the inner twin plus nullable right columns."""
    return _stream_stream_join(
        spark, left_dir, right_dir, out_path, checkpoint_dir, schema,
        key_col, ts_col, window_seconds, watermark, "left_outer",
    )
