"""Custom stateful streaming operators (SURVEY.md §2.10 T2,
applyInPandasWithState).

The reference's cross-run dedup state is 'the ID set re-read from the
data files before every run' (review-crawler/main.py:32, S5) — O(corpus)
per activation.  The streaming-native form keeps a checkpointed state
store keyed by id: each key's first arrival is emitted, every later
arrival is dropped, state survives restarts via the checkpoint, and the
state store shards across executors with the shuffle on the key — the
exact layout the reference's Python set can't have.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from wellmeet_data_pipeline_spark.catalog import local_frame

_STATE_SCHEMA = "seen integer"


def dedup_stream_by_id(
    stream: DataFrame, id_col: str = "id", tiebreak_cols: Sequence[str] | None = None
) -> DataFrame:
    """Emit only the first-ever row per id across ALL micro-batches.

    groupBy(id) -> applyInPandasWithState: state is one int per id.  If
    the key has state, drop everything; otherwise emit exactly one row.
    Cross-batch the survivor is arrival order (the reference's append
    semantics); WITHIN a batch the survivor is the min row under
    `tiebreak_cols` (default: every non-id column, in schema order) —
    matching dedup_keep_first's declared-order determinism instead of
    whatever row Arrow happened to deliver first."""
    out_schema = stream.schema
    order_cols = list(tiebreak_cols) if tiebreak_cols else [
        f.name for f in stream.schema.fields if f.name != id_col
    ]

    def first_only(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return
        chunks = [pdf for pdf in pdfs if len(pdf) > 0]
        if not chunks:
            return
        batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        state.update((1,))
        yield batch.sort_values(order_cols, kind="mergesort").head(1)

    return stream.groupBy(id_col).applyInPandasWithState(
        first_only,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_dedup(
    spark,
    landing_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "id",
) -> list[StreamingQueryProgress]:
    """availableNow pipeline: landing JSON -> stateful first-per-id ->
    parquet append.  Re-delivered ids in later activations never reach the
    sink (contrast sinks.merge, which admits them and hides them on read)."""
    from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream

    stream = landing_stream(spark, landing_dir, schema)
    deduped = dedup_stream_by_id(stream, id_col)
    return drain(
        deduped.writeStream.format("parquet").option("path", out_path).outputMode("append"),
        checkpoint_dir,
    )


def debounce_stream(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    cooldown_seconds: int = 300,
) -> DataFrame:
    """KEPT-ANCHORED debounce: emit an event only if >= cooldown has passed
    since the last EMITTED event of the same key — the semantics a lag()
    window cannot express (the anchor advances only on kept events, an
    inherently sequential scan), which is exactly what per-key streaming
    state is for.  Contrast the batch `event_debounce` query, which
    documents itself as successive-gap thinning.

    State per key: the last-kept event-time epoch microseconds.  Within a
    batch rows are processed in (ts, remaining columns) order so output
    is deterministic under retries.  Chain of sub-cooldown events: only
    the first survives, no matter how long the chain runs — time since
    last KEPT, not since last SEEN.

    Disorder caveat: the anchor is monotone — an event arriving in a
    LATER batch with an event time before the current anchor is dropped,
    so output depends on delivery order for out-of-order streams.  Bound
    the disorder upstream with a watermark (and accept drop-late
    semantics), or use the batch `event_debounce` query on settled data
    where a total event-time order exists."""
    out_schema = stream.schema
    keys = list(key_cols)
    order_cols = [ts_col] + [
        f.name for f in stream.schema.fields if f.name not in (*keys, ts_col)
    ]

    def keep_after_cooldown(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunks = [pdf for pdf in pdfs if len(pdf) > 0]
        if not chunks:
            return
        batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        batch = batch.sort_values(order_cols, kind="mergesort")
        last_us = state.get[0] if state.exists else None
        cooldown_us = cooldown_seconds * 1_000_000
        kept_rows = []
        for i, ts in enumerate(batch[ts_col]):
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if last_us is None or ts_us - last_us >= cooldown_us:
                kept_rows.append(i)
                last_us = ts_us
        if last_us is not None:
            state.update((last_us,))
        if kept_rows:
            yield batch.iloc[kept_rows]

    return stream.groupBy(*keys).applyInPandasWithState(
        keep_after_cooldown,
        outputStructType=out_schema,
        stateStructType="last_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_TRANS_STATE_SCHEMA = "last_ts long, last_id long, last_state string"


def transition_stream(
    stream: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    state_col: str = "event_type",
) -> DataFrame:
    """Per-entity (from_state, to_state) transition rows over a stream —
    the incremental substrate of the Markov session-path monitor
    (batch twin: operators/stats.markov_transition_probs).

    Per-key state is the entity's LAST event (ts, id, state): each batch
    sorts the entity's new events by (ts, id) — the batch twin's exact
    total order — emits the boundary transition from the stored last
    event into the batch's first, then the within-batch adjacencies, and
    advances the state.  Cross-batch transitions therefore need no
    rescan and no raw-event store: state is ONE row per entity.

    Ordering contract: per-entity EVENT-TIME-ordered arrival across
    micro-batches (the landing-stream norm; within a batch any order is
    fine — we sort).  An out-of-order source needs a watermark-delayed
    reorder upstream; the monitor documents rather than hides that,
    matching the batch twin's declared (ts, id) order."""

    def emit(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunks = [pdf for pdf in pdfs if len(pdf) > 0]
        if not chunks:
            return
        batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        # ts_col must be an integer event-time column (unix micros) so the
        # state tuple round-trips exactly; null ts/id/state rows can't
        # take part in an ordered transition and drop here (the batch
        # twin's NOT NULL filters)
        batch = batch.dropna(subset=[ts_col, id_col, state_col])
        if len(batch) == 0:
            return
        batch = batch.sort_values([ts_col, id_col], kind="mergesort")
        states = batch[state_col].tolist()
        prev = state.get if state.exists else None
        froms, tos = [], []
        last = prev[2] if prev is not None else None
        for s in states:
            if last is not None:
                froms.append(last)
                tos.append(s)
            last = s
        tail = batch.iloc[-1]
        state.update((int(tail[ts_col]), int(tail[id_col]), str(tail[state_col])))
        if froms:
            yield pd.DataFrame({"from_state": froms, "to_state": tos})

    return stream.groupBy(entity_col).applyInPandasWithState(
        emit,
        outputStructType="from_state string, to_state string",
        stateStructType=_TRANS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_transitions(
    spark,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    state_col: str = "event_type",
) -> list[StreamingQueryProgress]:
    """availableNow pipeline: landing JSON -> stateful per-entity
    transition emission -> per-batch (from, to) partial counts appended
    to a dedup-on-read store keyed by (from, to, batch seq).  Replays
    re-append the same identity and vanish on read — the exactly-once
    partial-count store contract shared with the CUSUM / PSI / hot-key
    monitors (streaming/analytics.py)."""
    from wellmeet_data_pipeline_spark.streaming.pipeline import (
        landing_stream,
        run_partials,
    )

    stream = landing_stream(spark, landing_dir, schema)
    return run_partials(
        transition_stream(stream, entity_col, ts_col, id_col, state_col),
        store_path, checkpoint_dir,
        lambda batch: batch.groupBy("from_state", "to_state").agg(
            F.count("*").cast("long").alias("n_trans")
        ),
    )


def current_transition_probs(spark, store_path: str) -> DataFrame:
    """Consumer view of the streaming Markov monitor: dedup the partial
    store on (from, to, batch seq), roll partials up to true counts, and
    row-normalize through the SAME helper the batch operator uses
    (operators/stats.transition_probs_from_counts) — monitor and batch
    read contract-identical by construction.  Empty store → empty typed
    frame."""
    from wellmeet_data_pipeline_spark.operators.stats import (
        transition_probs_from_counts,
    )
    from wellmeet_data_pipeline_spark.streaming.pipeline import read_partials

    cur = read_partials(spark, store_path, ["from_state", "to_state"])
    if cur is None:
        return local_frame(
            spark, [], "from_state string, to_state string, n_trans bigint, p_micro bigint"
        )
    counts = cur.groupBy("from_state", "to_state").agg(
        F.sum("n_trans").cast("long").alias("n_trans")
    )
    return transition_probs_from_counts(counts)
