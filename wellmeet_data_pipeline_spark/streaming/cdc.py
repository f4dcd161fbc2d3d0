"""Streaming CDC apply: incrementally materialize latest-state from a
changelog stream — the streaming twin of operators/dedup.cdc_apply_latest
(same per-key greatest-(order)-wins + tombstone semantics, maintained
micro-batch by micro-batch instead of from a full rescan).

Store contract (same scheme as streaming/analytics.py): each micro-batch
REDUCES to its per-key latest row first (one window over the batch —
batch-sized, never store-sized) and appends those rows identified by
(key, batch seq).  Tombstones are KEPT in the store: a later reader must
learn the key died; dropping them at write time would resurrect the
previous version.  Replayed batches re-append the same (key, batch)
identity and the dedup-on-read view drops them — exactly-once under the
foreachBatch at-least-once replay contract (a fresh checkpoint requires
a fresh store, as everywhere in this repo).

Read side: first reduce per (key) across the stored per-batch partials by
the CHANGELOG order (order_cols — a total order like (commit_ts, seq),
never batch id: a backfill batch may legitimately carry older rows than
a previous batch), then filter tombstones.  Store stays O(keys x batches)
and compacts with sinks.merge.compact keyed on (key, batch).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.operators.dedup import (
    cdc_apply_latest,
    latest_per_key,
)
from wellmeet_data_pipeline_spark.streaming.pipeline import (
    landing_stream,
    read_partials,
    run_partials,
)


def run_streaming_cdc_apply(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str,
    order_cols: Sequence[str],
) -> list[StreamingQueryProgress]:
    """Drain the changelog landing stream (availableNow), appending each
    batch's per-key latest rows (tombstones included) to the store."""
    orders = list(order_cols)
    # same reducer (and tie-breaking) as the batch operator — the
    # batch-vs-stream equivalence depends on sharing it
    return run_partials(
        landing_stream(spark, landing_dir, schema), store_path, checkpoint_dir,
        lambda batch: latest_per_key(batch, [key_col], orders),
    )


def current_state(
    spark: SparkSession,
    store_path: str,
    key_col: str,
    order_cols: Sequence[str],
    op_col: str,
    delete_op: str,
) -> DataFrame:
    """Latest live row per key from the store (raises FileNotFoundError
    if no batch has been written yet).  Reduction is by changelog order
    across the per-batch partials; tombstoned keys are absent.

    Identity for replay dedup is the full (key, batch) pair — replayed
    batches re-deliver the same data, so their re-appended rows are exact
    copies and first-wins collapses them; partials from DISTINCT batches
    all survive into the changelog-order reduction."""
    store = read_partials(spark, store_path, [key_col])
    if store is None:
        raise FileNotFoundError(store_path)
    return cdc_apply_latest(
        store, [key_col], list(order_cols), op_col, delete_op
    )
