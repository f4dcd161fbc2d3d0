"""Streaming Bloom-filter registry — the incremental twin of
`joins.bloom_prefilter_stats` (the build side's bit set maintained at
ingest time instead of rebuilt over a finished table).

The bit set is the perfect streaming monoid: membership bits are
idempotent under OR, so the persisted store is just the distinct (pos)
rows ever set, appends are naturally exactly-once (a bit is its own
idempotency token — the streaming/kcore.py edge-store discipline), and
a crash-replayed batch re-appends bits the store already holds, which
the left_anti dedup turns into a no-op.  A Bloom filter can only be
GROWN incrementally (deletes would need counting filters), matching the
append-only build-side registries (insert-if-absent stores, K2) this
prefilter fronts.

At 100 TB the payoff is the same as the batch operator's: the probe
side consults a bounded bit frame (k bits per build key at most)
instead of the build table itself, and the stream keeps that frame
current without a rebuild scan per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.operators.joins import bloom_bit_positions
from wellmeet_data_pipeline_spark.sinks.merge import read_current_or_none
from wellmeet_data_pipeline_spark.streaming.pipeline import (
    landing_stream,
    run_partials,
    unseen,
)


def run_streaming_bloom_bits(
    spark: SparkSession,
    landing_dir: str,
    bits_store: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> list[StreamingQueryProgress]:
    """Landing build-side rows -> persisted Bloom bit set, availableNow.
    Store rows: (pos) under first-wins identity."""

    def new_bits(batch: DataFrame) -> DataFrame:
        bits = (
            batch.filter(F.col(key_col).isNotNull())
            .select(
                F.explode(
                    bloom_bit_positions(F.col(key_col), m_bits, k_hashes)
                ).alias("pos")
            )
            .distinct()
        )
        # empty for an all-NULL, fully-duplicate or saturated batch
        return unseen(spark, bits, bits_store, "pos")

    return run_partials(
        landing_stream(spark, landing_dir, schema), bits_store, checkpoint_dir, new_bits
    )


def current_bloom_prefilter_stats(
    spark: SparkSession,
    bits_store: str,
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Probe a streamed bit store through the batch operator ITSELF
    (bloom_prefilter_stats with the store injected as `bits`) — the
    pass rule and FP accounting live in one place, so stream-vs-batch
    parity is structural, not copy-pasted (review catch).  Output
    schema matches bloom_prefilter_stats."""
    from wellmeet_data_pipeline_spark.operators.joins import bloom_prefilter_stats

    cur = read_current_or_none(spark, bits_store, id_col="pos")
    bits = (
        cur.select("pos")
        if cur is not None
        else local_frame(spark, [], "pos long")
    )
    return bloom_prefilter_stats(
        build, probe, build_key, probe_key,
        m_bits=m_bits, k_hashes=k_hashes, bits=bits,
    )
