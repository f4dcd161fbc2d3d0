"""Streaming winnowing-fingerprint registry — the incremental twin of
`dedup.winnowing_fingerprints` (a benchmark/reference corpus's selected
fingerprints maintained at ingest time instead of rebuilt per audit).

The registry is a natural streaming monoid: the winnowing selection is
a pure per-document function, so the store is just the union of each
document's (doc_id, pos, fp) rows — appends are exactly-once under the
first-wins read (a fingerprint row is its own idempotency token, the
bloom/kcore store discipline), and a crash-replayed batch re-appends
rows the dedup-on-read view already hides.

What it buys over the Bloom/exact-key registries: NEAR-match
decontamination.  Exact-key gates miss a benchmark passage pasted into
a longer document; winnowing guarantees any shared run of >= w + k - 1
words shares a fingerprint, so probing the registry catches embedded
contamination with a bounded index (~2/(w+1) of grams) instead of a
full substring index.

At 100 TB: the registry is fingerprint-grain (narrow ints), the probe
side joins on fp hash — one shuffle each side, bucket-bounded like
every inverted-index tier here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.sinks.merge import read_current_or_none
from wellmeet_data_pipeline_spark.streaming.pipeline import landing_stream, run_partials


def run_streaming_fingerprint_registry(
    spark: SparkSession,
    landing_dir: str,
    store: str,
    checkpoint_dir: str,
    schema: StructType,
    k: int = 3,
    w: int = 4,
) -> list[StreamingQueryProgress]:
    """Landing reference documents -> persisted winnowing-fingerprint
    registry, availableNow.  Store rows: (doc_id, pos, fp) under
    first-wins compound identity."""
    from wellmeet_data_pipeline_spark.operators.dedup import winnowing_fingerprints

    # empty for all-NULL or too-short docs
    return run_partials(
        landing_stream(spark, landing_dir, schema), store, checkpoint_dir,
        lambda batch: winnowing_fingerprints(
            batch.filter(F.col("text").isNotNull()), k=k, w=w
        ),
    )


def current_fingerprint_matches(
    spark: SparkSession,
    store: str,
    probe_docs: DataFrame,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Probe documents against the streamed registry through the batch
    operator itself (winnowing on the probe side, fp-hash equi-join) —
    parity with the batch twin is structural.  Output: (probe_id,
    ref_id, n_shared_fp), one row per (probe doc, registry doc) pair
    sharing at least one fingerprint."""
    from wellmeet_data_pipeline_spark.operators.dedup import winnowing_fingerprints

    reg = read_current_or_none(spark, store, id_col=["doc_id", "pos", "fp"])
    if reg is None:
        return local_frame(
            spark, [], "probe_id long, ref_id long, n_shared_fp bigint"
        )
    probe_fp = winnowing_fingerprints(
        probe_docs.filter(F.col("text").isNotNull()), k=k, w=w
    )
    return (
        probe_fp.select(F.col("doc_id").alias("probe_id"), "fp")
        .distinct()
        .join(
            reg.select(F.col("doc_id").alias("ref_id"), "fp").distinct(), "fp"
        )
        .groupBy("probe_id", "ref_id")
        .agg(F.count("*").cast("long").alias("n_shared_fp"))
    )
