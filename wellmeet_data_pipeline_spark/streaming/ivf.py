"""Streaming IVF index maintenance — the incremental path the r6
verdict asked for: the RAG/vector store no longer re-probes a static
index; new vectors merge into the inverted file per micro-batch without
retraining, and a drift read tells the operator when retraining is due.

Layout (two merge-append stores under the standard exactly-once
contract — first-arrived row per id wins, so replays are no-ops):

- seeds store:  (__sid, __sq) written ONCE at init — the trained
  centroids (k lowest-id vectors of the initial corpus, the
  kmeans_assign_step init contract; swap in k-means-refined centroids
  without changing anything downstream).
- assignment store: (__id, __sid, __q, __new) — one row per vector,
  centroid assignment computed against the PERSISTED seeds (never
  re-derived from data, so assignments are stable across batches), __new
  marks post-init arrivals.

The drift read resolves the SAME per-centroid report as the batch
operator (`ivf_index_merge`) through the shared `_ivf_merge_report`
core: counts before/added and the mean-shift cosine on exact
decimal(38,0) integer sums — parity with batch is pinned in pytest.
At 100 TB the assignment store is the narrow (id, centroid, q) column
family; vector payloads are written once and never shuffle on the
maintenance path (assignment is a broadcast NL join against the k-row
seed frame inside each micro-batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.operators.similarity import (
    _ivf_assign,
    _ivf_merge_report,
    _quantized_vecs,
    ivf_seed_centroids,
)
from wellmeet_data_pipeline_spark.sinks.merge import merge_append, read_current
from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream


def init_ivf_store(
    initial_vecs: DataFrame,
    seeds_path: str,
    assign_path: str,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> None:
    """Train-once: persist the centroids and the initial assignments
    (batch_seq 0, __new = 0)."""
    q = _quantized_vecs(initial_vecs, id_col, vec_col, quant)
    # ragged-dim contract (ivf_index_merge): dim = max length of the
    # initial corpus; shorter vectors never enter the index
    dim_row = q.agg(F.max(F.size("__q"))).first()
    if dim_row is not None and dim_row[0] is not None:
        q = q.filter(F.size("__q") == dim_row[0])
    seeds = ivf_seed_centroids(q, k)
    merge_append(seeds, seeds_path, partition_col=None, batch_seq=0)
    spark = initial_vecs.sparkSession
    persisted = read_current(spark, seeds_path, id_col="__sid")
    assigned = _ivf_assign(q, persisted.select("__sid", "__sq"), 0)
    merge_append(assigned, assign_path, partition_col=None, batch_seq=0)


def run_ivf_maintenance(
    spark: SparkSession,
    landing_dir: str,
    seeds_path: str,
    assign_path: str,
    checkpoint_dir: str,
    schema: StructType,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> list[StreamingQueryProgress]:
    """Landing vector batches -> assign to the PERSISTED centroids ->
    idempotent merge-append, availableNow.  batch_seq >= 1 marks the
    rows as post-init (__new = 1) for the drift read."""
    stream = landing_stream(spark, landing_dir, schema)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        seeds = read_current(spark, seeds_path, id_col="__sid").select(
            "__sid", "__sq"
        )
        q = _quantized_vecs(
            batch_df.dropDuplicates([id_col]), id_col, vec_col, quant
        )
        # the PERSISTED seeds define the index dimensionality; arrivals
        # of any other length are dropped (the ragged-dim contract)
        dim_row = seeds.select(F.size("__sq")).first()
        if dim_row is not None:
            q = q.filter(F.size("__q") == dim_row[0])
        assigned = _ivf_assign(q, seeds, 1)
        merge_append(assigned, assign_path, partition_col=None, batch_seq=batch_id + 1)

    return drain(stream.writeStream.foreachBatch(write_batch), checkpoint_dir)


def current_index_report(
    spark: SparkSession, assign_path: str, round_digits: int = 6
) -> DataFrame:
    """Per-centroid (centroid_id, n_before, n_added, mean_shift_cos)
    from the assignment store — the SAME report ivf_index_merge computes
    in batch, through the shared core.  mean_shift_cos decaying under
    1 is the retrain trigger."""
    members = read_current(spark, assign_path, id_col="__id").select(
        "__sid", "__id", "__q", "__new"
    )
    return _ivf_merge_report(members, round_digits)
