"""Streaming domain-cap admission gate — the incremental twin of
`web.domain_doc_caps` (RefinedWeb per-domain frequency caps applied at
ingest time instead of over a finished corpus).

A persisted DECISION store holds one row per doc ever seen: (doc_id,
domain, keep).  Per micro-batch: docs already decided are skipped (the
done-skip that makes replays no-ops — rejected docs are stored too, so
nothing is ever re-evaluated); new docs rank within their batch per
domain, offset by the count of PREVIOUSLY ADMITTED docs in that domain,
and are admitted while the running total stays within the cap.

Ordering contract (the fuzzy-upsert / ExactSubstr class, documented
bounded divergence): batch `domain_doc_caps` keeps the `cap` LOWEST
doc_ids per domain; the stream keeps the FIRST `cap` ARRIVALS.  When
batches arrive in ascending doc_id order the two are identical
(parity-pinned in pytest); out-of-order arrival admits a different —
but equally valid under the cap — survivor set.

Scale: the per-batch window is batch-sized; the admitted-count
aggregation is one map-side-combined groupBy over the store's (domain)
column; decisions append under first-wins (doc_id) identity, so a
replayed batch re-derives decisions only for docs a crash left
unrecorded (and the admitted-count offset it sees is at least what the
original saw — admitted counts only grow, so a replay can never
over-admit a domain past the cap... it can only under-admit in the
crash window, the safe direction for a cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.operators.web import url_domain
from wellmeet_data_pipeline_spark.sinks.merge import (
    merge_append,
    read_current,
    read_current_or_none,
)
from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream


def run_streaming_domain_caps(
    spark: SparkSession,
    landing_dir: str,
    decision_store: str,
    checkpoint_dir: str,
    schema: StructType,
    url_col: str = "url",
    id_col: str = "doc_id",
    cap: int = 3,
) -> list[StreamingQueryProgress]:
    """Landing docs -> per-domain capped admission decisions, availableNow."""
    stream = landing_stream(spark, landing_dir, schema)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        from wellmeet_data_pipeline_spark.operators.dedup import dedup_keep_first

        # within-batch id dedup (deterministic: lowest url string wins) —
        # a doc delivered twice in one batch must yield ONE decision row,
        # not two rows tying on _batch_seq and burning a cap slot
        # (review catch; the exactsubstr/kcore twins already do this)
        deduped = dedup_keep_first(batch_df, id_col, url_col)
        docs = deduped.select(
            id_col, url_domain(F.col(url_col)).alias("domain")
        )
        decided = read_current_or_none(spark, decision_store, id_col=id_col)
        if decided is not None:
            docs = docs.join(decided.select(id_col), id_col, "left_anti")
            admitted_counts = (
                decided.filter(F.col("keep") == 1)
                .groupBy("domain")
                .agg(F.count("*").alias("__admitted"))
            )
        else:
            admitted_counts = None
        # docs whose URL doesn't parse can never be admitted, but they
        # MUST get a (rejected) decision row or the done-skip never
        # learns them and every replay re-examines them forever — the
        # same done-ledger class as the ExactSubstr empties
        non_url = docs.filter(F.col("domain").isNull()).select(
            id_col, "domain", F.lit(0).cast("int").alias("keep")
        )
        urls = docs.filter(F.col("domain").isNotNull())
        w = Window.partitionBy("domain").orderBy(id_col)  # batch-sized
        ranked = urls.withColumn("__r", F.row_number().over(w))
        if admitted_counts is not None:
            ranked = ranked.join(admitted_counts, "domain", "left").withColumn(
                "__r", F.col("__r") + F.coalesce(F.col("__admitted"), F.lit(0))
            )
        decisions = ranked.select(
            id_col,
            "domain",
            (F.col("__r") <= cap).cast("int").alias("keep"),
        ).unionByName(non_url)
        merge_append(decisions, decision_store, partition_col=None, batch_seq=batch_id)

    return drain(stream.writeStream.foreachBatch(on_batch), checkpoint_dir)


def current_domain_survivors(
    spark: SparkSession, decision_store: str, id_col: str = "doc_id"
) -> DataFrame:
    """Docs admitted under the cap so far: (id, domain)."""
    cur = read_current(spark, decision_store, id_col=id_col)
    return cur.filter(F.col("keep") == 1).select(id_col, "domain")
