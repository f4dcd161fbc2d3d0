"""Streaming fuzzy insert-if-absent: an incrementally-maintained entity
registry where an incoming record only mints a new entity if it matches
nothing already registered — EXACTLY (the reference's K2 insert-if-
absent, restaurant_save.py:72-130) or within one character deletion
(operators/linkage.fuzzy_link_edit1), so a re-crawled record whose name
lost a character in transcription does not duplicate its entity.

Batch/streaming contract: matching per micro-batch runs against the
registry-so-far through the SAME fuzzy_link_edit1 core as the batch
operator.  Replay safety falls out of the semantics rather than a
side ledger: a replayed batch re-matches against a registry that now
CONTAINS its own insertions, so every record exact-matches and nothing
re-inserts (pinned by test).  Within one micro-batch, records are
deduped exactly by name (keep lowest record id); two DIFFERENT
batch-mates that are fuzzy-but-not-exact matches of each other both
insert — cross-record fuzzy dedup converges one batch later when the
next occurrence matches the registry (documented bounded staleness,
same trade as every micro-batch-grain store in this repo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.sinks.merge import read_current_or_none
from wellmeet_data_pipeline_spark.streaming.pipeline import landing_stream, run_partials

_REGISTRY_SCHEMA = "entity_id long, entity_name string"


def run_streaming_fuzzy_upsert(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    id_col: str = "record_id",
    name_col: str = "record_name",
) -> list[StreamingQueryProgress]:
    """Drain the landing record stream (availableNow); each micro-batch
    inserts the records that match NO registered entity, exactly or
    within one deletion (in either direction: a dirty incoming name one
    char short of a registered one, or an incoming full name whose
    1-short variant was registered first)."""
    from wellmeet_data_pipeline_spark.operators.linkage import fuzzy_link_edit1

    def inserts(batch_df: DataFrame) -> DataFrame:
        # exact within-batch dedup: keep the lowest record id per name.
        # NULL ids are dropped too — entity_id is the registry identity
        # (NULL join keys never match, so a NULL-id record would bypass
        # the absent check and re-insert on every batch)
        recs = (
            batch_df.filter(F.col(name_col).isNotNull() & F.col(id_col).isNotNull())
            .groupBy(F.col(name_col).alias("entity_name"))
            .agg(F.min(id_col).alias("entity_id"))
            .localCheckpoint(eager=True)
        )
        reg = read_current_or_none(spark, store_path, id_col="entity_id")
        if reg is not None:
            reg_c = (
                reg.select(
                    F.col("entity_id").alias("reg_id"),
                    F.col("entity_name").alias("reg_name"),
                )
                .localCheckpoint(eager=True)
            )
            recs_d = recs.select(
                F.col("entity_id").alias("rec_id"),
                F.col("entity_name").alias("rec_name"),
            )
            exact = recs.join(
                reg_c.select(F.col("reg_name").alias("entity_name")),
                "entity_name",
                "left_semi",
            ).select("entity_id")
            # incoming name one char SHORT of a registered one
            short = fuzzy_link_edit1(
                recs_d, reg_c,
                dirty_id="rec_id", dirty_name="rec_name",
                clean_id="reg_id", clean_name="reg_name",
            ).select(F.col("rec_id").alias("entity_id"))
            # incoming FULL name whose 1-short variant registered first
            longer = fuzzy_link_edit1(
                reg_c, recs_d,
                dirty_id="reg_id", dirty_name="reg_name",
                clean_id="rec_id", clean_name="rec_name",
            ).select(F.col("rec_id").alias("entity_id"))
            # a reused entity id is absorbed as well: the registry keeps
            # the FIRST version per id, so inserting (old id, new name)
            # would be invisible on read and re-insert every batch
            by_id = recs.join(
                reg_c.select(F.col("reg_id").alias("entity_id")),
                "entity_id",
                "left_semi",
            ).select("entity_id")
            matched = (
                exact.unionByName(short).unionByName(longer).unionByName(by_id)
                .distinct()
            )
            recs = recs.join(matched, "entity_id", "left_anti")
        return recs.select("entity_id", "entity_name")

    return run_partials(
        landing_stream(spark, landing_dir, schema), store_path, checkpoint_dir, inserts
    )


def current_entities(spark: SparkSession, store_path: str) -> DataFrame:
    """The consumer view of the registry (first version per entity id)."""
    cur = read_current_or_none(spark, store_path, id_col="entity_id")
    if cur is None:
        return local_frame(spark, [], _REGISTRY_SCHEMA)
    return cur.select("entity_id", "entity_name")
