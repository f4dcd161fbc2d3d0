"""End-to-end pipelines mirroring the reference's three entry points
(SURVEY.md §3) — what a user of the reference runs today, re-expressed as
single Spark jobs.

Entry point A (restaurant discovery batch, restaurant-crawler.py:328-403):
    seed pages → fetch → project/enrich → union → anti join vs existing →
    merge-append           -> discover_restaurants()

Entry point B (incremental review crawl, review-crawler/main.py:11-58):
    load seen ids → fetch → project (sha2 id) → anti join → merge-append
                           -> ingest_reviews()

Entry point C (event-driven orchestration, two Lambdas chained through
S3): the streaming module (streaming/pipeline.py) owns it; process_landed
here is the per-batch body: validate → insert-if-absent → payload
projection.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.functions.enrichment import GeoFn, geocode_with_cache
from wellmeet_data_pipeline_spark.operators.projections import (
    fill_rds_defaults,
    project_review,
    project_review_api_payload,
    require_fields,
)
from wellmeet_data_pipeline_spark.operators.joins import insert_if_absent
from wellmeet_data_pipeline_spark.schemas import RESTAURANT, REVIEW
from wellmeet_data_pipeline_spark.sinks.merge import merge_append
from wellmeet_data_pipeline_spark.sources.ingest import fetch_rows, seed_frame
from wellmeet_data_pipeline_spark.streaming.pipeline import unseen
from wellmeet_data_pipeline_spark.functions.text import clean_address


def discover_restaurants(
    spark: SparkSession,
    search_queries: list[str],
    fetcher: Callable[[str, int], list[dict]],
    store_path: str,
    geocoder: GeoFn | None = None,
    pages: int = 4,
    batch_seq: int = 0,
) -> DataFrame:
    """Entry point A as one job.  Returns the newly-stored rows."""
    raw_schema = "place_id string, name string, thumbnail_url string, category string, page int, origin_address string"
    seeds = seed_frame(spark, search_queries, pages)
    raw = fetch_rows(seeds, fetcher, raw_schema)
    projected = raw.withColumn("address", clean_address("origin_address"))
    if geocoder is not None:
        projected = geocode_with_cache(projected, geocoder, "address")
    else:
        projected = projected.withColumn("latitude", F.lit(None).cast("double")).withColumn(
            "longitude", F.lit(None).cast("double")
        )
    projected = projected.select([f.name for f in RESTAURANT.fields])

    fresh = unseen(spark, projected.filter(F.col("place_id").isNotNull()), store_path, "place_id")
    merge_append(fresh, store_path, partition_col=None, batch_seq=batch_seq)
    return fresh


def ingest_reviews(
    spark: SparkSession,
    place_ids: list[str],
    fetcher: Callable[[str, int], list[dict]],
    store_path: str,
    pages: int = 1,
    batch_seq: int = 0,
) -> DataFrame:
    """Entry point B as one job: per-place incremental review ingest.

    Identity is (place_id, id): the reference stores {place_id}.json, so
    the sha256 hash only has to be unique WITHIN a place — two places can
    legitimately hold reviews with identical (author, content,
    visit_date).  Deduping on the hash alone would silently drop one
    place's review."""
    raw_schema = "author string, content string, visit_date string, place_id string"
    seeds = seed_frame(spark, place_ids, pages)
    raw = fetch_rows(seeds, fetcher, raw_schema)
    reviews = project_review(raw)
    fresh = unseen(spark, reviews, store_path, ["place_id", "id"])
    merge_append(fresh, store_path, partition_col="place_id", batch_seq=batch_seq)
    return fresh


def process_landed_restaurants(
    landed: DataFrame, existing: DataFrame
) -> DataFrame:
    """Entry point C stage 3 (submit-aws-batch-lambda:83-111): validate
    required fields (P4), null defaults (P7), insert-if-absent (J2/K2)."""
    valid = require_fields(landed, ["place_id", "name"])
    filled = fill_rds_defaults(valid)
    return insert_if_absent(filled, existing, ["name", "address"])


def project_payloads(reviews: DataFrame, limit_per_event: int | None = 10) -> DataFrame:
    """Entry point C stages 6-7 (save-reviews:65-73): limit + rename/cast
    projection before the API sink."""
    df = reviews.limit(limit_per_event) if limit_per_event else reviews
    return project_review_api_payload(df)
