"""External-ingest patterns (SURVEY.md §2.1 S1-S3, §4 custom piece #1).

The reference crawls a paginated remote feed per key (naver_crawler.py:
257-309) with 4-way page parallelism (restaurant-crawler.py:354-369).
The Spark-native shape: a *seed frame* of (key, page) work units,
repartitioned so each task owns one unit, and a mapInPandas fetch that
turns the remote feed into rows — the scheduler replaces asyncio.gather,
and a high-water-mark predicate replaces the ordered early-exit (J3/R2).

The fetcher is injected so tests (and the t2 path) use a deterministic
local function; network code never enters the correctness surface.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.catalog import local_frame


def seed_frame(spark: SparkSession, keys: list[str], pages: int) -> DataFrame:
    """S3 (restaurant-crawler.py:354-369): one work unit per (key, page).
    Repartition to one unit per task — partition-per-page is the Spark twin
    of the reference's asyncio.gather over pages 1..4."""
    rows = [(k, p) for k in keys for p in range(1, pages + 1)]
    df = local_frame(spark, rows, "key string, page int")
    return df.repartition(max(len(rows), 1))


def fetch_rows(
    seeds: DataFrame,
    fetcher: Callable[[str, int], list[dict]],
    schema: StructType | str,
) -> DataFrame:
    """S1/S2: run the injected fetcher once per (key, page) unit inside
    mapInPandas — per-partition client setup, Arrow-batched results."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    field_names = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for key, page in zip(pdf["key"], pdf["page"]):
                out.extend(fetcher(str(key), int(page)))
            yield pd.DataFrame(out, columns=field_names)

    return seeds.mapInPandas(run, schema)


def incremental_ingest(
    new_rows: DataFrame,
    existing_keys: DataFrame,
    key: str | list[str] = "id",
) -> DataFrame:
    """The reference's incremental contract (§3.2): only rows whose key is
    not already stored survive.  Set-based left_anti instead of the
    order-dependent stop-at-first-seen loop (naver_crawler.py:243-247) so
    results don't depend on feed order.  Accepts a compound key — review
    identity is scoped per place ({place_id}.json in the reference), so
    review ingest keys on (place_id, id), not the hash alone.  J1
    (restaurant-crawler.py:370-375) loads the seen keys into a Python set;
    at scale the seen-set may itself be huge, so the join is NOT
    unconditionally broadcast — Catalyst/AQE decides from size stats."""
    keys = [key] if isinstance(key, str) else list(key)
    return new_rows.join(existing_keys.select(*keys), keys, "left_anti")
