"""JDBC insert-if-absent sink (SURVEY.md §2.2 K2).

The reference probes MySQL per row then inserts with one commit
(review-crawler/restaurant_save.py:72-130).  Spark inverts it:

  existing = read the key columns back (one pruned JDBC scan)
  fresh    = incoming keep-first-deduped, anti-joined against existing
  write    = fresh.write.jdbc(mode='append')  (batched inserts, txn per
             partition — R8's batch-commit, per partition)

No JDBC driver jar ships in this container, so the composition is
factored to be testable without one: the plan is
`operators.joins.insert_if_absent`, pure DataFrame logic (tested), and
`write_insert_if_absent` wires the real reader/writer around it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from wellmeet_data_pipeline_spark.operators.joins import insert_if_absent


def write_insert_if_absent(
    spark: SparkSession,
    incoming: DataFrame,
    url: str,
    table: str,
    key: Sequence[str],
    properties: dict | None = None,
    batchsize: int = 10_000,
) -> int:
    """K2 end-to-end against a live database.  Returns rows written."""
    props = dict(properties or {})
    existing = spark.read.jdbc(url, table, properties=props).select(*key)
    fresh = insert_if_absent(incoming, existing, key)
    n = fresh.count()
    if n:
        fresh.write.option("batchsize", str(batchsize)).jdbc(
            url, table, mode="append", properties=props
        )
    return n
