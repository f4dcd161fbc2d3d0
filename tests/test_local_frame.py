"""catalog.local_frame: driver-built rows as an Arrow-built LocalRelation.

Pins the three properties the package relies on: the plan has no RDD
under it (so scanning it runs no Spark job), its schema and rows equal
what `createDataFrame` over the same Python list gives, and it is the
package's only way to turn driver rows into a frame."""

from __future__ import annotations

import datetime
import inspect
import os

import pytest

import wellmeet_data_pipeline_spark
from wellmeet_data_pipeline_spark import catalog
from wellmeet_data_pipeline_spark.catalog import local_frame

DDL = "id int, name string, tags array<string>, scores array<double>, day date, ok boolean, n bigint"
ROWS = [
    (1, "a", ["x", None], [1.5, None], datetime.date(2024, 2, 29), True, 2**40),
    (None, None, None, None, None, None, None),
    (3, "", [], [], datetime.date(1970, 1, 1), False, -1),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_is_a_local_relation(spark, rows):
    plan = _plan(local_frame(spark, rows, DDL))
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_create_data_frame(spark, rows):
    got = local_frame(spark, rows, DDL)
    want = spark.createDataFrame(rows, DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_scan_runs_no_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("local-frame-scan", "local_frame scan runs no job")
    try:
        rows = local_frame(spark, [(k, f"k{k}") for k in range(50)], "k int, s string").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 50
    assert sc.statusTracker().getJobIdsForGroup("local-frame-scan") == []


def test_create_data_frame_only_inside_local_frame():
    """Every driver-built frame in the package goes through local_frame:
    the one `createDataFrame(` call is its body."""
    pkg = os.path.dirname(wellmeet_data_pipeline_spark.__file__)
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    for i, line in enumerate(fh, 1):
                        if "createDataFrame(" in line:
                            hits.append((os.path.relpath(path, pkg), i))
    src, start = inspect.getsourcelines(local_frame)
    assert [h[0] for h in hits] == [os.path.relpath(catalog.__file__, pkg)]
    assert start <= hits[0][1] < start + len(src)
