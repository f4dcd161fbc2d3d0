"""SparkSession factory.

Defaults are chosen for the 100 TB posture and scaled down by env for
local test runs:

- AQE on (runtime coalesce, skew-join splitting) — the reference has no
  optimizer at all (SURVEY.md §4); we lean on Catalyst + AQE instead of
  hand-scheduling.
- Arrow enabled — every Python-side operator uses Pandas UDFs /
  mapInPandas, never row-at-a-time Python UDFs.
- Session timezone pinned to UTC so event-time windows hash identically
  against the DuckDB oracle and across clusters.
- shuffle partitions default to cores locally; on a real cluster this
  should be ~2-3x total executor cores (or left to AQE's coalescing with
  a high initial number).
- Python call-site capture off (spark.python.sql.dataFrameDebugging.enabled
  = false).  With it on, PySpark's default, every DataFrame and
  functions.* call pays about four Py4J round trips (active session,
  stack-depth conf, origin set and clear) and a Python stack walk to
  record where it was called from: building one bm25_topk plan sent
  2,096 round trips with it on and 856 with it off.  The only loss is
  the Python file/line in analysis-error messages;
  get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
  "true"}) turns it back on.  PySpark reads it once per process, from
  the first active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "wellmeet-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: keep the UI off and the driver lean
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # e.g. the scale smoke re-enables the UI to read spill/peak-memory
    # stage metrics from the REST status API
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
