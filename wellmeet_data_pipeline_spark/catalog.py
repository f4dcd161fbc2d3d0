"""Table catalog over the driver's parquet test tables.

The reference keeps one JSON object per grouping key in S3 and re-reads
whole files per run (review-crawler/storage_manager.py:25-61); here every
table is columnar parquet read through the vectorized reader, so column
pruning and predicate pushdown reach the scan for free.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructType, TimestampNTZType

_PKG_ZIP: str | None = None


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to Python workers via addPyFile.

    The driver may import us from a cwd that is not the repo root; worker
    processes then cannot resolve `wellmeet_data_pipeline_spark` when a
    pickled-by-reference mapInPandas/applyInPandas function arrives.
    addPyFile works on a live session and is idempotent per session."""
    global _PKG_ZIP
    sc = spark.sparkContext
    if getattr(sc, "_wellmeet_pyfile_added", False):
        return
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        fd, path = tempfile.mkstemp(suffix=".zip", prefix="wellmeet_pkg_")
        os.close(fd)
        with zipfile.ZipFile(path, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "wellmeet_data_pipeline_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        _PKG_ZIP = path
    sc.addPyFile(_PKG_ZIP)
    sc._wellmeet_pyfile_added = True


def local_frame(spark: SparkSession, rows: list, schema_ddl: str) -> DataFrame:
    """A DataFrame over driver-built `rows` (tuples in `schema_ddl` order).

    The rows go through a pyarrow.Table typed by the DDL, so the plan is
    a LocalRelation: it scans without a Spark job, folds into the
    projections over it, and an empty one lets the optimizer prune the
    joins it feeds.  `createDataFrame` over a Python list builds a
    LogicalRDD through `parallelize` instead, and every scan of it is a
    job."""
    schema = to_arrow_schema(StructType.fromDDL(schema_ddl))
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=schema))


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table. Plain `spark.read.parquet` so Catalyst owns
    pushdown; no caching here — callers decide lifetime.

    `events.ts` has shipped as BOTH TIMESTAMP(NANOS) and timestamp[us]
    parquet across driver rounds — normalize either to a session-UTC
    TIMESTAMP:
    - NANOS: Spark's vectorized reader rejects it — read nanos as long
      (legacy conf) and rebuild the microsecond timestamp with integer
      `div` (double division would lose precision at ~1e18 ns).  DuckDB
      truncates ns→µs the same way, so the oracle sees identical values.
    - timestamp[us] (isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ,
      which rejects arithmetic casts (NTZ→double) and diverges from the
      LTZ rendering path — cast to TIMESTAMP under the pinned UTC
      session so the wall-clock instants match DuckDB's naive read."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; one of {TABLES}")
    # The driver may call queries() from its own session: pin the confs the
    # registry's determinism depends on (UTC rendering, nanos read) and make
    # the package importable on its workers.
    ensure_workers_can_import(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so plans can also be expressed
    in Spark SQL (`spark.sql(...)`)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
