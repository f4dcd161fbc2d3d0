"""wellmeet_data_pipeline_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of Team-soft-macaron/WellMeet-Data-Pipeline.

The reference (at /root/reference, ~2.1k LoC Python) is an event-driven,
incremental ETL pipeline: scrape -> key/dedup -> merge into S3 JSON ->
S3-event fan-out -> validate/project -> load into RDS/API.  This engine
re-expresses every one of its dataflow operators (SURVEY.md §2) as
declarative DataFrame/SQL plans so Catalyst + Tungsten own the physical
strategy, and extends the surface with the large-scale training-data
operators (dedup, similarity search, text analysis, multimodal columns)
a 100 TB pipeline needs.

Layout:
    session.py    SparkSession factory tuned for the scale posture
    catalog.py    table loading / temp-view registration
    schemas.py    fixed StructType schemas (the reference is schemaless)
    functions/    scalar/column expression library (text, enrichment)
    operators/    relational + dataflow operators (joins, dedup, aggs, ...)
    sources/      ingest patterns (JSON-array reader, high-water-mark scan)
    sinks/        merge-append parquet, insert-if-absent, HTTP-with-errors
    streaming/    Structured Streaming pipelines standing in for the
                  reference's S3-event -> Lambda choreography
    plans/        the named query registry driving __spark_entry__.py
"""

__version__ = "0.1.0"
