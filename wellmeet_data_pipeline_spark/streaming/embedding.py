"""Streaming embedding pipeline (SURVEY.md §2.11 X5 end-to-end).

The reference forwards reviews to an API that embeds and stores them in
RDS (README.md:19-21; save-reviews/lambda_function.py:69-76), one Lambda
per S3 upload.  The Spark-native pipeline: landing stream -> per-batch
Arrow-batched embedding -> idempotent merge-append of (row + embedding)
— then near-duplicate detection runs as an ordinary batch query against
the growing store.

At scale the embed step is the expensive stage: it's per-batch
mapInPandas, so throughput = executors x Arrow batch rate, and the
store keeps embeddings as a narrow (id, embedding) column family the
similarity operators consume without touching the text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.functions.enrichment import embed_text
from wellmeet_data_pipeline_spark.operators.similarity import embedding_near_dup_pairs
from wellmeet_data_pipeline_spark.sinks.merge import merge_append, read_current
from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream


def run_embedding_pipeline(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    text_col: str = "content",
    id_col: str = "id",
    dim: int = 64,
) -> list[StreamingQueryProgress]:
    """Landing JSON -> embed -> merge-append, availableNow."""
    stream = landing_stream(spark, landing_dir, schema)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        embedded = embed_text(batch_df.dropDuplicates([id_col]), text_col=text_col, dim=dim)
        merge_append(embedded, store_path, partition_col=None, batch_seq=batch_id)

    return drain(stream.writeStream.foreachBatch(write_batch), checkpoint_dir)


def store_near_dups(
    spark: SparkSession,
    store_path: str,
    threshold: float = 0.999,
    id_col: str = "id",
) -> DataFrame:
    """Embedding-cosine near-dup pairs over everything ingested so far."""
    cur = read_current(spark, store_path, id_col=id_col)
    return embedding_near_dup_pairs(
        cur, threshold=threshold, id_col=id_col, vec_col="embedding", id_type="string"
    )


def run_rag_index_pipeline(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    stride: int = 16,
    dim: int = 64,
) -> list[StreamingQueryProgress]:
    """RAG index build as a stream: landing docs -> overlapping chunks ->
    per-chunk embedding -> idempotent merge-append keyed on
    (doc_id, chunk_no).  The batch twins are `chunk_documents` and
    `embed_text`; ANN queries then run against the growing store with
    the similarity family (IVF/LSH/brute-force) untouched.

    Chunking multiplies rows by ~n_tokens/stride BEFORE the expensive
    embed stage — that ordering is the point: the embed step is Arrow-
    batched per chunk, so throughput scales with executors x batch rate
    regardless of document length skew (one 100k-token doc becomes many
    uniform chunks instead of one pathological Arrow batch)."""
    from pyspark.sql import functions as F

    from wellmeet_data_pipeline_spark.operators.corpus import chunk_documents

    stream = landing_stream(spark, landing_dir, schema)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from wellmeet_data_pipeline_spark.operators.dedup import dedup_keep_first

        # deterministic in-batch survivor (min text per id) — dropDuplicates
        # keeps an arbitrary row and would let retries of the same batch
        # write different chunk text under the same chunk_key
        deduped = dedup_keep_first(batch_df, id_col, text_col)
        chunks = chunk_documents(deduped, text_col, id_col, window, stride)
        embedded = embed_text(chunks, text_col="chunk_text", dim=dim)
        keyed = embedded.withColumn(
            "chunk_key",
            F.concat_ws(":", F.col(id_col).cast("string"), F.col("chunk_no").cast("string")),
        )
        merge_append(keyed, store_path, partition_col=None, batch_seq=batch_id)

    return drain(stream.writeStream.foreachBatch(write_batch), checkpoint_dir)
