"""Streaming lexical (BM25) index maintenance — the text twin of the
RAG embedding index (streaming/embedding.py:run_rag_index_pipeline).

Landing docs -> per-batch postings (doc, term, tf) + document lengths
-> idempotent merge-append into a two-family store:

    <store>/postings   keyed posting_key = "doc:term"
    <store>/doclen     keyed doc_id      (one row per ingested doc,
                       dl = normalized token count, 0 for empty docs —
                       so N and avgdl match the batch scorer's corpus
                       definition exactly)

Queries then score against the growing store through the batch
operator's lexical plan (operators/retrieval.py): one driver aggregate
over the store brings N, total_dl and each query term's df, postings ⋈
doclen is the matched (doc, term, tf, dl) frame, and _bm25_score scores
it — so stream-built and batch-built rankings are bit-identical on
identical corpora, pinned by
tests/test_retrieval.py::test_lexical_index_stream_matches_batch.

Contract: documents are immutable once ingested — first version wins at
the DOC grain, enforced by an anti-join against the doclen store before
each batch writes (posting-key dedup-on-read alone would let a
re-crawled doc with a GROWN term set append new postings against v1's
doclen).  Route genuinely mutable corpora through the CDC operator
(operators/dedup.py:cdc_apply) and rebuild, as with every other
merge-append family.

Scale: postings are the classic inverted-index build — each micro-batch
shuffles only its own (doc, term) rows (map-side combined), the store
stays partitioned by the hash of its key files, and scoring reads the
postings of the query's terms only (a filter on `term` after the
dedup-on-read view)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.operators.retrieval import (
    _bm25_score,
    _doc_lengths,
    _doc_tokens,
    _query_terms,
    bm25_rank_cut,
)
from wellmeet_data_pipeline_spark.sinks.merge import (
    merge_append,
    read_current,
    read_current_or_none,
)
from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream, unseen


def run_lexical_index_pipeline(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[StreamingQueryProgress]:
    """Landing JSON -> postings + doclen merge-append, availableNow."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from wellmeet_data_pipeline_spark.operators.dedup import dedup_keep_first

        deduped = dedup_keep_first(batch_df, id_col, text_col)
        # first-version-wins at the DOC grain, not just the posting-key
        # grain: a re-crawled doc whose term set GREW would otherwise
        # append new posting_keys while doclen kept v1's length — a
        # chimera of both versions.  Anti-join against the doclen store
        # (the doc registry) so re-delivered ids write nothing at all;
        # a crash between the postings and doclen writes self-heals,
        # because the doc stays "new" until doclen lands and
        # dedup-on-read collapses the re-appended postings.
        deduped = unseen(spark, deduped, f"{store_path}/doclen", id_col)
        toks = _doc_tokens(deduped, text_col, id_col)
        postings = (
            toks.groupBy(id_col, "term")
            .agg(F.count("*").alias("tf"))
            .withColumn(
                "posting_key",
                F.concat_ws(":", F.col(id_col).cast("string"), F.col("term")),
            )
        )
        # one doclen row per ingested doc, INCLUDING token-free docs
        # (dl = 0) — the doclen family is what defines N and avgdl, and
        # the batch scorer counts every document toward both
        doclen = _doc_lengths(deduped, text_col, id_col)
        merge_append(postings, f"{store_path}/postings", partition_col=None,
                     batch_seq=batch_id)
        merge_append(doclen, f"{store_path}/doclen", partition_col=None, batch_seq=batch_id)

    return drain(
        landing_stream(spark, landing_dir, schema).writeStream.foreachBatch(write_batch),
        checkpoint_dir,
    )


def bm25_topk_from_store(
    spark: SparkSession,
    store_path: str,
    queries,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25 against the streamed index — same contract and same
    lexical plan as the batch operators/retrieval.py:bm25_topk.  The one
    aggregate runs over the doclen rows (N, total_dl) and the query
    terms' postings (df: one posting per document and term)."""
    qt = _query_terms(spark, queries)
    terms = sorted({t for _, t in qt})
    postings = read_current_or_none(spark, f"{store_path}/postings", id_col="posting_key")
    if postings is None:  # no document holding a token has landed yet
        return local_frame(spark, [], f"query_id int, {id_col} long, score double, rank int")
    postings = postings.filter(F.col("term").isin(terms))
    doclen = read_current(spark, f"{store_path}/doclen", id_col=id_col).select(
        id_col, "dl"
    )
    stats = (
        doclen.select("dl", F.lit(None).cast("string").alias("term"))
        .unionByName(postings.select(F.lit(None).cast("long").alias("dl"), "term"))
        .agg(
            F.count("dl"),
            F.coalesce(F.sum("dl"), F.lit(0)),
            *[F.count_if(F.col("term") == t) for t in terms],
        )
        .first()
    )
    matched = postings.join(doclen, id_col).select(id_col, "term", "tf", "dl")
    scored = _bm25_score(
        matched, qt, dict(zip(terms, stats[2:])), stats[0], stats[1], id_col, k1, b
    )
    return bm25_rank_cut(scored, id_col, k)


def hybrid_topk_from_stores(
    spark: SparkSession,
    lexical_store: str,
    embedding_store: str,
    queries,
    query_vec_ids,
    k: int = 10,
    k_candidates: int = 20,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    vec_id_col: str = "id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Hybrid retrieval served ENTIRELY from streamed stores: BM25
    top-k_candidates against the lexical postings/doclen store fused by
    reciprocal rank with exact cosine top-k_candidates against the
    embedding merge-append store (streaming/embedding.py).  The batch
    twin is the hybrid_rrf_topk registry query; both route through
    rrf_fuse, and each leg shares its scoring core with its batch
    operator, so serving from the stores is bit-identical to scoring
    the equivalent batch corpus.

    `query_vec_ids` picks the query vectors out of the embedding store
    (the serving pattern where queries are themselves indexed docs —
    'more like this'); a caller with out-of-corpus query vectors passes
    them through brute_force_top_k directly instead.

    `embedding_store` must be keyed UNIQUE per `vec_id_col` — the
    run_embedding_pipeline store (one embedding per doc).  The chunked
    RAG store (run_rag_index_pipeline) holds many rows per doc_id with
    the same _batch_seq, so dedup-on-read would pick an arbitrary chunk;
    to serve from it, pass vec_id_col='chunk_key' and fuse at the chunk
    grain (mapping chunk hits back to doc ids is the caller's policy)."""
    from pyspark.sql import functions as F

    from wellmeet_data_pipeline_spark.operators.retrieval import rrf_fuse
    from wellmeet_data_pipeline_spark.operators.similarity import brute_force_top_k

    bm = bm25_topk_from_store(
        spark, lexical_store, queries, k=k_candidates, id_col=id_col
    ).select("query_id", id_col, "rank")
    emb = read_current(spark, embedding_store, id_col=vec_id_col)
    qv = emb.filter(F.col(vec_id_col).isin([int(v) for v in query_vec_ids]))
    cos = brute_force_top_k(
        qv, emb, k=k_candidates, query_id=vec_id_col, cand_id=vec_id_col,
        vec_col=vec_col, round_digits=round_digits,
    ).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias(id_col),
        "rank",
    )
    return rrf_fuse([bm, cos], k=k, k_rrf=k_rrf, item_col=id_col).select(
        "query_id",
        id_col,
        "rrf_score",
        F.col("rank_0").alias("bm25_rank"),
        F.col("rank_1").alias("cosine_rank"),
        "rank",
    )
