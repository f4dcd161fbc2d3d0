"""Streaming training-corpus ingest (SURVEY.md §2.11 + §2.10 composed).

The batch curation operators (operators/corpus.py) run unchanged inside
foreachBatch: landing JSON documents -> PII scrub -> minimum-quality
gate -> benchmark decontamination -> content-fingerprint dedup against
the growing store -> idempotent merge-append.  Cross-batch dedup keys on
the CONTENT fingerprint (not the doc id), so re-delivered files AND
later re-crawls of the same text both collapse in the dedup-on-read
view — the corpus analogue of the review pipeline's (place_id, id)
identity.

At scale each stage keeps the shapes documented in DESIGN.md: the scrub
and quality gate collapse into the batch scan, decontamination is one
broadcast semi-join on shingles, and the store anti-join ships only
(fingerprint) keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.functions.text import document_fingerprint, token_count
from wellmeet_data_pipeline_spark.operators.corpus import decontaminate, scrub_pii
from wellmeet_data_pipeline_spark.operators.dedup import (
    bucket_pairs,
    dedup_cluster_survivors,
    dedup_keep_first,
    minhash_band_buckets,
)
from wellmeet_data_pipeline_spark.sinks.merge import (
    merge_append,
    read_current,
    read_current_or_none,
)
from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream, unseen


def run_corpus_pipeline(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 3,
    shingle_n: int = 3,
    near_dup: bool = False,
    sig_store_path: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    quality_weights: DataFrame | None = None,
    ref_index_path: str | None = None,
    dsir_model: DataFrame | None = None,
    bloom_path: str | None = None,
) -> list[StreamingQueryProgress]:
    """availableNow activation of the curation DAG over a landing dir.

    With `near_dup=True` a MinHash-LSH stage runs after exact dedup: each
    surviving doc is indexed ONCE into a persisted (doc_id, band, bucket)
    store at `sig_store_path`; new docs are probed against the store by an
    equi-join on (band, bucket) — the store text is never re-shingled —
    and in-batch near-dup clusters collapse to their min-id survivor via
    connected components.  This is the incremental form of the batch
    minhash_lsh_candidates path: per batch the work is
    O(batch x num_hashes) hashing + two bucket equi-joins, independent of
    corpus size except through bucket occupancy.

    With `ref_index_path` set (see build_reference_index), every batch is
    ALSO probed against the persisted LSH index of an existing training
    corpus, and colliding docs are dropped before they reach the store —
    the reference pipeline's 'stop at the first already-seen review'
    (naver_crawler.py:243-247) generalized from exact id to near-dup
    content, across corpora.  The reference corpus itself is never read
    per batch: only its (band, bucket) index rows join.  The index is
    static state, so foreachBatch replays cannot self-collide against it
    (unlike the own-store probe, which needs the fingerprint exclusion
    below).  Works with or without `near_dup`; the batch twin with an
    exact-Jaccard verify stage is dedup_against_reference_sha."""
    stream = landing_stream(spark, landing_dir, schema)
    if near_dup and sig_store_path is None:
        raise ValueError("near_dup=True requires sig_store_path")

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        scrubbed = (
            scrub_pii(batch_df, text_col, "__clean")
            .drop(text_col)
            .withColumnRenamed("__clean", text_col)
        )
        gated = scrubbed.filter(token_count(text_col) >= min_tokens)
        if quality_weights is not None:
            # model-based quality gate (fastText-shaped hashed linear
            # scorer, operators/scoring.py): keep only keep==True docs.
            # The score is one token-explode + broadcast model join +
            # groupBy(id); the gate itself is a key-only semi-join, so
            # document bodies never shuffle for scoring.
            from wellmeet_data_pipeline_spark.operators.scoring import (
                hashed_linear_score,
            )

            keep_ids = (
                hashed_linear_score(gated, quality_weights, text_col, id_col)
                .filter(F.col("keep"))
                .select(id_col)
            )
            gated = gated.join(keep_ids, id_col, "left_semi")
        if dsir_model is not None:
            # DSIR importance gate (operators/scoring.py): the model is a
            # dense 2^16-bucket (bucket, lr_int) table trained OFFLINE
            # (build_dsir_model) — per batch the cost is one feature
            # explode + broadcast join; keep docs whose mean hashed-ngram
            # log-ratio favors the target distribution
            from wellmeet_data_pipeline_spark.operators.scoring import (
                dsir_score_with_model,
            )

            dsir_keep = (
                dsir_score_with_model(gated, dsir_model, text_col, id_col)
                .filter(F.col("keep"))
                .select(id_col)
            )
            gated = gated.join(dsir_keep, id_col, "left_semi")
        if bloom_path is not None:
            # Bloom decontamination gate (build_benchmark_bloom): the
            # benchmark is never touched per batch — only its bitmap frame
            # (m_bits/64 longs) is read, and the probe is k map-side
            # joins.  Contract: might-member docs are DROPPED without an
            # exact verify, so the gate over-drops by the filter's
            # false-positive rate (sized by m_bits at build time); no
            # contaminated doc can ever pass (no false negatives).
            # shingle_n must match the build, like the LSH ref index.
            from wellmeet_data_pipeline_spark.operators.corpus import bloom_probe
            from wellmeet_data_pipeline_spark.operators.dedup import shingles_df

            bloom = spark.read.parquet(bloom_path)
            params = bloom.select("m_bits", "k_hashes").first()
            corpus_sh = shingles_df(gated, text_col, id_col, shingle_n)
            contaminated = (
                bloom_probe(
                    corpus_sh,
                    bloom.select("word_idx", "bits"),
                    "shingle",
                    int(params["m_bits"]),
                    int(params["k_hashes"]),
                )
                .select(id_col)
                .distinct()
            )
            decon = gated.join(contaminated, id_col, "left_anti")
        else:
            decon = decontaminate(gated, benchmark, text_col, id_col, shingle_n)
        keyed = decon.withColumn("fingerprint", document_fingerprint(F.col(text_col)))
        # deterministic within-batch survivor (min id per fingerprint) —
        # dropDuplicates keeps an arbitrary row, so a foreachBatch replay
        # could persist a different doc for the same fingerprint
        keyed = dedup_keep_first(keyed, "fingerprint", id_col)
        fresh = unseen(spark, keyed, store_path, "fingerprint")
        buckets = None
        if near_dup or ref_index_path is not None:
            buckets = minhash_band_buckets(
                fresh, text_col, id_col, num_hashes, bands, shingle_n
            )
        if ref_index_path is not None:
            # banding parameters MUST match the ones the index was built
            # with (build_reference_index) — mismatched bands make every
            # probe a miss, silently
            ref_idx = spark.read.parquet(ref_index_path).select("band", "bucket")
            ref_hit = (
                buckets.join(ref_idx, ["band", "bucket"], "left_semi")
                .select(id_col)
                .distinct()
            )
            fresh = fresh.join(ref_hit, id_col, "left_anti")
            buckets = buckets.join(ref_hit, id_col, "left_anti")
        if near_dup:
            # the fingerprint rides into the sig store so replay exclusion
            # below can distinguish "same doc re-delivered" from "same id
            # re-crawled with edited text" — joined only on this path; the
            # ref-index probe above needs bare (band, bucket) rows
            buckets = buckets.join(fresh.select(id_col, "fingerprint"), id_col)
            stored = read_current_or_none(
                spark, sig_store_path, id_col=[id_col, "band", "bucket"]
            )
            if stored is not None:
                # probed against the store: bucket collision == near-dup
                # candidate; candidates are dropped (same contract as the
                # batch LSH family — add a Jaccard verify stage to keep
                # borderline docs instead).  REPLAY SAFETY: exclude stored
                # rows matching the batch on (id, fingerprint) — foreachBatch
                # is at-least-once, and a crash between the sig-store append
                # and the corpus append would otherwise make every replayed
                # doc collide with its OWN persisted buckets and silently
                # vanish.  Keying the exclusion on the fingerprint TOO means
                # an EDITED re-crawl under the same id (different
                # fingerprint) is still probed against its stored version
                # and deduped as the near-dup it is.
                stored = stored.join(
                    fresh.select(id_col, "fingerprint"),
                    [id_col, "fingerprint"],
                    "left_anti",
                )
                hit = buckets.join(stored, ["band", "bucket"], "left_semi").select(
                    id_col
                ).distinct()
                fresh = fresh.join(hit, id_col, "left_anti")
                buckets = buckets.join(hit, id_col, "left_anti")
            # in-batch clusters -> min-id survivor (multi-hop safe)
            fresh = dedup_cluster_survivors(fresh, bucket_pairs(buckets, id_col), id_col)
            # MATERIALIZE before writing: both writes' lineages read the
            # stores they are about to append to (fingerprint anti-join
            # reads store_path, bucket probe reads sig_store_path).  A
            # lazy plan re-evaluated after the first append would see the
            # batch's own rows and drop every survivor as a "dup" of
            # itself.  localCheckpoint truncates the lineage at batch
            # granularity (bounded by batch size, executor-side, not a
            # driver collect).
            fresh = fresh.localCheckpoint(eager=True)
            merge_append(
                buckets.join(fresh.select(id_col), id_col, "left_semi"),
                sig_store_path,
                partition_col=None,
                batch_seq=batch_id,
            )
        merge_append(fresh, store_path, partition_col=None, batch_seq=batch_id)

    return drain(stream.writeStream.foreachBatch(on_batch), checkpoint_dir)


def read_corpus(spark: SparkSession, store_path: str) -> DataFrame:
    """The curated corpus: first-arrived row per content fingerprint."""
    return read_current(spark, store_path, id_col="fingerprint")


def build_reference_index(
    ref_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> None:
    """Persist the MinHash (doc_id, band, bucket) index of an EXISTING
    training corpus so streaming gates can drop already-in-the-training-set
    docs (run_corpus_pipeline's ref_index_path).  Computed once per
    reference corpus — at 100 TB this is the one full pass over the
    reference text; every later micro-batch joins index rows only.  Use
    the SAME (num_hashes, bands, shingle_n) when probing."""
    minhash_band_buckets(
        ref_docs, text_col, id_col, num_hashes, bands, shingle_n
    ).write.mode("overwrite").parquet(path)


def build_benchmark_bloom(
    benchmark: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    m_bits: int = 1 << 17,
    k_hashes: int = 5,
) -> None:
    """Persist the benchmark-shingle Bloom bitmap so streaming gates can
    decontaminate without ever re-reading the benchmark
    (run_corpus_pipeline's bloom_path).  Built once per benchmark set;
    the bitmap is m_bits/64 long rows + the (m_bits, k_hashes) build
    parameters, which the probe side reads back — mismatched parameters
    would otherwise make every probe a miss, silently.  Size m_bits at
    ~10+ bits per distinct benchmark shingle to keep the gate's
    over-drop (false-positive) rate around 1%."""
    from wellmeet_data_pipeline_spark.operators.corpus import bloom_filter_frame
    from wellmeet_data_pipeline_spark.operators.dedup import shingles_df

    sh = shingles_df(benchmark, text_col, id_col, shingle_n).select("shingle").distinct()
    (
        bloom_filter_frame(sh, "shingle", m_bits, k_hashes)
        .withColumn("m_bits", F.lit(m_bits))
        .withColumn("k_hashes", F.lit(k_hashes))
        .write.mode("overwrite")
        .parquet(path)
    )
