"""Streaming ExactSubstr dedup — the incremental twin of
`corpus.remove_repeated_spans`: a persisted FIRST-OCCURRENCE gram
registry lets every micro-batch scrub spans whose text already appeared
anywhere earlier in the stream, without ever re-scanning the corpus.

Stores (standard merge-append, first-arrival-wins on read):

- gram store: (gram, doc_id, pos) — the canonical first occurrence of
  every w-token gram ever seen.  Append-only; replays dedup on read.
- out store: (doc_id, text, n_tokens_removed) — the cleaned documents,
  PLUS done-ledger tombstones (empty text) for originally-empty and
  fully-consumed docs, so the done-skip converges and fresh-checkpoint
  replays never re-process them (read_clean_corpus filters tombstones
  by default, matching the batch operator's vanish contract).

Per batch: docs already present in the out store are SKIPPED (their
scrub is final — this, not tie-breaking, is what makes re-delivery a
no-op); the rest get within-batch keep-first marking (the same
gram-keyed window as batch) PLUS a probe of the gram store for spans
first seen in EARLIER batches.  REPLAY SAFETY for the crash window
between the two appends (the multi-store foreachBatch class from
NOTES): the store probe excludes rows whose stored doc_id equals the
probing doc's own id, so a doc whose grams were registered by a
crashed attempt still emits its correctly-scrubbed row on retry.

Ordering contract: the batch operator's canonical occurrence is the
global (doc_id, pos) minimum; the stream's is FIRST ARRIVAL.  When
batches arrive in ascending doc_id order the two are identical
(parity-pinned in pytest); out-of-order arrival keeps a different—but
equally valid—survivor per duplicated span, the same bounded
divergence documented for the fuzzy upsert registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.operators.corpus import (
    _remove_covered,
    _span_frames,
)
from wellmeet_data_pipeline_spark.sinks.merge import (
    merge_append,
    read_current,
    read_current_or_none,
)
from wellmeet_data_pipeline_spark.streaming.pipeline import drain, landing_stream, unseen


def run_exactsubstr_dedup(
    spark: SparkSession,
    landing_dir: str,
    gram_store: str,
    out_store: str,
    checkpoint_dir: str,
    schema: StructType,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_w: int = 3,
) -> list[StreamingQueryProgress]:
    """Landing docs -> incremental ExactSubstr scrub -> cleaned store,
    availableNow."""
    stream = landing_stream(spark, landing_dir, schema)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        from wellmeet_data_pipeline_spark.operators.dedup import dedup_keep_first

        deduped = dedup_keep_first(batch_df, id_col, text_col)
        # Docs already in the OUT store are finished — skip them before
        # any scrubbing.  This is what makes replays true no-ops: a
        # re-delivered doc would otherwise be re-scrubbed against the
        # grown registry (its own grams self-excluded, but everything
        # later-arrived matching) and its rewrite could TIE the original
        # row's batch seq under a fresh checkpoint, letting first-wins
        # pick a version where no copy of a duplicated span survives
        # anywhere (review catch).
        deduped = unseen(spark, deduped, out_store, id_col)
        # Empty/whitespace-only docs never enter _span_frames (no tokens,
        # nothing to scrub) — but they MUST still land in the out store,
        # or the done-skip above never learns them and every
        # fresh-checkpoint replay re-processes them forever (unbounded
        # repeat work; review catch).  Tombstone: zero-token reassembly,
        # n_tokens_removed = 0.
        empties = deduped.filter(
            F.coalesce(F.trim(F.col(text_col)), F.lit("")) == ""
        ).select(
            id_col,
            F.lit("").alias(text_col),
            F.lit(0).cast("long").alias("n_tokens_removed"),
        )
        base, toks, grams = _span_frames(deduped, text_col, id_col, span_w)
        # grams feed the within-batch window, the store probe, and the
        # first-occurrence append — pin the lineage once
        grams = grams.localCheckpoint(eager=True)

        w = Window.partitionBy("gram").orderBy(
            F.col(id_col).asc(), F.col("pos").asc()
        )
        ranked = grams.withColumn("__rn", F.row_number().over(w))
        in_batch_dups = ranked.filter(F.col("__rn") > 1).select(id_col, "pos")

        stored = read_current_or_none(spark, gram_store, id_col="gram")
        firsts = ranked.filter(F.col("__rn") == 1).select(id_col, "pos", "gram")
        if stored is not None:
            # self-exclusion: a replayed doc must not match its own
            # stored grams (crash window between the two appends)
            hits = (
                firsts.join(
                    stored.select(
                        "gram", F.col(id_col).alias("__stored_doc")
                    ),
                    "gram",
                )
                .filter(F.col(id_col) != F.col("__stored_doc"))
                .select(id_col, "pos")
            )
            marked = in_batch_dups.unionByName(hits)
        else:
            marked = in_batch_dups

        cleaned = _remove_covered(base, toks, marked, span_w, id_col, text_col)
        # Fully-consumed docs (every token covered) emit no reassembly
        # row — the batch operator's documented "vanish" contract — but
        # the DONE LEDGER needs them for the same replay-convergence
        # reason as empties: tombstone with the full removal count.
        cleaned = cleaned.localCheckpoint(eager=True)
        consumed = (
            base.select(id_col, F.size("__words").alias("__n"))
            .join(cleaned.select(id_col), id_col, "left_anti")
            .select(
                id_col,
                F.lit("").alias(text_col),
                F.col("__n").cast("long").alias("n_tokens_removed"),
            )
        )
        cleaned = cleaned.unionByName(consumed).unionByName(empties)
        # Register only grams the store does NOT already hold: appending
        # every within-batch first would re-store recurring boilerplate
        # grams once per batch, growing the registry with stream length
        # instead of distinct-gram count (review catch).  at-least-once
        # write order: gram registry FIRST, so a crash between the writes
        # can only over-remember grams (handled by self-exclusion), never
        # emit a doc whose spans aren't registered.
        new_grams = firsts.select("gram", id_col, "pos")
        if stored is not None:
            new_grams = new_grams.join(
                stored.select("gram"), "gram", "left_anti"
            )
        merge_append(new_grams, gram_store, partition_col=None, batch_seq=batch_id)
        merge_append(cleaned, out_store, partition_col=None, batch_seq=batch_id)

    return drain(stream.writeStream.foreachBatch(on_batch), checkpoint_dir)


def read_clean_corpus(
    spark: SparkSession,
    out_store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_empty: bool = False,
) -> DataFrame:
    """The deduplicated corpus so far (first version per doc wins).

    The store also holds DONE-LEDGER tombstones — originally-empty docs
    and fully-consumed docs (empty text, n_tokens_removed = all) — so
    fresh-checkpoint replays skip them instead of re-processing forever.
    By default they are filtered out, matching the batch operator's
    "fully-consumed docs vanish" contract; pass include_empty=True for
    the raw ledger view."""
    cur = read_current(spark, out_store, id_col=id_col)
    if include_empty:
        return cur
    return cur.filter(F.col(text_col) != "")
