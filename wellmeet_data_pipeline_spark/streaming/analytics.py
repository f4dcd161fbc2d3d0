"""Streaming key-frequency analytics: an incrementally-maintained
heavy-hitter (hot-key) tracker.

The batch form (operators/aggregations.heavy_hitters) answers "which
keys should the next job salt" from a full scan; this twin maintains
the same answer INCREMENTALLY over a landing stream, so a long-running
ingest can consult current hot keys without rescanning history — the
generalization of the reference's per-restaurant fan-out accounting
(submit-aws-batch-lambda/lambda_function.py:145-183 tracks per-key work
units) to frequency monitoring.

Store contract: each micro-batch appends its per-key partial counts as
rows identified by (key, batch seq).  Replayed batches (foreachBatch is
at-least-once) re-append the SAME identity, and the dedup-on-read view
(sinks/merge.read_current with compound identity) drops them — counts
are therefore exactly-once without read-modify-write of a growing
object.  The store is partial-count grain: O(distinct keys x batches)
rows, compacted by the same periodic `sinks.merge.compact` job as every
other store in the repo.

Exactly-once holds under the foreachBatch replay contract (a replayed
batch_id re-delivers the SAME data).  Restarting with a FRESH
checkpoint breaks that premise — batch ids restart and re-cover old
files with different compositions — so a fresh checkpoint requires a
fresh store (true of every checkpoint-keyed store in this repo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.sinks.merge import read_current_or_none
from wellmeet_data_pipeline_spark.streaming.pipeline import (
    landing_stream,
    read_partials,
    run_partials,
)


def run_streaming_key_counts(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str,
) -> list[StreamingQueryProgress]:
    """Drain the landing stream (availableNow), appending per-batch
    partial counts keyed by (key, batch) — one dim-sized groupBy per
    micro-batch, never a rescan of the store."""
    return run_partials(
        landing_stream(spark, landing_dir, schema), store_path, checkpoint_dir,
        lambda batch: batch.groupBy(key_col).agg(F.count("*").alias("n")),
    )


def current_heavy_hitters(
    spark: SparkSession,
    store_path: str,
    key_col: str,
    min_share: float,
    round_digits: int = 6,
    key_type: str = "string",
) -> DataFrame:
    """The consumer view: exactly-once totals per key (replayed partials
    deduped on (key, batch seq)), thresholded at min_share of all rows
    seen so far — the threshold/share stage is the SAME code as the
    batch heavy_hitters (aggregations.threshold_heavy_hitters), so the
    two stay contract-identical.  `key_type` pins the empty-store
    schema: without it a long-keyed store would be string-typed before
    the first batch lands and long-typed after."""
    from wellmeet_data_pipeline_spark.operators.aggregations import (
        threshold_heavy_hitters,
    )

    cur = read_partials(spark, store_path, [key_col])
    if cur is None:
        return local_frame(
            spark, [], f"{key_col} {key_type}, n bigint, share double"
        )
    totals = cur.groupBy(key_col).agg(F.sum("n").alias("n"))
    return threshold_heavy_hitters(totals, key_col, min_share, round_digits)


def run_streaming_active_days(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    user_col: str,
    ts_col: str,
) -> list[StreamingQueryProgress]:
    """Streaming twin of rolling_distinct_active's INPUT maintenance:
    drain the landing stream (availableNow), appending each batch's
    distinct (user, day) pairs under (user, day, batch) identity.  The
    store is activity-set grain — O(users x active-days) rows, far below
    the event log — and replays collapse on read exactly like every
    merge-append store here.  The rolling read (current_rolling_active)
    is then a pure function of the store: no window state, no event
    rescan."""
    return run_partials(
        landing_stream(spark, landing_dir, schema), store_path, checkpoint_dir,
        lambda batch: batch.select(
            F.to_date(F.col(ts_col)).alias("__day"),
            F.col(user_col).alias("__u"),
        ).distinct(),
    )


def current_rolling_active(
    spark: SparkSession, store_path: str, window_days: int
) -> DataFrame:
    """Rolling N-day distinct actives per observed day from the streaming
    store (empty frame shape if the store does not exist: zero rows)."""
    from wellmeet_data_pipeline_spark.operators.windows import (
        rolling_distinct_from_pairs,
    )

    store = read_current_or_none(spark, store_path, id_col=["__u", "__day"])
    if store is None:
        return local_frame(spark, [], "as_of_day date, n_active long")
    # read_current already dedups to one row per (__u, __day) — no
    # second distinct shuffle needed
    return rolling_distinct_from_pairs(
        store.select("__day", "__u"), window_days
    )


def run_streaming_term_counts(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    group_col: str = "source",
    text_col: str = "text",
) -> list[StreamingQueryProgress]:
    """Drain the landing document stream (availableNow), appending each
    micro-batch's (group, term) partial token counts — the incremental
    state behind the streaming drift monitor.  Same store contract as
    run_streaming_key_counts: partials are identified by (group, term,
    batch seq), so at-least-once replays dedup on read and the store is
    exactly-once without read-modify-write."""
    from wellmeet_data_pipeline_spark.functions.text import normalized_text

    def partial(batch: DataFrame) -> DataFrame:
        return (
            batch.filter(F.col(group_col).isNotNull())
            .select(
                F.col(group_col).alias("grp"),
                F.explode(F.split(normalized_text(text_col), " ")).alias("term"),
            )
            .filter(F.col("term") != "")
            .groupBy("grp", "term")
            .agg(F.count("*").alias("a"))
        )

    return run_partials(
        landing_stream(spark, landing_dir, schema), store_path, checkpoint_dir, partial
    )


def current_source_drift(
    spark: SparkSession, store_path: str, out_group_col: str = "source"
) -> DataFrame:
    """The consumer view: per-source Jensen-Shannon divergence vs the
    corpus-so-far, computed from the exactly-once (group, term) totals
    through the SAME core as the batch operator
    (scoring.js_from_group_term_counts) — streaming and batch stay
    contract-identical by construction."""
    from wellmeet_data_pipeline_spark.operators.scoring import (
        js_from_group_term_counts,
    )

    cur = read_partials(spark, store_path, ["grp", "term"])
    if cur is None:
        return local_frame(
            spark, [],
            f"{out_group_col} string, n_tokens bigint, n_terms bigint,"
            " js_micro_nats bigint, js_divergence double",
        )
    totals = cur.groupBy("grp", "term").agg(F.sum("a").alias("a"))
    return js_from_group_term_counts(totals, out_group_col=out_group_col)


def run_streaming_quantile_sketch(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    sub_bits: int = 5,
) -> list[StreamingQueryProgress]:
    """Streaming twin of the mergeable quantile sketch
    (aggregations.quantile_sketch): each micro-batch appends its own
    sketch PARTIAL — (group, bucket_lb, cnt) keyed by (group, bucket,
    batch seq) — and the consumer view merges partials with the sketch's
    own monoid.  This is the sketch family's whole point surfaced as
    streaming state: per-batch frames are bounded (<= ~63 * 2^sub_bits
    buckets per group regardless of batch size), the store grows with
    batches x buckets (never rows), and no raw value is ever retained.

    `value_col` must already be integer-grid valued (cents/micros — the
    caller's contract, same as the batch operator).  Replays dedup on
    (group, bucket, batch seq) exactly like every partial-count store
    here."""
    from wellmeet_data_pipeline_spark.operators.aggregations import quantile_sketch

    return run_partials(
        landing_stream(spark, landing_dir, schema), store_path, checkpoint_dir,
        lambda batch: quantile_sketch(
            batch, value_col, group_cols=group_cols, sub_bits=sub_bits
        ),
    )


def current_quantiles(
    spark: SparkSession,
    store_path: str,
    group_cols: tuple[str, ...] = (),
    quantiles=((1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99")),
    group_ddl: str = "",
) -> DataFrame:
    """Consumer view: monoid-merge the stored per-batch partials
    (exactly-once under replay via (group, bucket, batch) identity),
    then read quantiles through the SAME quantiles_from_sketch core as
    batch.  `group_ddl` pins the empty-store schema (e.g.
    "event_type string, ")."""
    from wellmeet_data_pipeline_spark.operators.aggregations import (
        quantiles_from_sketch,
    )

    cur = read_partials(spark, store_path, [*group_cols, "bucket_lb"])
    if cur is None:
        return local_frame(
            spark, [], f"{group_ddl}quantile string, est bigint, n_rows bigint"
        )
    merged = cur.groupBy(*group_cols, "bucket_lb").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return quantiles_from_sketch(merged, quantiles=quantiles, group_cols=group_cols)


def run_streaming_length_bins(
    spark: SparkSession,
    landing_dir: str,
    bins_store: str,
    checkpoint_dir: str,
    schema: StructType,
    width: int = 64,
    n_bins: int = 10,
) -> list[StreamingQueryProgress]:
    """Landing documents -> persisted (source, bin, c) partial counts,
    availableNow — the PSI drift monitor's state (same exactly-once
    partial-count discipline as run_streaming_term_counts: the partial
    is keyed (source, bin, batch), so a replayed batch overwrites its
    own contribution instead of double-counting)."""
    from wellmeet_data_pipeline_spark.operators.scoring import length_bins

    # an all-filtered batch (NULL sources/lengths) is empty
    return run_partials(
        landing_stream(spark, landing_dir, schema), bins_store, checkpoint_dir,
        lambda batch: (
            length_bins(batch, width=width, n_bins=n_bins)
            .groupBy("source", "bin")
            .agg(F.count("*").cast("long").alias("c"))
        ),
    )


def current_source_psi(spark: SparkSession, bins_store: str, n_bins: int = 10) -> DataFrame:
    """PSI of every source streamed so far, through the SAME core as the
    batch query (psi_from_source_bin_counts) — parity by construction.
    Identity is the compound (source, bin, batch seq) key (the sibling
    monitors' discipline — no synthetic key column); before the first
    batch lands the view is an empty typed frame, not an exception."""
    from wellmeet_data_pipeline_spark.operators.scoring import (
        psi_from_source_bin_counts,
    )

    cur = read_partials(spark, bins_store, ["source", "bin"])
    if cur is None:
        return local_frame(spark, [], "source string, psi_micro bigint")
    cs = cur.groupBy("source", "bin").agg(F.sum("c").alias("c"))
    return psi_from_source_bin_counts(cs, n_bins=n_bins)


def run_streaming_period_totals(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    group_col: str,
    period_col: str,
    value_col: str,
) -> list[StreamingQueryProgress]:
    """Drain the landing stream (availableNow), appending per-batch
    PARTIAL (group, period) value totals — the incremental substrate of
    the CUSUM drift monitor.  Same store contract as
    run_streaming_key_counts: partials are identified by (group, period,
    batch seq), replays re-append the same identity and dedup on read,
    so period totals are exactly-once without read-modify-write."""
    return run_partials(
        landing_stream(spark, landing_dir, schema), store_path, checkpoint_dir,
        lambda batch: (
            batch.filter(F.col(group_col).isNotNull() & F.col(period_col).isNotNull())
            .groupBy(group_col, period_col)
            .agg(F.sum(value_col).cast("long").alias("x"))
        ),
    )


def _period_totals(
    spark: SparkSession, store_path: str, group_col: str, period_col: str
) -> DataFrame | None:
    """The run_streaming_period_totals store rolled up to true (group,
    period) totals `__x` — the substrate the CUSUM, Mann-Kendall and EWMA
    monitors share.  None before the first commit."""
    cur = read_partials(spark, store_path, [group_col, period_col])
    if cur is None:
        return None
    return cur.groupBy(group_col, period_col).agg(
        F.sum("x").cast("long").alias("__x")
    )


def current_changepoint(
    spark: SparkSession,
    store_path: str,
    group_col: str,
    period_col: str,
    group_type: str = "string",
    period_type: str = "string",
) -> DataFrame:
    """The consumer view of the streaming CUSUM drift monitor: dedup the
    partial store on (group, period, batch seq), roll partials up to
    true period totals, and hand them to the SAME batch operator
    (operators.stats.cusum_changepoint) — the monitor and the batch
    read stay contract-identical by construction, exactly like
    current_heavy_hitters vs threshold_heavy_hitters.  Empty store →
    empty frame with the operator's schema (group_type / period_type
    parameterize the empty-frame DDL so non-string group or period
    columns keep a consistent schema either way)."""
    from wellmeet_data_pipeline_spark.operators.stats import cusum_changepoint

    totals = _period_totals(spark, store_path, group_col, period_col)
    if totals is None:
        return local_frame(
            spark, [],
            f"{group_col} {group_type}, cp_period {period_type}, "
            "n_periods bigint, total bigint, dev_max bigint",
        )
    return cusum_changepoint(totals, group_col, period_col, F.col("__x"))


def current_trend(
    spark: SparkSession,
    store_path: str,
    group_col: str,
    period_col: str,
    group_type: str = "string",
    window_periods: int | None = None,
) -> DataFrame:
    """The consumer view of the streaming Mann-Kendall trend monitor
    (r12 verdict item 8 — the one batch family without a streaming
    twin): dedup the SAME (group, period, batch-seq) partial store the
    CUSUM monitor writes via run_streaming_period_totals, roll partials
    up to true period totals, and hand them to the batch operator
    (operators.stats.mann_kendall_by_group) — monitor and batch read
    stay contract-identical by construction (the CUSUM-twin
    discipline; streaming ingest maintains the day-grain substrate
    incrementally, and S needs the full in-window day history anyway
    since a new day pairs against every prior day).

    `window_periods` makes it the trailing-window drift gate: keep only
    each group's most recent W period indices (periods sort by their
    string form — ISO dates do — so "last W" is well-defined without a
    calendar parse).  None = all history, the exact batch twin.

    Scale shape: the store is partial-total grain (groups x periods x
    batches, calendar-bounded), the rollup is one hash aggregate, and
    the MK pair frame is per-group period-pair-bounded — day grain, not
    event grain."""
    from wellmeet_data_pipeline_spark.operators.stats import mann_kendall_by_group

    totals = _period_totals(spark, store_path, group_col, period_col)
    if totals is None:
        return local_frame(
            spark, [],
            f"{group_col} {group_type}, n_periods bigint, s_stat bigint, "
            "tau_b_micro bigint, z_micro bigint",
        )
    if window_periods is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(group_col).orderBy(F.col(period_col).desc())
        totals = (
            totals.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= window_periods)
            .drop("__rk")
        )
    # the period index for MK is the per-group rank of the period (the
    # pair signs only need the ORDER of periods, not their spacing)
    from pyspark.sql import Window

    wi = Window.partitionBy(group_col).orderBy(F.col(period_col).asc())
    idx = totals.withColumn("__i", F.row_number().over(wi))
    return mann_kendall_by_group(idx, group_col, "__i", "__x")


def current_ewma_chart(
    spark: SparkSession,
    store_path: str,
    group_col: str,
    period_col: str,
    group_type: str = "string",
    period_type: str = "string",
) -> DataFrame:
    """The consumer view of the streaming EWMA control chart (r13 —
    the drift-NOW companion of current_trend's whole-series test):
    dedup the SAME (group, period, batch-seq) partial store the
    CUSUM/Mann-Kendall monitors share via run_streaming_period_totals,
    roll partials up to true period totals, and hand them to the batch
    operator (operators.experiment.ewma_control_chart) — monitor and
    batch read stay contract-identical by construction (the CUSUM-twin
    discipline).  The EWMA is observation-ordered, so the string period
    index works as-is (ISO dates sort); a late partial for an old
    period folds into that period's total and the chart re-reads
    exactly as the batch operator would — the EWMA's own window
    recursion never has to be rewound because the substrate is
    period-total grain, not running-state grain.

    Scale shape: store is (groups x periods x batches) partial grain,
    one hash-aggregate rollup, then the operator's 60-term banded lag
    join — calendar-bounded like every consumer of this store."""
    from wellmeet_data_pipeline_spark.operators.experiment import ewma_control_chart

    totals = _period_totals(spark, store_path, group_col, period_col)
    if totals is None:
        return local_frame(
            spark, [],
            f"{group_col} {group_type}, di {period_type}, v bigint, "
            "ewma_micro bigint, ucl_micro bigint, lcl_micro bigint, "
            "breach int",
        )
    return ewma_control_chart(totals, group_col, period_col, "__x")


def run_streaming_event_log(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: StructType,
    id_col: str,
) -> list[StreamingQueryProgress]:
    """Drain the landing stream (availableNow) into a RAW-ROW store
    keyed by (id, batch seq) — the substrate for consumers that need
    whole observations rather than pre-aggregated partials (the SCD2
    history view below needs every state observation's (state, ts,
    tie)).  Same store contract as the partial-count stores: replays
    re-append the same identity and dedup on read, so the log is
    exactly-once under the foreachBatch replay contract."""
    return run_partials(
        landing_stream(spark, landing_dir, schema), store_path, checkpoint_dir,
        lambda batch: batch.filter(F.col(id_col).isNotNull()),
    )


def current_scd2_history(
    spark: SparkSession,
    store_path: str,
    key_col: str,
    state_col: str,
    ts_col: str,
    tie_col: str,
    key_type: str = "bigint",
    state_type: str = "string",
    ts_type: str = "string",
) -> DataFrame:
    """The consumer view of the streaming SCD2 dimension-history build
    (r13 — the batch family's twin, the CUSUM-twin discipline): dedup
    the raw-row event log on (tie, batch seq) and hand every
    observation to the SAME batch operator (operators.windows.
    scd2_history), so monitor and batch read stay contract-identical
    by construction.  Late or replayed observations fold in exactly as
    a batch rebuild would — history is a deterministic function of the
    observation SET (the (ts, tie) total order), never of arrival
    order, which is the property that makes SCD2 safe to maintain
    incrementally at all.  Empty store → empty typed frame."""
    from wellmeet_data_pipeline_spark.operators.windows import scd2_history

    cur = read_partials(spark, store_path, [tie_col])
    if cur is None:
        return local_frame(
            spark, [],
            f"{key_col} {key_type}, state {state_type}, "
            f"effective_from {ts_type}, effective_to {ts_type}, "
            "version bigint, is_current int",
        )
    return scd2_history(cur, key_col, state_col, ts_col, tie_col).select(
        key_col, "state", "effective_from", "effective_to", "version", "is_current"
    )
