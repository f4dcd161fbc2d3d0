"""Join operators (SURVEY.md §2.4 J2-J4; J1's anti join is
`sources.ingest.incremental_ingest`).

The reference's joins are all Python set/loop probes (degenerate hash
joins).  Here every one is a declarative DataFrame join so Catalyst picks
broadcast-hash vs sort-merge; we add `broadcast()` hints only where one
side is known-small (ID sets, dimensions), which is the 100 TB-safe
default — a 1000-executor sort-merge shuffle for a 10k-row seen-set would
be pure waste.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def insert_if_absent(incoming: DataFrame, existing: DataFrame, key: Sequence[str]) -> DataFrame:
    """J2/K2 (review-crawler/restaurant_save.py:72-130): the reference probes
    MySQL per row (`SELECT ... WHERE name=? AND address=? LIMIT 1`); Spark
    inverts it — one anti join computes the whole insert set.  Dedup within
    the batch on the same key first so one batch can't insert a key twice
    (the reference gets this for free from per-row commits)."""
    keys = list(key)
    w_first = incoming.dropDuplicates(keys)
    return w_first.join(F.broadcast(existing.select(*keys)), on=keys, how="left_anti")


def semi_existing_rows(incoming: DataFrame, existing: DataFrame, key: Sequence[str]) -> DataFrame:
    """J2's complement — rows already present (the reference counts these as
    'skipped', restaurant_save.py:116-119)."""
    keys = list(key)
    return incoming.join(existing.select(*keys), on=keys, how="left_semi")


def enrich_dimension(fact: DataFrame, dim: DataFrame, key: str | Sequence[str], broadcast_dim: bool = True) -> DataFrame:
    """J4 (review.place_id -> restaurant join; naver_crawler.py:206): standard
    equi inner join, dimension broadcast by default — dims (nation, region,
    restaurant metadata) stay small even when facts reach 100 TB."""
    keys = [key] if isinstance(key, str) else list(key)
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on=keys, how="inner")


def high_water_mark_filter(incoming: DataFrame, ts_col: str, hwm) -> DataFrame:
    """J3/T3 (review-crawler/naver_crawler.py:243-247): the reference stops a
    newest-first scan at the first seen id.  The order-insensitive, scan-
    pushable form is a watermark predicate — parquet min/max + partition
    pruning skip whole files below the high-water mark."""
    return incoming.filter(F.col(ts_col) > F.lit(hwm))


def range_join_within(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str,
    window_seconds: int,
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Event pairs (l, r) on the same key with l.ts <= r.ts <= l.ts + W —
    the time-range join Spark would otherwise execute as a broadcast
    nested loop (O(n*m) comparisons).

    Binning trick: both sides bucket their timestamp into W-wide bins;
    any qualifying pair sits in the same or adjacent bin, so the left
    side expands to (bin, bin+1) — a 2x fan-out — and the join becomes an
    EQUI join on (key, bin) Catalyst executes as a shuffled hash join.
    The exact interval predicate then filters the candidates.  Work is
    O(pairs per (key, bin)) — bounded by local density, never all-pairs;
    the same shape range-join optimizers (Databricks' range join hint,
    DuckDB IEJoin bucketing) produce.

    Timestamps compare in integer microseconds end-to-end: no double
    rounding at the window boundary."""
    w_us = window_seconds * 1_000_000
    l = left.select(
        F.col(key),
        F.unix_micros(F.col(ts_col)).alias("__l_us"),
        *[F.col(c).alias(f"{left_prefix}{c}") for c in left.columns if c not in (key, ts_col)],
    ).withColumn("__bin", F.explode(F.array(
        F.floor(F.col("__l_us") / w_us).cast("long"),
        (F.floor(F.col("__l_us") / w_us) + 1).cast("long"),
    )))
    r = right.select(
        F.col(key),
        F.unix_micros(F.col(ts_col)).alias("__r_us"),
        *[F.col(c).alias(f"{right_prefix}{c}") for c in right.columns if c not in (key, ts_col)],
    ).withColumn("__bin", F.floor(F.col("__r_us") / w_us).cast("long"))
    return (
        l.join(r, on=[key, "__bin"])
        .filter(
            (F.col("__r_us") >= F.col("__l_us"))
            & (F.col("__r_us") <= F.col("__l_us") + F.lit(w_us))
        )
        .drop("__bin")
        .withColumn("delta_us", F.col("__r_us") - F.col("__l_us"))
        .drop("__l_us", "__r_us")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    start_col: str = "start_us",
    end_col: str = "end_us",
    bucket_width_us: int = 3_600_000_000,
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Interval x interval overlap join (closed intervals, integer
    microseconds): emit (l, r) per key where l.start <= r.end AND
    r.start <= l.end — the sessions-vs-campaigns / readings-vs-outages
    shape a naive theta join executes as an O(n*m) nested loop.

    Grid blocking: each interval fans out to every `bucket_width_us`-wide
    bucket it covers (sequence(floor(s/W), floor(e/W)) — fan-out bounded
    by interval_length/W + 1, so pick W near the typical interval
    length), the join becomes EQUI on (key, bucket), and the exact
    predicate filters candidates.  A pair overlapping across several
    shared buckets would duplicate, so only the FIRST shared bucket —
    greatest(floor(l.s/W), floor(r.s/W)), a value both sides compute
    without seeing each other — emits the pair: exactly-once without a
    distinct shuffle.  Work is O(pairs per (key, bucket)): local density,
    never all-pairs."""
    w = int(bucket_width_us)

    def prep(df: DataFrame, prefix: str, s_alias: str, e_alias: str) -> DataFrame:
        others = [c for c in df.columns if c not in (key, start_col, end_col)]
        return df.select(
            F.col(key),
            F.col(start_col).cast("long").alias(s_alias),
            F.col(end_col).cast("long").alias(e_alias),
            *[F.col(c).alias(f"{prefix}{c}") for c in others],
        ).withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(s_alias) / w).cast("long"),
                    F.floor(F.col(e_alias) / w).cast("long"),
                )
            ),
        )

    l = prep(left, left_prefix, "__ls", "__le")
    r = prep(right, right_prefix, "__rs", "__re")
    return (
        l.join(r, on=[key, "__bucket"])
        .filter(
            (F.col("__ls") <= F.col("__re"))
            & (F.col("__rs") <= F.col("__le"))
            & (
                F.col("__bucket")
                == F.greatest(
                    F.floor(F.col("__ls") / w).cast("long"),
                    F.floor(F.col("__rs") / w).cast("long"),
                )
            )
        )
        .withColumn(
            "overlap_us",
            F.least(F.col("__le"), F.col("__re"))
            - F.greatest(F.col("__ls"), F.col("__rs")),
        )
        .withColumnRenamed("__ls", f"{left_prefix}{start_col}")
        .withColumnRenamed("__le", f"{left_prefix}{end_col}")
        .withColumnRenamed("__rs", f"{right_prefix}{start_col}")
        .withColumnRenamed("__re", f"{right_prefix}{end_col}")
        .drop("__bucket")
    )


def bloom_bit_positions(
    key: "F.Column", m_bits: int = 1 << 17, k_hashes: int = 4
) -> "F.Column":
    """k sha-derived Bloom bit positions for a key, as an array<long>:
    position i decodes hex chars [1+8i, 8+8i) of sha256(key) mod m_bits —
    derivation chosen because BOTH engines can reproduce it exactly
    (sha256 is bit-identical cross-engine; xxhash64 is not), so Bloom
    membership is a hash-verifiable fact, not an implementation detail.
    k_hashes <= 8 (sha256 yields 64 hex chars = 8 disjoint u32 draws)."""
    if not 1 <= k_hashes <= 8:
        raise ValueError(f"k_hashes must be in [1, 8], got {k_hashes}")
    sha = F.sha2(key.cast("string"), 256)
    return F.array(
        *[
            F.conv(F.substring(sha, 1 + 8 * i, 8), 16, 10).cast("long") % m_bits
            for i in range(k_hashes)
        ]
    )


def bloom_prefilter_stats(
    build: DataFrame,
    probe: DataFrame,
    build_key: str,
    probe_key: str,
    m_bits: int = 1 << 17,
    k_hashes: int = 4,
    bits: DataFrame | None = None,
) -> DataFrame:
    """Bloom-filter join prefilter with EXACT false-positive accounting —
    the runtime-filter pushdown pattern (Spark's own
    spark.sql.optimizer.runtimeFilter.bloomFilter does this opaquely;
    here the filter is sha-derived so every count is reproducible):
    the build side's distinct keys set k bits each; a probe key passes
    iff ALL k of its positions are set; passes minus exact semi-join
    matches = false positives, i.e. rows a Bloom-gated shuffle would
    still move for nothing.

    Why it matters at 100 TB: a big join's probe side ships every row to
    the shuffle; pushing the build side's Bloom bits into the probe scan
    drops non-matching rows BEFORE the exchange, cutting shuffle volume
    to matches + the FP mass this operator measures.  The bit set is
    k * |build| positions at most (a broadcast-sized frame whenever the
    build side is broadcast-sized — exactly the regime where the
    prefilter pays).

    Plan: bit set = distinct exploded positions (broadcast); probe keys
    distinct once (their only shuffle), positions exploded and inner-
    joined against the bits — a probe key passes iff all k exploded rows
    survive (duplicate positions within one key double-join and still
    sum to k).  Output is ONE row: n_build, n_probe, n_pass,
    n_true_match, n_false_pos, n_bits_set, fp_rate_micro (FP fraction of
    the true negatives, micro grid).

    `bits` optionally injects a prebuilt (pos) bit-set frame — the
    streaming twin (streaming/bloom.py) passes its persisted store here
    so the pass rule and FP accounting live in exactly ONE place and
    stream-vs-batch parity is structural."""
    b_keys = (
        build.select(F.col(build_key).alias("k"))
        .filter(F.col("k").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)  # feeds bits, the exact semi join
        # AND n_build — same one-scan/three-consumers discipline as p_keys
    )
    pos = bloom_bit_positions(F.col("k"), m_bits, k_hashes)
    if bits is None:
        bits = b_keys.select(F.explode(pos).alias("pos")).distinct()
    bits = bits.localCheckpoint(eager=True)  # broadcast probe join + count
    p_keys = (
        probe.select(F.col(probe_key).alias("k"))
        .filter(F.col("k").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)  # feeds the pass count, the exact
        # semi join AND n_probe — one probe-side scan, three consumers
    )
    passes = (
        p_keys.select("k", F.explode(pos).alias("pos"))
        .join(F.broadcast(bits), "pos")
        .groupBy("k")
        .agg(F.count("*").alias("__nh"))
        .filter(F.col("__nh") == k_hashes)
        .select("k")
    )
    true_match = p_keys.join(b_keys, "k", "left_semi")
    counts = (
        p_keys.agg(F.count("*").cast("long").alias("n_probe"))
        .crossJoin(b_keys.agg(F.count("*").cast("long").alias("n_build")))
        .crossJoin(bits.agg(F.count("*").cast("long").alias("n_bits_set")))
        .crossJoin(passes.agg(F.count("*").cast("long").alias("n_pass")))
        .crossJoin(true_match.agg(F.count("*").cast("long").alias("n_true_match")))
    )
    return counts.select(
        "n_build",
        "n_probe",
        "n_pass",
        "n_true_match",
        (F.col("n_pass") - F.col("n_true_match")).cast("long").alias("n_false_pos"),
        "n_bits_set",
        F.expr(
            "CASE WHEN n_probe - n_true_match = 0 THEN CAST(0 AS BIGINT) "
            "ELSE (n_pass - n_true_match) * 1000000 div (n_probe - n_true_match) END"
        ).cast("long").alias("fp_rate_micro"),
    )
