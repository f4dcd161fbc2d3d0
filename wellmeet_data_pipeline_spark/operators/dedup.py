"""Deduplication operators (SURVEY.md §2.5 + north-star near-dup family).

Exact dedup = hash-groupBy on a surrogate key; "keep first" is made
deterministic with an explicit order column (min/row_number), because
dropDuplicates keeps an *arbitrary* row — fine for the reference's
single-threaded loop (review-crawler/naver_crawler.py:249-252), wrong on
a 1000-executor cluster where 'first' is a race.

Near-dup family (MinHash-LSH, SimHash, n-gram Jaccard) is built on
wellmeet_data_pipeline_spark.functions.text shingles; all hashing uses
seeded xxhash64/sha2 so results are deterministic across runs and
partitionings.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.functions.text import (
    document_fingerprint,
    normalized_text,
)


def dedup_keep_first(df: DataFrame, key: str | Sequence[str], order_col: str) -> DataFrame:
    """D1 made cluster-deterministic: keep the row with the smallest
    `order_col` per key.  Window row_number -> one shuffle on the key, no
    driver state (the reference threads a Python set through the loop,
    naver_crawler.py:249-252)."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def distinct_keys(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """D2 (submit-aws-batch-lambda/lambda_function.py:196-207):
    list(set(...)) -> select().distinct(); partial aggregation makes this a
    map-side-combined shuffle, not a full materialization."""
    return df.select(*cols).distinct()


def exact_dedup_documents(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-identical dedup: fingerprint = sha256(normalized text)
    (D3 generalized), keep the lowest id per fingerprint.  One shuffle on a
    64-char key; at 100 TB shuffle the (fingerprint, id) pair only, then
    semi-join back to recover surviving rows (done below) so wide document
    rows never shuffle."""
    fp = docs.select(F.col(id_col), document_fingerprint(F.col(text_col)).alias("fingerprint"))
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return docs.join(keep.select(id_col), on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Near-duplicate detection
# ---------------------------------------------------------------------------

def shingles_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    carry_cols: Sequence[str] = (),
    keep_pos: bool = False,
) -> DataFrame:
    """(id, shingle) rows: normalize once into a materialized word array,
    explode the start-offset sequence, slice+join per gram — ZERO
    shuffle, pure codegen (the _span_frames topology).  Two rejected
    alternatives, both measured: a transform() lambda over the word
    array re-evaluates the normalization regexes on every element_at
    access (no CSE inside lambda bodies, ~8x slower), and the original
    lead()-window form costs a corpus-grain shuffle on id AND silently
    corrupts grams when the input carries duplicate doc_ids (the window
    interleaves both copies' words — round-8 review catch; this form is
    per-row, so duplicate ids are safe).  The normalization regex runs
    ONCE per doc in the projection, before the explode.  `carry_cols`
    rides extra narrow columns (e.g. lang) through the explode so
    downstream per-group stats don't need a join back to the doc table.
    `keep_pos` also emits the 0-based word offset of each shingle (span
    detection needs it; the MinHash paths don't, so it stays opt-in)."""
    carry = list(carry_cols)
    base = docs.select(
        F.col(id_col),
        *carry,
        F.split(normalized_text(F.col(text_col)), " ").alias("__words"),
    ).filter(F.size("__words") >= n)
    pos_cols = ["pos"] if keep_pos else []
    return (
        base.select(
            id_col,
            *carry,
            "__words",
            F.explode(F.sequence(F.lit(0), F.size("__words") - n)).alias("pos"),
        )
        .select(
            id_col,
            *carry,
            *pos_cols,
            F.array_join(F.slice("__words", F.col("pos") + 1, n), " ").alias(
                "shingle"
            ),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures as num_hashes columns h0..h{n-1}.

    Explode shingles once, compute all hash family members as plain
    projection columns (xxhash64(shingle, seed_i) stays in codegen), then
    ONE groupBy(id).agg(min...) — partial aggregation collapses each
    partition to one row per doc before the shuffle, so the wire cost is
    docs x num_hashes longs regardless of document size.  Docs with no
    shingles (shorter than n words) drop out."""
    exploded = shingles_df(docs, text_col, id_col, shingle_n)
    aggs = [
        F.min(F.xxhash64("shingle", F.lit(seed + i))).alias(f"h{i}") for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_band_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket) LSH index rows for each doc — the persistable
    half of MinHash+LSH.  A stored bucket frame lets an incremental
    pipeline index each doc ONCE and probe new docs against the store by
    an equi-join on (band, bucket), instead of re-hashing the whole
    corpus per batch (streaming/corpus.py rides this)."""
    rpb = num_hashes // bands
    sig = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_n)
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(F.lit(b), *[f"h{i}" for i in range(b * rpb, (b + 1) * rpb)]).alias(
                            "bucket"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def bucket_pairs(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id_a, id_b) candidate pairs from an LSH index frame: self-join on
    (band, bucket) — only same-bucket docs ever meet."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "bucket"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs: shingle -> minhash signature ->
    band buckets -> self-join per bucket.  The self-join shuffles on
    (band, bucket) so only same-bucket docs ever meet — this is the piece
    that keeps near-dup sub-quadratic at 100 TB.  Returns (id_a, id_b)
    candidate pairs with id_a < id_b."""
    return bucket_pairs(
        minhash_band_buckets(docs, text_col, id_col, num_hashes, bands, shingle_n), id_col
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = 10_000,
    stats_frame: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (verification stage after
    LSH).  Without a candidate frame it falls back to the inverted-index
    form: explode shingles, self-join on shingle, count co-occurrences —
    sub-quadratic only if no shingle is hot: a shingle shared by d docs
    contributes d^2 join rows, and natural-language stop-shingles have
    d ~ corpus size.  `max_shingle_df` caps that: shingles whose document
    frequency exceeds the cap are dropped from the index AND from the
    per-doc set sizes (the standard stopword treatment — a shingle in
    >10k docs carries ~zero Jaccard signal), bounding the self-join at
    cap^2 rows per shingle.  The DF count rides the same shuffle
    partitioning as the self-join (both keyed on shingle).  Set
    max_shingle_df=None for the exact uncapped semantics.

    `stats_frame` (r13 optimization round, bench shared_pair_stats)
    injects a prebuilt _shingle_pair_stats(docs, text, id, shingle_n,
    None, max_shingle_df) frame — the caller owns parameter parity;
    everything below it (threshold + rounding) is a pure projection.
    Shared == standalone pinned by tests/test_shared_pair_stats.py."""
    stats = (
        stats_frame
        if stats_frame is not None
        else _shingle_pair_stats(
            docs, text_col, id_col, shingle_n, candidates, max_shingle_df
        )
    )
    return (
        stats.withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = 10_000,
    stats_frame: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: shingle CONTAINMENT
    c(A in B) = |A∩B| / |A| instead of symmetric Jaccard.  Catches the
    subset-duplicate class Jaccard misses — a short doc embedded
    verbatim in a much longer one has containment ~1 while its Jaccard
    is ~|A|/|B| (arbitrarily small), so a Jaccard threshold never fires
    (the RefinedWeb-style sub/superset dedup read).  Emits both
    directions per co-occurring pair and keeps pairs where either
    reaches `threshold`; same inverted-index topology, DF cap, and
    candidate-driven verify tier as ngram_jaccard_pairs.  `stats_frame`
    injects the shared prebuilt stats frame (see ngram_jaccard_pairs)."""
    stats = (
        stats_frame
        if stats_frame is not None
        else _shingle_pair_stats(
            docs, text_col, id_col, shingle_n, candidates, max_shingle_df
        )
    )
    c_ab = F.col("inter") / F.col("n_a")
    c_ba = F.col("inter") / F.col("n_b")
    return (
        stats.filter(F.greatest(c_ab, c_ba) >= threshold)
        .select(
            "id_a",
            "id_b",
            "inter",
            "n_a",
            "n_b",
            F.round(c_ab, 6).alias("containment_a_in_b"),
            F.round(c_ba, 6).alias("containment_b_in_a"),
        )
    )


def _shingle_pair_stats(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    candidates: DataFrame | None,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared core of the exact shingle-overlap family: (id_a, id_b,
    inter, n_a, n_b) for every candidate (or co-occurring) pair, with
    the document-frequency cap applied to index AND set sizes."""
    # One explicit shingle-keyed exchange feeds the per-doc dedup, the
    # DF-cap window, AND the self-join below: hashpartitioning(shingle)
    # satisfies the clustered distribution of all three, so dropDuplicates,
    # the window sort, and the SMJ all run post-shuffle with NO further
    # exchange (the old .distinct() paid a second (id, shingle) exchange
    # first).  The explicit partition count scales with input splits and is
    # exempt from AQE coalescing — at the 64x scale smoke, AQE's 64 MiB
    # coalesce target packed the whole downstream stage into ~11 fat tasks
    # whose window/SMJ sorts and pair shuffle-write buffers spilled GBs;
    # proportional buckets keep every per-task working set flat as the
    # corpus grows.
    spark = docs.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_buckets = max(shuffle_n, docs.rdd.getNumPartitions() * 4)
    exploded = (
        shingles_df(docs, text_col, id_col, shingle_n)
        .repartition(n_buckets, "shingle")
        .dropDuplicates([id_col, "shingle"])
    )
    if max_shingle_df is not None:
        # window count (not a groupBy + anti-join): the DF filter rides
        # ONE exchange on shingle that the self-join below reuses, whereas
        # a broadcast-anti-join of the hot set would recompute the whole
        # exploded lineage a second time to build the broadcast side
        # (measured ~1.6x slower end-to-end at sf0.1)
        by_shingle = Window.partitionBy("shingle")
        exploded = (
            exploded.withColumn("__df", F.count("*").over(by_shingle))
            .filter(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    sizes = exploded.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    if candidates is not None:
        # candidate-driven verification: intersections ONLY for the
        # candidate pairs — cost linear in the candidate count, never
        # the DF² shingle self-join.  r13 optimization round (guide
        # §2.3/§2.4, the jaccard_prefix_join lesson): each doc's
        # distinct shingle set rides the candidate join ONCE as an
        # array cell and the intersection is a per-pair JVM
        # array_intersect (exact — both sides are distinct sets),
        # instead of attaching every shingle of id_a to every pair
        # (|pairs|×|shingles| rows) and re-aggregating by pair.  The
        # inter>0 filter reproduces the old inner-join semantics
        # (zero-overlap candidate pairs are absent from stats).
        cand = candidates.select("id_a", "id_b").distinct()
        arrs = exploded.groupBy(id_col).agg(F.collect_set("shingle").alias("__shs"))
        co = (
            cand.join(
                arrs.select(F.col(id_col).alias("id_a"), F.col("__shs").alias("__sa")),
                "id_a",
            )
            .join(
                arrs.select(F.col(id_col).alias("id_b"), F.col("__shs").alias("__sb")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("__sa", "__sb")).cast("long").alias("inter"),
            )
            .filter(F.col("inter") > 0)
        )
    else:
        a = exploded.alias("a")
        b = exploded.alias("b")
        pair_rows = (
            a.join(b, on="shingle")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
        )
        # The co-occurrence count keys are nearly UNIQUE per map task (a doc
        # pair co-occurs under ~1.1 shingles on average), so a conventional
        # groupBy's pre-shuffle partial aggregate achieves no combining yet
        # builds a hash table over every pair the task emits — measured at
        # the 64x smoke: 81.0M rows in -> 80.3M out with 7.2 GiB spilled on
        # EACH side of the exchange.  Shuffle the raw pair rows by pair key
        # instead (explicit repartition = no pre-shuffle partial agg, and no
        # AQE coalesce undoing the bucket count); every aggregation hash
        # table is then post-shuffle and holds only its bucket's keys.  The
        # bucket count scales with input splits so per-task tables stay
        # bounded as the corpus grows — shuffle volume is unchanged because
        # the dropped partial achieved no reduction.
        co = (
            pair_rows.repartition(n_buckets, "id_a", "id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return co.join(sa, "id_a").join(sb, "id_b")


# simhash bit masks as literal longs (bit 63 is the sign bit in two's
# complement)
_BIT_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def simhash_df(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_n: int = 2
) -> DataFrame:
    """(id, simhash) via explode + one groupBy with 64 conditional-sum
    columns (per-bit votes), then a single OR-fold projection — everything
    stays in whole-stage codegen, one shuffle of 64 longs per doc."""
    sh = shingles_df(docs, text_col, id_col, shingle_n)
    h = sh.select(F.col(id_col), F.xxhash64("shingle").alias("h"))
    aggs = [
        F.sum(F.when(F.col("h").bitwiseAND(F.lit(m)) != 0, 1).otherwise(-1)).alias(f"v{i}")
        for i, m in enumerate(_BIT_MASKS)
    ]
    votes = h.groupBy(id_col).agg(*aggs)
    acc = F.lit(0).cast("long")
    for i, m in enumerate(_BIT_MASKS):
        acc = acc.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(m).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(id_col, acc.alias("simhash"))


def simhash_sha_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    n_bits: int = 48,
) -> DataFrame:
    """(id, simhash) with a sha256-derived 48-bit hash family — the
    oracle-checkable twin of simhash_df (which stays on xxhash64 as the
    faster scale default).

    Per shingle occurrence, h = first 12 hex chars of sha256(shingle)
    decoded as an integer: 48 bits keeps the per-doc fingerprint an
    always-positive BIGINT, so ANSI SQL (DuckDB) reproduces every bit
    without two's-complement sign gymnastics (the 64-bit form's bit 63
    is the sign bit).  Same plan shape as simhash_df: one explode, one
    groupBy with n_bits conditional sums (per-bit votes), a single
    shift-OR projection — all whole-stage codegen."""
    sh = shingles_df(docs, text_col, id_col, shingle_n)
    h = sh.select(
        F.col(id_col),
        F.conv(F.substring(F.sha2(F.col("shingle"), 256), 1, n_bits // 4), 16, 10)
        .cast("long")
        .alias("h"),
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(n_bits)
    ]
    votes = h.groupBy(id_col).agg(*aggs)
    acc = F.lit(0).cast("long")
    for i in range(n_bits):
        acc = acc.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select(id_col, acc.alias("simhash"))


def simhash_sha_near_dup_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, simhash, n_near_dups) — every doc's sha-derived 48-bit
    SimHash fingerprint plus its hamming-ball near-dup degree through the
    banded-prefix candidate join.  One frame exercises the whole SimHash
    topology (fingerprint -> banding -> bucket join -> bit_count verify)
    with output on EVERY doc, so the oracle compare has full-corpus
    evidence even when the corpus contains no near-dups."""
    # pinned: the fingerprint frame feeds both sides of the banded join
    # and the final profile join — recomputing 48 vote sums three times
    # would triple the dominant shingle scan.  NOTE (r13):
    # fanout_small_scan on docs was A/B-measured and REJECTED (identity
    # 2.36s vs fanned 2.52-2.76s min-of-3 same session — the exchange +
    # .rdd partition probe outweigh the spread at this per-row weight).
    sig = simhash_sha_df(docs, text_col, id_col).localCheckpoint(eager=False)
    pairs = simhash_near_dup_pairs(
        sig,
        max_hamming=max_hamming,
        id_col=id_col,
        hash_col="simhash",
        bands=bands,
        n_bits=48,
    )
    deg = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionAll(pairs.select(F.col("id_b").alias(id_col)))
        .groupBy(id_col)
        .agg(F.count("*").alias("__n"))
    )
    return sig.join(deg, id_col, "left").select(
        id_col,
        "simhash",
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_near_dups"),
    )


def minhash_signatures_sha(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingle_base: DataFrame | None = None,
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature with the sha256-prefix hash
    family: substr(sha256(shingle || '|' || seed), 1, 16) — fixed-width
    lowercase hex, so lexicographic min == numeric min and ANSI SQL
    (DuckDB) reproduces the signature bit-for-bit.

    `shingle_base` (r14 optimization round, bench SHINGLE_BASE sharing)
    injects a prebuilt DISTINCT (id, shingle) frame —
    shingles_df(docs, text, id, shingle_n).distinct() — the caller owns
    parameter parity.  Signatures are identical by construction: min is
    idempotent, so mins over the distinct shingle set equal mins over
    occurrences, and the base IS the distinct set this function builds
    itself otherwise."""
    from wellmeet_data_pipeline_spark.operators.skew import fanout_small_scan

    # num_hashes sha256 per distinct shingle is ~100x the scan cost; fan
    # a few-split scan out to cluster parallelism first (no-op at scale,
    # and a no-op again when the caller already fanned `docs` out) —
    # measured min-of-3 at sf0.1: 2.53s -> 0.90s for the 16-hash build
    exploded = (
        shingle_base
        if shingle_base is not None
        else shingles_df(fanout_small_scan(docs), text_col, id_col, shingle_n).distinct()
    )
    aggs = [
        F.min(F.substring(F.sha2(F.concat_ws("|", "shingle", F.lit(str(i))), 256), 1, 16)).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates_sha(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Oracle-checkable MinHash+LSH over the sha256-prefix hash family.
    Same plan shape as the xxhash64 variant (explode once, num_hashes
    mins in ONE groupBy, band buckets, bucket self-join); sha2 costs
    more per shingle, which is why the xxhash64 variant remains the
    100 TB default."""
    sig = minhash_signatures_sha(docs, text_col, id_col, num_hashes, shingle_n)
    return _sha_band_pairs(sig, id_col, num_hashes, bands)


def _sha_banded(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) LSH index rows from a sha-family signature frame
    — the two-corpus probe join and the self-join pair generator share
    this banding."""
    rpb = num_hashes // bands
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.sha2(
                            F.concat_ws("|", *[f"h{i}" for i in range(b * rpb, (b + 1) * rpb)]), 256
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def _sha_band_pairs(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id_a, id_b) LSH candidate pairs from a sha-family signature frame —
    shared by the candidate generator and the verify stage so callers that
    already hold `sig` don't pay a second signature computation."""
    return bucket_pairs(_sha_banded(sig, id_col, num_hashes, bands), id_col)


def cross_corpus_near_dup_ids_sha(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_jaccard: float | None = 0.5,
) -> DataFrame:
    """Ids of NEW documents that near-dup the REFERENCE corpus — the
    cross-corpus dedup primitive ("drop crawl docs already in the
    training set", train-vs-eval leakage scans, re-crawl suppression).

    Two-phase, like every near-dup path in this module: banded LSH
    recall, then exact precision on the surviving droplet.  Both corpora
    band independently (a doc's signature does not depend on corpus
    membership) and meet in ONE equi-join on (band, bucket) — the
    reference side ships only its (id, band, bucket) index rows, and at
    100 TB that index is computed once and persisted
    (minhash_band_buckets / streaming sig store are the incremental
    twins of this batch form).  With `verify_jaccard` set (the default:
    0.5), each candidate (new, ref) pair gets its EXACT shingle-set
    Jaccard through candidate-bounded joins and only pairs at/above the
    threshold count as hits — at the default banding (16 hashes /
    4 bands) a raw band collision alone fires ~23% of the time for
    Jaccard-0.5 pairs, far too loose to destroy data on.  Pass
    verify_jaccard=None for the raw candidate ids (leakage SCANS, where
    recall matters and nothing is dropped).

    sha256-prefix family throughout, so the whole path — banding AND
    verify — is oracle-checkable.

    `verify_jaccard` must be > 0 when set: the intersection count comes
    from inner joins, so zero-overlap candidate pairs never reach the
    threshold filter and a 0.0 threshold would silently mean '> 0'.  Use
    verify_jaccard=None for recall-only scans (raw band collisions)."""
    if verify_jaccard is not None and verify_jaccard <= 0:
        raise ValueError(
            "verify_jaccard must be > 0 (inner-join intersection counting "
            "cannot express a 0.0 threshold); pass verify_jaccard=None for "
            "a recall-only candidate scan"
        )
    new_banded = _sha_banded(
        minhash_signatures_sha(new_docs, text_col, id_col, num_hashes, shingle_n),
        id_col, num_hashes, bands,
    )
    ref_banded = _sha_banded(
        minhash_signatures_sha(ref_docs, text_col, id_col, num_hashes, shingle_n),
        id_col, num_hashes, bands,
    )
    if verify_jaccard is None:
        return (
            new_banded.join(ref_banded, ["band", "bucket"], "left_semi")
            .select(id_col)
            .distinct()
        )
    pairs = (
        new_banded.join(
            ref_banded.withColumnRenamed(id_col, "__ref_id"), ["band", "bucket"]
        )
        .select(id_col, "__ref_id")
        .distinct()
    )
    # exact Jaccard, candidate-bounded: shingles join THROUGH the pairs
    sh_new = shingles_df(new_docs, text_col, id_col, shingle_n).distinct()
    sh_ref = (
        shingles_df(ref_docs, text_col, id_col, shingle_n)
        .distinct()
        .withColumnRenamed(id_col, "__ref_id")
    )
    inter = (
        pairs.join(sh_new, id_col)
        .join(sh_ref, ["__ref_id", "shingle"])
        .groupBy(id_col, "__ref_id")
        .agg(F.count("*").alias("__i"))
    )
    n_new = sh_new.groupBy(id_col).agg(F.count("*").alias("__na"))
    n_ref = sh_ref.groupBy("__ref_id").agg(F.count("*").alias("__nb"))
    verified = (
        inter.join(n_new, id_col)
        .join(n_ref, "__ref_id")
        .filter(
            F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i"))
            >= F.lit(verify_jaccard)
        )
    )
    return verified.select(id_col).distinct()


def dedup_against_reference_sha(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_jaccard: float | None = 0.5,
) -> DataFrame:
    """New-corpus rows surviving cross-corpus near-dup removal: anti-join
    against the (Jaccard-verified by default) hit ids.  Narrow frames do
    the matching — index rows and (id, shingle) pairs for the verify;
    the final anti-join is keyed on id, and Spark broadcasts the hit set
    when it is small (the usual case) — with a pathologically large hit
    set the planner falls back to shuffling the new corpus once on its
    id, which is the floor cost of any keyed filter."""
    hits = cross_corpus_near_dup_ids_sha(
        new_docs, ref_docs, text_col, id_col, num_hashes, bands, shingle_n,
        verify_jaccard,
    )
    return new_docs.join(hits, id_col, "left_anti")


def minhash_verify_sha(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    round_digits: int = 6,
    raw_counts: bool = False,
    shingle_base: DataFrame | None = None,
) -> DataFrame:
    """The MinHash VERIFY stage the LSH candidate generator feeds: for each
    candidate pair, the signature-agreement estimate
    est_jaccard = (1/k) * #{i : min_i(A) == min_i(B)} — the unbiased
    MinHash estimator of Jaccard — next to the EXACT shingle-set Jaccard,
    so a threshold stage can keep true near-dups and a quality dashboard
    can track estimator error.

    Everything is candidate-bounded: the estimate is a pair ⋈ signature
    equi-join (k small columns), and the exact Jaccard joins shingles
    THROUGH the candidate pairs (pair ⋈ shingles_a on id, ⋈ shingles_b
    on (id, shingle)) — only candidate docs' shingles ever meet, never
    the all-pairs corpus.  This is the standard two-phase near-dup
    topology at 100 TB: cheap banded recall, exact precision on the
    surviving droplet.

    The signature and distinct-shingle frames are localCheckpoint'ed:
    both appear 3x in the lineage (banding + two estimate sides; sizes +
    two intersection sides), and materializing them replaces three
    normalize→explode→hash corpus passes with one — measured 3.5x at
    sf0.1.  Both frames are tiny
    next to the corpus (n_docs × 16 hex prefixes; (doc, shingle)
    pairs), which is why persist-the-signatures is the standard step in
    every production MinHash pipeline.

    `raw_counts` returns the pre-rounding integers (id_a, id_b, agree,
    na, nb, i) instead of the rounded ratios, so downstream threshold
    logic can compare with exact cross-multiplications (the
    dedup_threshold_sweep consumer) — agree/k >= t and i/(na+nb-i) >= t
    become pure BIGINT inequalities with no snap anywhere."""
    from wellmeet_data_pipeline_spark.operators.skew import fanout_small_scan

    if shingle_base is not None:
        # r14 optimization round (guide §2.1, bench SHINGLE_BASE sharing):
        # the signature and intersect legs both reduce over the SAME
        # distinct (id, shingle) frame, and when the session already
        # holds it checkpointed, BOTH legs read it — signatures are
        # identical because min is idempotent over the distinct set, and
        # the exact-Jaccard leg consumed exactly this distinct frame
        # anyway.  The caller owns the checkpoint, so only the signature
        # leg gets a lazy checkpoint here.
        sig = minhash_signatures_sha(
            docs, text_col, id_col, num_hashes, shingle_n, shingle_base=shingle_base
        ).localCheckpoint(eager=False)
        sh = shingle_base
    else:
        # fan out ONCE here so the signature and shingle legs share the same
        # repartition subtree (the inner fanout no-ops on the wide frame)
        docs = fanout_small_scan(docs)
        sig = minhash_signatures_sha(
            docs, text_col, id_col, num_hashes, shingle_n
        ).localCheckpoint(eager=False)
        sh = shingles_df(docs, text_col, id_col, shingle_n).distinct().localCheckpoint(eager=False)
    pairs = _sha_band_pairs(sig, id_col, num_hashes, bands)
    sig_a = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)]
    )
    sig_b = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)]
    )
    agree = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(num_hashes))
    est_cols = (
        [agree.cast("long").alias("agree")]
        if raw_counts
        else [F.round(agree / F.lit(float(num_hashes)), round_digits).alias("est_jaccard")]
    )
    est = pairs.join(sig_a, "id_a").join(sig_b, "id_b").select("id_a", "id_b", *est_cols)
    # NOTE (r13 optimization round): an array_intersect rewrite of this
    # intersection leg (the jaccard_prefix_join entry-14 shape) was
    # measured and REJECTED here — warm build 4.17s (this form) vs
    # 5.46s (arrays): the banded pair set is small enough that the
    # exploded SMJ touches few rows, while per-pair set hashing over
    # the est frame's 16 signature columns costs more than it saves.
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    inter = (
        pairs.join(sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), "shingle"), ["id_b", "shingle"], "inner")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    joined = (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb")), "id_b")
    )
    if raw_counts:
        return joined.select(
            "id_a",
            "id_b",
            "agree",
            F.col("na").cast("long").alias("na"),
            F.col("nb").cast("long").alias("nb"),
            F.coalesce(F.col("i"), F.lit(0)).cast("long").alias("i"),
        )
    return joined.select(
        "id_a",
        "id_b",
        "est_jaccard",
        F.round(
            F.coalesce(F.col("i"), F.lit(0))
            / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))),
            round_digits,
        ).alias("jaccard"),
    )


def minhash_verify_from_raw(
    counts: DataFrame,
    num_hashes: int = 16,
    round_digits: int = 6,
) -> DataFrame:
    """The rounded (id_a, id_b, est_jaccard, jaccard) verify form derived
    from a `minhash_verify_sha(..., raw_counts=True)` frame — r13
    optimization round: the raw-counts frame is the one expensive
    artifact the verify family shares (bench builds it once per session
    and both consumers read it), and the rounded form is a pure
    projection over it.  BIT-IDENTICAL to minhash_verify_sha's
    non-raw output by construction: est_jaccard divides the same exact
    BIGINT `agree` by the same float(num_hashes) literal, and jaccard
    divides the same exact integers (`i` is already coalesced in the raw
    frame), through the same F.round — the same IEEE operations on the
    same inputs.  Pinned by tests/test_shared_verify_counts.py."""
    return counts.select(
        "id_a",
        "id_b",
        F.round(
            F.col("agree") / F.lit(float(num_hashes)), round_digits
        ).alias("est_jaccard"),
        F.round(
            F.col("i") / (F.col("na") + F.col("nb") - F.col("i")),
            round_digits,
        ).alias("jaccard"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve near-dup candidate PAIRS into CLUSTERS: connected components
    by the alternating LARGE-STAR / SMALL-STAR algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — component
    id = min node id reachable, the canonical survivor for 'keep one doc
    per duplicate cluster'.

    Each round rewires the edge set toward stars rooted at component
    minima:
      large-star — per node u over its full neighborhood, every neighbor
        v > u reconnects to m = min(N(u) ∪ {u});
      small-star — per node u over its smaller neighbors (edges oriented
        high→low), all of them plus u reconnect to the minimum.
    Both preserve connectivity, and the alternation converges in
    O(log² n) rounds WORST case (O(log n) in practice) — independent of
    graph DIAMETER, unlike min-label propagation, so a 1000-link chain of
    near-dups costs ~10 rounds, not 1000.  Each step is one groupBy(min)
    + an equi-join re-expansion; only (u, v) id pairs ever shuffle.

    Convergence is detected by an order-invariant edge-set signature
    (count + decimal sum of xxhash64(u, v) — a 1-row aggregate, not a
    data collect).  Per-round frames are localCheckpoint-materialized —
    truncating the logical plan, which would otherwise double every
    round — and no cache-catalog entry outlives the call: checkpoint
    blocks are released by the ContextCleaner once the superseded frames
    are dropped.  Returns (node, component) for every node appearing in
    an edge.

    Raises if max_iters rounds pass without the edge set stabilizing —
    labels would be silently WRONG; the caller must raise max_iters, not
    receive plausible-looking partial labels."""
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # materialize the INPUT edge set once: the node frame consumes it
    # twice and round 1 again, so an expensive candidate-generation
    # lineage (LSH banding, shingle containment) would otherwise re-run
    # per consumer
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )

    def signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: int64 sum of xxhash64 overflows under ANSI
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # orient every edge high→low (u > v); drop self-loops.  localCheckpoint
    # (not cache) each round: it truncates the LOGICAL plan to an RDD leaf —
    # the star rounds otherwise double the plan every iteration and the
    # final plan string alone goes exponential; its blocks are released by
    # the ContextCleaner once the superseded frame is dropped, so no
    # session-lifetime cache-catalog entry leaks.
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sig = signature(e)
    for _ in range(max_iters):
        # large-star over the symmetrized neighborhood
        ee = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmins = (
            ee.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
        )
        large = (
            ee.join(lmins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over the high→low edges large just produced
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        new_e = (
            large.join(smins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = signature(new_e)
        e = new_e
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not stabilize in {max_iters} large/small-star "
            "rounds — raise max_iters; returning partial labels would keep multiple "
            "survivors per cluster"
        )
    roots = e.groupBy("u").agg(F.min("v").alias("component"))
    return nodes.join(roots, nodes.node == roots.u, "left").select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )


def dedup_cluster_survivors(
    docs: DataFrame, edges: DataFrame, id_col: str = "doc_id", max_iters: int = 25
) -> DataFrame:
    """The end of the near-dup pipeline: candidate pairs -> connected
    components -> keep the min-id doc per cluster (plus every doc that
    was never in a pair).  Semi/anti joins ship only ids."""
    comp = connected_components(edges, max_iters=max_iters)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def simhash_near_dup_pairs(
    sim_df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bands: int = 4,
    n_bits: int = 64,
    require_complete: bool = True,
) -> DataFrame:
    """Hamming-ball SimHash near-dup: pairs whose simhash differs in at
    most `max_hamming` bits.

    Banded-prefix LSH on the 64-bit hash: split into `bands` 16-bit
    slices; by pigeonhole, any pair within hamming distance < bands must
    agree on at least one slice, so the candidate join shuffles on
    (band, slice) and only slice-equal docs meet — never an all-pairs
    comparison.  Exact verification is bit_count(xor) <= d in codegen.
    Complete when max_hamming < bands (standard 64/4/3 configuration);
    `n_bits` narrows the hash width for sub-64-bit families (the sha
    twin uses 48 so the fingerprint stays an always-positive BIGINT
    that ANSI SQL reproduces without two's-complement gymnastics).

    `require_complete=True` (default) raises when max_hamming >= bands —
    such a config silently loses pairs that differ in every band.  Pass
    require_complete=False to opt into intentionally-incomplete banding
    (a recall/cost trade some callers want at very large hamming radii);
    the returned pairs remain exact-verified, just not exhaustive."""
    if require_complete and max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands}: pigeonhole "
            "completeness requires distance < bands (a pair could differ "
            "in every band and never meet in the candidate join); pass "
            "require_complete=False to accept incomplete recall"
        )
    if n_bits % bands:
        raise ValueError(f"bands={bands} must divide n_bits={n_bits}")
    bits = n_bits // bands
    slices = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col(hash_col), b * bits)
            .bitwiseAND(F.lit((1 << bits) - 1))
            .alias("slice"),
        )
        for b in range(bands)
    ]
    banded = sim_df.select(
        F.col(id_col), F.col(hash_col), F.explode(F.array(*slices)).alias("bb")
    ).select(id_col, hash_col, "bb.band", "bb.slice")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "slice"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def cross_doc_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    max_gram_df: int | None = None,
) -> DataFrame:
    """ExactSubstr-style CROSS-document duplicate span detection (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models Better"):
    find every maximal token span of length >= min_tokens shared verbatim
    by two documents.  Complements the shingle/MinHash family (which
    scores whole-document overlap) and corpus.repeated_span_removal
    (which is WITHIN-document): this is the operator that catches boilerplate
    and quoted passages across otherwise-distinct documents.

    Distributed shape — a suffix array is the single-machine tool; the
    Spark-native equivalent is seed-and-extend, all set-based:
      1. positioned min_tokens-grams (one explode + lead window);
      2. optional document-frequency cap on the gram key (`max_gram_df`,
         counted as DISTINCT docs): boilerplate grams shared by thousands
         of docs would otherwise make the seed join quadratic in DF —
         the same hot-key discipline as ngram_jaccard_pairs, and the
         knob a 100 TB run MUST set;
      3. seed self-join on the gram string (one shuffle on the gram key;
         doc_a < doc_b keeps each unordered pair once);
      4. merge overlapping/adjacent seeds into MAXIMAL spans: seeds of
         one shared span all lie on one diagonal (pa - pb), so a
         row_number window per (doc_a, doc_b, diagonal) turns runs of
         consecutive pa into islands (pa - row_number is constant within
         a run) — never a global window.

    Output: (doc_a, doc_b, start_a, start_b, span_tokens) per maximal
    shared span, offsets 0-based in normalized-word space."""
    grams = shingles_df(
        docs, text_col=text_col, id_col=id_col, n=min_tokens, keep_pos=True
    )
    if max_gram_df is not None:
        # DISTINCT-doc frequency via two chained windows, NOT a grouped
        # frame joined back: the join form's post-aggregate size estimate
        # landed the vocabulary-sized keep-set under the broadcast
        # threshold at 64x and Catalyst broadcast ~2 GB of grams (driver
        # OOM; AQE cannot demote a statically-planned BHJ).  Windows have
        # no join to misplan, and the (shingle) exchange is the same one
        # the seed self-join below reuses.
        first_in_doc = F.row_number().over(
            Window.partitionBy("shingle", id_col).orderBy("pos")
        )
        by_shingle = Window.partitionBy("shingle")
        grams = (
            grams.withColumn(
                "__fst", F.when(first_in_doc == 1, F.lit(1)).otherwise(F.lit(0))
            )
            .withColumn("__df", F.sum("__fst").over(by_shingle))
            .filter(F.col("__df") <= max_gram_df)
            .drop("__fst", "__df")
        )
    a = grams.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pa"), "shingle"
    )
    b = grams.select(
        F.col(id_col).alias("doc_b"), F.col("pos").alias("pb"), "shingle"
    )
    seeds = a.join(b, "shingle").filter(F.col("doc_a") < F.col("doc_b"))
    with_diag = seeds.select(
        "doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag")
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    islands = with_diag.withColumn(
        "grp", F.col("pa") - F.row_number().over(w)
    )
    return (
        islands.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.min("pa").alias("start_a"), F.max("pa").alias("max_a"))
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            (F.col("start_a") - F.col("diag")).alias("start_b"),
            (F.col("max_a") - F.col("start_a") + min_tokens).cast("long").alias("span_tokens"),
        )
    )


def kcore_decomposition(
    edges: DataFrame,
    k: int = 2,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int | None = None,
) -> DataFrame:
    """k-core of the duplicate graph: the maximal subgraph in which
    every node keeps degree >= k — the DENSITY read the other graph
    queries don't give (connected components say "touching", PageRank
    says "central", triangles say "locally clustered"; the k-core says
    "this whole region survives even after stripping its fringe", i.e.
    a boilerplate nest or template family rather than a chance pair).

    Standard peeling, set-based: repeatedly drop nodes whose degree in
    the CURRENT subgraph is < k, until a fixpoint.  Each round is one
    degree aggregation + two semi-joins on node id, and the surviving
    edge frame is localCheckpoint'd per round (iterative-lineage
    discipline — the plan would double every round otherwise).
    Convergence = edge count unchanged (peeling is monotone, so the
    count is a complete convergence signature); rounds are bounded by
    the graph's degeneracy ordering depth, in practice a handful.  The
    default runs TO the fixpoint — termination is guaranteed because
    every non-converged round strictly shrinks the edge set, so the
    round count can never exceed the edge count (this matches the
    unbounded recursive-CTE oracle even on pathological long-path
    graphs that peel two nodes per round).  Pass max_iters for an
    explicit budget; exhausting it raises rather than returning a
    partial peel (a partial peel is NOT a k-core).

    Input edges are normalized (orientation, self-loops, duplicates)
    so callers can hand over any pair list.  Output: (node,
    core_degree) for members of the k-core, degree measured INSIDE the
    core."""
    und = (
        edges.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    e2 = (
        und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )
    n_prev = e2.count()
    converged = n_prev == 0
    rounds = 0
    while not converged and (max_iters is None or rounds < max_iters):
        rounds += 1
        # keep is node-cardinality and consumed by BOTH semi-joins —
        # without the pin the degree aggregation's shuffle runs twice
        # per round (no CSE across plan subtrees)
        keep = (
            e2.groupBy("u")
            .agg(F.count("*").alias("__d"))
            .filter(F.col("__d") >= k)
            .localCheckpoint(eager=True)
        )
        e2 = (
            e2.join(keep.select("u"), "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_cur = e2.count()
        converged = n_cur == n_prev or n_cur == 0
        n_prev = n_cur
    if not converged:
        # a partial peel is NOT a k-core; fail honestly (long-path graphs
        # can peel only two nodes per round — raise the budget, don't
        # silently report the intermediate subgraph)
        raise RuntimeError(f"k-core peel did not converge in {max_iters} rounds")
    return e2.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("core_degree")
    )


def minhash_band_plan(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_shingle_df: int | None = 10_000,
    round_digits: int = 6,
    stats_frame: DataFrame | None = None,
) -> DataFrame:
    """MinHash band-tuning from the corpus's own MEASURED Jaccard
    distribution (the planning read the r6 verdict asked for): for every
    (bands b, rows-per-band r) factorization of the signature width, the
    S-curve catch probability p(j) = 1 - (1 - j^r)^b is evaluated
    against each co-occurring pair's exact Jaccard, yielding the
    expected recall mass above `threshold` and the expected
    false-candidate mass below it — pick the config whose curve knee
    sits on your threshold BEFORE paying for the banded join, instead
    of trusting the (1/b)^(1/r) folklore midpoint on an unmeasured
    corpus.  Pairs sharing no shingle have j = 0 and p = 0 exactly, so
    the inverted-index pair enumeration IS the full sum.

    Cross-engine exactness (the reason this is oracle-backed rather
    than a notebook estimate): r and b are powers of two, so j^r and
    (1-j^r)^b are REPEATED SQUARINGS — fixed chains of IEEE
    multiplications, bit-identical on any engine (pow()'s libm ulps
    are not); the folklore midpoint (1/b)^(1/r) is a sqrt CHAIN
    (correctly rounded by IEEE mandate, the temperature_mix lesson);
    per-pair probabilities snap to the micro grid and sum as BIGINTs.

    Output: one row per config — (bands, rows_per_band, midpoint_j,
    n_pairs_above, caught_above_micro, n_pairs_below,
    false_cand_micro); recall = caught_above_micro / (n_pairs_above *
    10^round_digits)."""
    if n_hashes < 2 or (n_hashes & (n_hashes - 1)) != 0:
        raise ValueError(f"n_hashes={n_hashes} must be a power of two")
    scale = 10**round_digits
    stats = (
        stats_frame
        if stats_frame is not None
        else _shingle_pair_stats(
            docs, text_col, id_col, shingle_n, None, max_shingle_df
        )
    )
    j_raw = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    j6 = F.floor(j_raw * F.lit(float(scale)) + F.lit(0.5)) / F.lit(float(scale))
    pairs = stats.select(j6.alias("__j"))

    aggs, configs = [], []
    r = 1
    while r <= n_hashes:
        b = n_hashes // r
        x = F.col("__j")
        for _ in range(r.bit_length() - 1):
            x = x * x
        y = F.lit(1.0) - x
        for _ in range(b.bit_length() - 1):
            y = y * y
        p_int = F.floor((F.lit(1.0) - y) * F.lit(float(scale)) + F.lit(0.5)).cast(
            "long"
        )
        above = F.col("__j") >= F.lit(threshold)
        zero = F.lit(0).cast("long")
        aggs += [
            F.coalesce(F.sum(F.when(above, p_int).otherwise(zero)), zero).alias(
                f"__ca{r}"
            ),
            F.coalesce(
                F.sum(F.when(above, F.lit(1).cast("long")).otherwise(zero)), zero
            ).alias(f"__na{r}"),
            F.coalesce(F.sum(F.when(~above, p_int).otherwise(zero)), zero).alias(
                f"__fc{r}"
            ),
            F.coalesce(
                F.sum(F.when(~above, F.lit(1).cast("long")).otherwise(zero)), zero
            ).alias(f"__nb{r}"),
        ]
        configs.append((b, r))
        r *= 2
    # one aggregation pass computes every config's sums; the 1-row result
    # is checkpointed because each config leg below re-reads it
    one = pairs.agg(*aggs).localCheckpoint(eager=True)

    legs = []
    for b, r in configs:
        mid = F.lit(1.0) / F.lit(float(b))
        for _ in range(r.bit_length() - 1):
            mid = F.sqrt(mid)
        legs.append(
            one.select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                mid.alias("midpoint_j"),
                F.col(f"__na{r}").alias("n_pairs_above"),
                F.col(f"__ca{r}").alias("caught_above_micro"),
                F.col(f"__nb{r}").alias("n_pairs_below"),
                F.col(f"__fc{r}").alias("false_cand_micro"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def exact_substring_repeats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
) -> DataFrame:
    """ExactSubstr repeat detection (Lee et al. 2021 §4.1, the
    suffix-array dedup read): every MAXIMAL token span covered by
    length-`min_tokens` windows that occur >= 2 times ANYWHERE in the
    corpus — same doc or across docs.  This is the per-doc REMOVAL-span
    output the actual dedup consumes, and it differs from
    cross_doc_spans on all three axes that matter at corpus grain:
    same-doc repeats count, duplication is a corpus-wide occurrence
    COUNT (never a pair join, so there is no O(occurrences²) term and
    no DF cap to tune), and the output is the merged per-doc cover,
    not pairwise alignments.

    Plan shape: a start is duplicated iff it is NOT its gram's unique
    occurrence, so the duplicated-start set is grams MINUS the count==1
    singletons.  The gram aggregation and the anti join both ride
    EXPLICIT legs-proportional exchanges (repartition(n_buckets, key) —
    the minhash_band_plan r10/r11 treatment): a conventional
    groupBy(gram)'s map-side partial achieved only ~1.05x combining on
    the near-unique gram tail while AQE's 64 MiB coalesce target packed
    the final agg and the anti-join SMJ sorts into ~32 fat tasks whose
    hash maps + double sorts spilled 2.5-7 GB at the 64x smoke;
    proportional buckets keep every post-shuffle working set flat (zero
    spill, wall -28%, r11 measured).  Since a count-1 gram has exactly
    one occurrence, the aggregate itself carries that occurrence's (id,
    pos), and the exclusion is a left_anti join on (id, pos, gram) —
    near-unique, uniformly-hashed keys with no hot-key class at all
    (singletons are unique by definition, so the hottest join key holds
    exactly two rows even under duplicate doc_ids).  Islands then merge
    on a doc-partitioned window.  Never a self-join.

    Hot-gram bound: all occurrences of one gram land in one bucket, and
    the fused post-shuffle agg STREAMS them into a single (count, min,
    min) buffer — O(1) memory per key, so a boilerplate gram is a
    wall-clock straggler only past ~10⁸ occurrences of a single gram
    (the hot-gram smoke's 320k-occurrence class runs faster than the
    old map-side-combine shape did).  A corpus with a genuinely
    astronomical boilerplate class should strip it upstream (the
    max_gram_df discipline of cross_doc_spans).

    Island rule — MAXIMAL COVERS (Lee et al. merged-range semantics):
    two duplicated starts belong to one span iff their length-L windows
    overlap or adjoin, i.e. next_pos <= prev_pos + L.  Because starts
    are scanned in pos order and window ends are monotone in pos, a
    running sum of gap flags (gap = pos - lag(pos) > L) numbers the
    islands exactly; the resulting covers are contiguous, disjoint, and
    maximal, so summing span_tokens per doc never double-counts a
    token.

    A true suffix-array construction (distributed prefix doubling:
    dense-rank the vocabulary, then log2(L) rounds of integer-rank
    equi-joins + two-pass distributed re-ranks) was implemented and
    measured: bit-identical output, ~9x the wall time at sf0.01 (36.6s
    vs 4s — each round is a corpus-grain join plus a repartitionByRange
    rank with its own checkpoint).  Doubling only pays when L is
    unbounded (longest-repeat mining) or so large that shipping L-token
    keys through one shuffle exceeds log2(L) integer-join rounds; for
    the fixed small L of ExactSubstr-style dedup, content grouping is
    the right plan, and its key is exact (no hashing — a collision can
    never fabricate a duplicate).

    Output: (doc_id, span_start, span_tokens, n_windows) per maximal
    repeated span, offsets 0-based in normalized-word space."""
    # grams feed BOTH the singleton aggregation and the anti-join's left
    # side; since shingles_df became zero-shuffle there is no exchange
    # for Spark to reuse between the two consumers, so pin the lineage
    # once (the multi-consumer localCheckpoint idiom) — without it the
    # scan+normalize+slice recomputes per consumer (measured 20s -> 76s
    # at the 64x smoke when this was left out).
    grams = shingles_df(
        docs, text_col=text_col, id_col=id_col, n=min_tokens, keep_pos=True
    ).localCheckpoint(eager=True)
    # explicit legs-proportional bucket count, exempt from AQE coalescing
    # (see docstring: 32 AQE-coalesced tasks spilled GBs at 64x)
    spark = docs.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_buckets = max(shuffle_n, docs.rdd.getNumPartitions() * 4)
    # A count-1 gram's aggregate row IS its only occurrence — min() over
    # one row is exact.  The exclusion joins on (id, pos, shingle), not
    # (id, pos): if the input ever carries DUPLICATE doc_ids, two
    # different grams can share coordinates, and a coordinate-only anti
    # join would let a singleton knock out another doc-copy's duplicated
    # start (review catch; the oracle joins on gram content, so the
    # engines would diverge exactly there).
    singletons = (
        grams.repartition(n_buckets, "shingle")
        .groupBy("shingle")
        .agg(
            F.count("*").alias("__c"),
            F.min(id_col).alias(id_col),
            F.min("pos").alias("pos"),
        )
        .filter(F.col("__c") == 1)
        .select(id_col, "pos", "shingle")
    )
    # merge hint: singletons is a grouped-then-filtered frame on a
    # high-cardinality key — the post-aggregate size estimate is not
    # trustworthy (the cross_doc_spans r7 lesson), and on a corpus where
    # most grams are unique the frame is corpus-sized; an auto-broadcast
    # of it GC-killed the 64x hot-gram smoke (512 MB humongous allocs).
    # Both sides pre-bucketed on the exact join keys so the SMJ sorts run
    # at bucket grain instead of AQE's fat coalesced partitions.
    starts = (
        grams.select(id_col, "pos", "shingle")
        .repartition(n_buckets, id_col, "pos", "shingle")
        .join(
            singletons.repartition(n_buckets, id_col, "pos", "shingle").hint(
                "merge"
            ),
            [id_col, "pos", "shingle"],
            "left_anti",
        )
        .select(id_col, "pos")  # gram text never rides the island shuffle
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = starts.withColumn(
        "__gap",
        F.when(F.col("pos") - F.lag("pos").over(w) > min_tokens, F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn("__grp", F.sum("__gap").over(cum))
    return (
        islands.groupBy(id_col, "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("pos").alias("__maxp"),
            F.count("*").alias("n_windows"),
        )
        .select(
            F.col(id_col),
            F.col("span_start").cast("long").alias("span_start"),
            (F.col("__maxp") - F.col("span_start") + F.lit(min_tokens))
            .cast("long")
            .alias("span_tokens"),
            F.col("n_windows").cast("long").alias("n_windows"),
        )
    )


def graph_pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "id_a",
    dst: str = "id_b",
    round_digits: int = 6,
) -> DataFrame:
    """PageRank over an undirected candidate-pair graph — duplicate-set
    CENTRALITY: within a near-dup cluster the highest-rank node is the
    most-connected variant, a principled canonical-document choice where
    min-id (dedup_cluster_survivors) is arbitrary.

    Fixed-iteration power method, all set-based: per round one
    groupBy(neighbor) of rank/degree contributions (map-side combined)
    + a broadcast join of the (node, degree) frame.  The iterate is
    localCheckpoint'ed every round — the logical plan would otherwise
    double per iteration (the connected-components lesson; AQE plan
    FORMATTING alone can OOM the driver before any execution).  Node set
    = nodes appearing in edges (every node has degree >= 1, so there are
    no dangling-mass corrections to carry).

    Returns (node, degree, pagerank) with pagerank rounded for
    engine-stable comparison."""
    e2 = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst), F.col(src)))
        .distinct()
        .localCheckpoint()
    )
    deg = e2.groupBy("u").agg(F.count("*").alias("deg"))
    n_nodes = deg.count()
    if n_nodes == 0:
        return local_frame(
            edges.sparkSession, [], "node long, degree long, pagerank double"
        )
    pr = deg.select(
        F.col("u").alias("node"), (F.lit(1.0) / F.lit(float(n_nodes))).alias("pr")
    )
    base = (1.0 - damping) / float(n_nodes)
    for _ in range(iters):
        contrib = (
            e2.join(deg, "u")
            .join(pr, e2["u"] == pr["node"])
            .select(F.col("v"), (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        pr = contrib.select(
            F.col("v").alias("node"),
            (F.lit(base) + F.lit(damping) * F.col("s")).alias("pr"),
        ).localCheckpoint()
    return (
        pr.join(deg, pr["node"] == deg["u"])
        .select(
            "node",
            F.col("deg").cast("long").alias("degree"),
            F.round("pr", round_digits).alias("pagerank"),
        )
    )


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Greatest-(order_cols) row per key — the shared reducer under CDC
    apply (batch and streaming twins must reduce with identical
    tie-breaking, so the semantics live once)."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdc_apply_latest(
    changelog: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str,
    delete_op: str,
) -> DataFrame:
    """Apply a change-data-capture log to materialize latest state: per
    key, take the row with the greatest (order_cols) position; if that
    final operation is a delete tombstone, the key has no current row.
    The standard CDC-merge every warehouse ingest runs (Debezium ->
    lakehouse), as one window + one filter.

    One shuffle on the key; the window frame per key is that key's
    change history (bounded by update frequency, not table size).  Order
    must be a deterministic total order per key — pass the changelog's
    (commit_ts, sequence/event_id) pair, never a timestamp alone, or
    same-instant updates tie-break nondeterministically across retries."""
    return latest_per_key(changelog, key_cols, order_cols).filter(
        F.col(op_col) != delete_op
    )


def triangle_counts(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-node triangle participation + degree over an undirected edge
    set (pairs in either orientation; self-loops dropped, orientation
    normalized internally) — the clustering read on the
    near-dup candidate graph that CC/PageRank don't give: a doc whose
    neighborhood closes into triangles sits in a tight duplicate clique
    (template spam), while the same degree with zero triangles is a hub
    stitching unrelated docs (a bad LSH band or boilerplate shingle).

    Each triangle a<b<c is enumerated exactly once by joining the
    id-ordered edge list with itself: (a,b)x(b,c) paths verified by the
    closing edge (a,c).  The path join is the classic sum-of-deg^2
    term; on an LSH candidate graph it is bounded by the per-cluster
    quadratic the verify stage already pays, so no extra asymptotics.
    Returns (node, degree, n_triangles) for every node with an edge.
    """
    # normalize orientation so raw undirected input is handled, then
    # checkpoint: the edge list is consumed FIVE times (both path legs,
    # the closing semi-join, both degree legs), so an expensive upstream
    # candidate-generation lineage (LSH banding) runs once
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    paths = e.select(F.col("a"), F.col("b").alias("m")).join(
        e.select(F.col("a").alias("m"), F.col("b").alias("c")), "m"
    )
    tri = paths.join(
        e.select(F.col("a"), F.col("b").alias("c")), ["a", "c"], "left_semi"
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("m").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return deg.join(corners, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected candidate-pair graph — COMMUNITY detection where the
    connected-components min-id rule is too coarse (CC merges everything
    reachable; LPA splits a component along its sparse cuts, the natural
    grain for 'which docs are variants of the same underlying page').

    Determinism (the property plain LPA lacks): updates are synchronous
    (round t reads only round t-1 labels) and each node adopts the mode
    of its NEIGHBORS' labels with ties broken to the LOWEST label, so a
    fixed iteration count yields one reproducible, engine-parity
    labeling — no RNG order, no asynchronous races.

    Plan: per round one groupBy(node, label) vote count (map-side
    combined) + one rank window partitioned by node (labels-per-node
    bounded by degree); the label frame is localCheckpoint'ed per round
    (the iterative-lineage discipline every graph op here follows).

    Returns (node, label) after `iters` rounds; isolated self-loop-only
    pairs never appear (normalization drops them, as in k-core)."""
    base = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    e2 = (
        base.union(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = e2.select(F.col("u").alias("node"), F.col("u").alias("label")).distinct()
    w = Window.partitionBy("v").orderBy(F.col("n").desc(), F.col("label").asc())
    for _ in range(iters):
        votes = (
            e2.join(labels, e2["u"] == labels["node"])
            .groupBy("v", "label")
            .agg(F.count("*").alias("n"))
        )
        labels = (
            votes.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(F.col("v").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    return labels


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every word k-gram, slide a w-gram window,
    keep the RIGHTMOST minimal hash per window, dedupe the picks.  The
    guarantee LSH can't give: any shared run of >= w + k - 1 words
    between two documents shares at least one fingerprint — matching is
    complete above the noise threshold, with a ~2/(w+1) selection density
    instead of every gram.

    Determinism: gram hash = first 8 hex chars of sha256('win|' + gram)
    decoded as a 32-bit integer (the repo's cross-engine hash idiom);
    window ties break RIGHTMOST (the paper's rule — robust positions
    under left-context edits) via min over (hash, -pos).

    Scale shape: explode of w window-memberships per gram (narrow, w
    small), ONE groupBy (doc, window) for the per-window pick, distinct.
    Everything integer, JVM codegen end to end.

    Output: (id, pos, fp) — one row per selected fingerprint."""
    sh = shingles_df(docs, text_col, id_col, k, keep_pos=True)
    g = sh.select(
        id_col,
        "pos",
        F.conv(F.substring(F.sha2(F.concat(F.lit("win|"), F.col("shingle")), 256), 1, 8), 16, 10)
        .cast("long")
        .alias("fp"),
    )
    # Gram positions are CONTIGUOUS (shingles_df explodes 0..n_grams-1),
    # so a window index is complete iff exactly w grams landed in it —
    # the count filter replaces a join back to a per-doc max_pos frame
    # (which Spark's size estimator mis-planned as a giant broadcast at
    # the 64x smoke).  No join, one groupBy, nothing broadcast.
    ex = (
        g.select(
            id_col,
            "pos",
            "fp",
            F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("__off"),
        )
        .withColumn("__w_idx", F.col("pos") - F.col("__off"))
        .filter(F.col("__w_idx") >= 0)
    )
    best = ex.groupBy(id_col, "__w_idx").agg(
        F.min(F.struct(F.col("fp"), (-F.col("pos")).alias("__np"))).alias("__b"),
        F.count("*").alias("__n"),
    ).filter(F.col("__n") == w)
    return (
        best.select(
            id_col,
            (-F.col("__b.__np")).cast("long").alias("pos"),
            F.col("__b.fp").alias("fp"),
        )
        .distinct()
    )


def pagerank_integer(
    edges: DataFrame,
    iters: int = 4,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected candidate-pair graph
    (the dup-graph family's edge frame), computed ENTIRELY on a 1e-12
    integer grid so a SQL oracle can unroll the identical iterations:

      pr_0(v)   = G div N                       (G = 10^12)
      pr_k+1(v) = (15 * G) div (100 * N)
                  + sum_{u ~ v} (85 * pr_k(u)) div (100 * deg(u))

    Every quantity is a non-negative BIGINT, and Spark's `div` and
    DuckDB's `//` truncate identically on non-negative operands, so the
    result is bit-exact across engines at any iteration count (the mass
    the floors leak is deterministic and identical on both sides —
    this is a RANKING signal, not a probability measure).  Max value is
    G * (node degree share) << 2^63; products bounded by 85 * G < 2^50.

    Why in the dedup module: centrality over the near-dup graph ranks
    TEMPLATE hubs — the doc connected to everything is boilerplate the
    cluster survivors logic should not crown as the canonical copy.

    Scale shape: one degree aggregation, then per-iteration one
    (edge join + groupBy sum) pair — the same legs-proportional
    shuffle-linear shape as the label-propagation pass; iterations are
    a fixed small constant, and the frame never exceeds edge grain.
    Each iteration localCheckpoints so lineage stays flat.

    Returns (node, pr_micro12) for every node with at least one edge."""
    G = 1_000_000_000_000
    e2 = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    und = e2.unionAll(e2.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    n_nodes = deg.agg(F.count("*").cast("long").alias("n"))
    pr = deg.crossJoin(F.broadcast(n_nodes)).select(
        "u", "deg", "n", F.expr(f"CAST({G} AS BIGINT) div n").alias("pr")
    ).localCheckpoint(eager=False)
    for _ in range(iters):
        contrib = (
            und.join(pr, "u")
            .select(
                F.col("v").alias("u"),
                F.expr("(85 * pr) div (100 * deg)").cast("long").alias("c"),
            )
            .groupBy("u")
            .agg(F.sum("c").cast("long").alias("in_mass"))
        )
        pr = (
            pr.select("u", "deg", "n")
            .join(contrib, "u", "left")
            .select(
                "u",
                "deg",
                "n",
                (
                    F.expr(f"(15 * CAST({G} AS BIGINT)) div (100 * n)")
                    + F.coalesce(F.col("in_mass"), F.lit(0).cast("long"))
                ).cast("long").alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return pr.select(F.col("u").alias("node"), F.col("pr").alias("pr_micro12"))


def hits_integer(
    edges: DataFrame,
    iters: int = 2,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs/authorities) over the
    near-dup candidate graph, oriented DETERMINISTICALLY from the lower
    doc_id to the higher (ingest order: an edge means "the later doc
    duplicates the earlier") — on that orientation authority mass
    accumulates on the heavily-RE-duplicated late copies and hub mass on
    the early templates that spawned many of them, the directional read
    PageRank's undirected centrality can't give.

    Computed entirely on a 1e6 integer grid so a SQL oracle unrolls the
    identical iterations (the pagerank_integer treatment, dedup.py:1630):

      h_0(u)   = 1e6
      a_k(v)   = sum_{u -> v} h_{k-1}(u), renormalized to max = 1e6 by
                 (a * 1e6) div max(a)   [exact BIGINT floor division]
      h_k(u)   = sum_{u -> v} a_k(v), renormalized the same way

    max-norm (not L2) keeps every quantity a non-negative BIGINT, where
    Spark div and DuckDB // truncate identically.  Bounds: scores ≤ 1e6,
    in-degree sums ≤ 1e6 * max_deg, * 1e6 for the renorm < 2^63 for any
    max_deg < 9.2e6.  The global max is a 1-row agg broadcast, not a
    collect.  Per iteration: two edge joins + two groupBy sums —
    shuffle-linear in edges, lineage flattened per round.

    Returns (node, hub_micro, auth_micro) for every node with an edge
    (nodes with no in-edge carry authority 0; no out-edge, hub 0)."""
    G = 1_000_000
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    h = nodes.select("node", F.lit(G).cast("long").alias("h"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h, e["u"] == h["node"])
            .groupBy("v")
            .agg(F.sum("h").cast("long").alias("a_raw"))
        )
        a_max = a_raw.agg(
            F.greatest(F.max("a_raw"), F.lit(1).cast("long")).alias("mx")
        )
        a = (
            nodes.join(a_raw, nodes["node"] == a_raw["v"], "left")
            .crossJoin(F.broadcast(a_max))
            .select(
                "node",
                F.expr(f"(coalesce(a_raw, 0L) * {G}) div mx")
                .cast("long")
                .alias("a"),
            )
            .localCheckpoint(eager=False)
        )
        h_raw = (
            e.join(a, e["v"] == a["node"])
            .groupBy("u")
            .agg(F.sum("a").cast("long").alias("h_raw"))
        )
        h_max = h_raw.agg(
            F.greatest(F.max("h_raw"), F.lit(1).cast("long")).alias("mx")
        )
        h = (
            nodes.join(h_raw, nodes["node"] == h_raw["u"], "left")
            .crossJoin(F.broadcast(h_max))
            .select(
                "node",
                F.expr(f"(coalesce(h_raw, 0L) * {G}) div mx")
                .cast("long")
                .alias("h"),
            )
            .localCheckpoint(eager=False)
        )
    return h.join(a, "node").select(
        "node", F.col("h").alias("hub_micro"), F.col("a").alias("auth_micro")
    )


def link_prediction_jaccard(
    edges: DataFrame,
    top_k: int = 50,
    src: str = "id_a",
    dst: str = "id_b",
    holdout_mod: int | None = None,
) -> DataFrame:
    """Neighbor-Jaccard link prediction over the near-dup candidate
    graph: for every NON-adjacent pair reachable in two hops, score
    |N(a) ∩ N(c)| / |N(a) ∪ N(c)| and keep the global top-k — the
    candidate edges the LSH banding plausibly MISSED (two docs sharing
    most of their duplicate neighborhoods but never landing in a common
    band).  The quality-control read on LSH recall that
    lsh_quality_metrics (in-band precision) can't see.

    On a verified dup graph the clusters are CLIQUES — every 2-hop pair
    is already an edge and the raw prediction set is empty (measured at
    sf0.001-0.1) — so the measurable form is the holdout EVAL:
    `holdout_mod` deterministically holds out ~1/mod of the edges
    ((a * 31 + b) % mod == 0), predicts from the remainder, and flags
    which predictions recover a held-out true edge (`held_out`).  The
    fraction of flagged rows in the top-k is the predictor's
    precision@k — the self-validating read that says whether
    neighborhood overlap WOULD find edges the banding missed.

    Same two-hop path-join shape as triangle_counts (dedup.py:1459):
    candidate pairs are bounded by the sum-of-deg² the LSH verify stage
    already pays, never all-pairs; the existing-edge exclusion is one
    anti join; scores are exact BIGINTs closed by one integer floor
    division to a micro grid (bit-exact cross-engine); top-k is a
    TakeOrdered, not a global sort.

    Returns (id_a, id_b, common, union_deg, jaccard_micro[, held_out])
    with id_a < id_b, ordered by (jaccard_micro desc, id_a, id_b),
    limit top_k."""
    e_all = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    held = None
    if holdout_mod is not None:
        is_held = (F.col("a") * 31 + F.col("b")) % holdout_mod == 0
        held = e_all.filter(is_held).localCheckpoint(eager=False)
        e = e_all.filter(~is_held).localCheckpoint(eager=False)
    else:
        e = e_all
    und = e.union(e.select(F.col("b"), F.col("a"))).toDF("u", "v")
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    # two-hop pairs through shared neighbor m, canonical a < c
    paths = (
        und.select(F.col("v").alias("m"), F.col("u").alias("a"))
        .join(und.select(F.col("u").alias("m"), F.col("v").alias("c")), "m")
        .filter(F.col("a") < F.col("c"))
    )
    common = paths.groupBy("a", "c").agg(
        F.count("*").cast("long").alias("common")
    )
    non_adj = common.join(
        e, (common["a"] == e["a"]) & (common["c"] == e["b"]), "left_anti"
    )
    scored = (
        non_adj.join(deg.select(F.col("u").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("u").alias("c"), F.col("deg").alias("dc")), "c")
        .select(
            F.col("a").alias("id_a"),
            F.col("c").alias("id_b"),
            "common",
            (F.col("da") + F.col("dc") - F.col("common")).alias("union_deg"),
            F.expr("(common * 1000000) div (da + dc - common)")
            .cast("long")
            .alias("jaccard_micro"),
        )
    )
    if held is not None:
        scored = scored.join(
            held.select(
                F.col("a").alias("id_a"),
                F.col("b").alias("id_b"),
                F.lit(1).alias("__h"),
            ),
            ["id_a", "id_b"],
            "left",
        ).select(
            "id_a",
            "id_b",
            "common",
            "union_deg",
            "jaccard_micro",
            F.coalesce(F.col("__h"), F.lit(0)).cast("int").alias("held_out"),
        )
    return scored.orderBy(
        F.col("jaccard_micro").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(top_k)


def prefix_filter_jaccard_join(
    tokens: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    tok_col: str = "tok",
    assume_distinct: bool = False,
) -> DataFrame:
    """EXACT set-similarity self-join by prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. WWW'07; Xiao et al. ICDE'08): two
    token sets with Jaccard >= t MUST share at least one token among
    each set's first (|s| - ceil(t|s|) + 1) tokens under any single
    GLOBAL token order — order by ascending document frequency and the
    prefixes are the RARE tokens, so candidate blocks stay small where
    data is heavy.  The deterministic, provably-COMPLETE counterpart of
    MinHash-LSH (which trades completeness for probability): same
    candidates-by-equi-join / exactness-by-verify topology, pigeonhole
    guarantee instead of a probabilistic one.

    Input is the (id, token) DISTINCT-token frame.  All arithmetic is
    integer: the prefix length is n - ceil(t*n) + 1 computed by exact
    ceiling division, and the verify keeps den*inter >= num*union by
    cross-multiplication (no ratio ever materialized; jaccard_micro is
    emitted by one floor division for ranking only).

    Scale shape: one df aggregation; one per-doc rank window (frame =
    one document's tokens); candidates from a hash-partitioned
    equi-join on prefix tokens, bounded by sum over tokens of
    (prefix-df)² — the quantity the df-ascending order minimizes; one
    pair-bounded verify join.  No cross join at any cardinality.

    `assume_distinct` (r14 optimization round, bench SHINGLE_BASE
    sharing) skips the input distinct when the caller supplies an
    already-distinct (id, token) frame (e.g. the session-shared
    checkpointed shingle base) — rows identical by definition, one
    corpus-grain exchange fewer.

    Returns (id_a, id_b, inter, union_n, jaccard_micro), id_a < id_b."""
    # NO localCheckpoint on t: it is corpus-grain, and pinning it in the
    # block manager OOM'd the 64x smoke corpus — the distinct's shuffle
    # files are reused across the three consumers anyway
    t = tokens.select(F.col(id_col).alias("id"), F.col(tok_col).alias("tok"))
    if not assume_distinct:
        t = t.distinct()
    df_counts = t.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    sizes = t.groupBy("id").agg(F.count("*").cast("long").alias("n"))
    # every join below has BOTH sides at corpus grain (token rows, doc
    # sizes, candidate pairs) — pin them to sort-merge so AQE never
    # "promotes" a multi-million-row side to a broadcast it cannot build
    # (measured: the 64x smoke corpus OOM'd the broadcast exchange);
    # at 100 TB none of these sides is broadcastable by definition
    # global order (df asc, tok asc); per-doc rank window is doc-bounded
    ranked = (
        t.join(df_counts.hint("merge"), "tok")
        .join(sizes.hint("merge"), "id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("df").asc(), F.col("tok").asc()
                )
            ),
        )
    )
    # prefix length = n - ceil(num*n/den) + 1
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("n")
        - F.expr(f"({threshold_num} * n + {threshold_den} - 1) div {threshold_den}")
        + 1
    ).select("id", "tok")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b").hint("merge"), "tok")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Verify on doc-grain token ARRAYS, not exploded token rows (r13
    # optimization round, guide §2.3 shuffle fewer bytes / §2.4 remove
    # shuffles): the old shape attached every token of id_a to every
    # candidate pair (|pairs| x |tokens(a)| rows through two token-grain
    # SMJs) and re-aggregated by pair — stage-probed at ~5.6s of the
    # query's 8.9s.  Here each doc's distinct token set rides ONCE per
    # candidate join as one array cell, the intersection is a per-pair
    # JVM array_intersect (exact: both sides are distinct sets, so
    # |array_intersect| IS the intersection cardinality), and the pair
    # groupBy exchange disappears.  Still candidate-bounded end to end;
    # array size is bounded by the per-doc token count, the same bound
    # the exploded form had.
    arrays = t.groupBy("id").agg(
        F.collect_set("tok").alias("toks"), F.count("*").cast("long").alias("n")
    )
    return (
        cand.join(
            arrays.select(
                F.col("id").alias("id_a"),
                F.col("toks").alias("__ta"),
                F.col("n").alias("na"),
            ).hint("merge"),
            "id_a",
        )
        .join(
            arrays.select(
                F.col("id").alias("id_b"),
                F.col("toks").alias("__tb"),
                F.col("n").alias("nb"),
            ).hint("merge"),
            "id_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("__ta", "__tb")).cast("long")
        )
        .filter(F.col("inter") > 0)
        .withColumn("union_n", (F.col("na") + F.col("nb") - F.col("inter")).cast("long"))
        .filter(
            F.col("inter") * threshold_den >= F.lit(threshold_num) * F.col("union_n")
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            "union_n",
            F.expr("(inter * 1000000) div union_n").cast("long").alias("jaccard_micro"),
        )
    )
