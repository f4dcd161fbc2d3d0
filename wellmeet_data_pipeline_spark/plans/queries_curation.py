"""Registry queries (split from plans/queries.py, r11): see the
package facade plans/queries.py for the registry contract."""

from __future__ import annotations

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.plans.queries_core import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _EV_TS_FMT,
    _NORM_SQL,
    _minhash_sha_ctes,
    _prune_stale_layouts,
    _q,
    _source_tag,
    bpe_ish_token_count,
    document_fingerprint,
    exact_dedup_documents,
    ngram_jaccard_pairs,
    quality_score,
    split_thresholds,
    table,
    token_count,
)


# ---------------------------------------------------------------------------
# Partition pruning: the other half of write-time layout (with bucketing).
# ---------------------------------------------------------------------------


def _ensure_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write events date-partitioned ONCE per (session, sf) — the standard
    time-series layout at 100 TB, where a day-range query must touch only
    its partitions' files (directory-level pruning, before any row group
    or footer is read)."""
    import os

    tag = _source_tag(sf_dir, "events")
    sf_key = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    _prune_stale_layouts(
        "/root/repo/spark-warehouse", f"events_by_day_{sf_key}_", tag
    )
    path = f"/root/repo/spark-warehouse/events_by_day_{sf_key}_{tag}"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        ev = table(spark, sf_dir, "events")
        (
            ev.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
    return path


@_q(
    "partition_pruned_week",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(round(value * 100)) AS BIGINT) AS value_cents
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
    GROUP BY 1, 2
    """,
    "one-week slice over a date-partitioned layout: the filter prunes at "
    "the DIRECTORY level (PartitionFilters, plan-asserted) — 23 of 30 "
    "day-partitions are never opened; sums in exact-integer cents",
)
def q_partition_pruned_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_partitioned_events(spark, sf_dir)
    # explicit schema: an EMPTY source writes only _SUCCESS (no partition
    # dirs), and a bare read then fails UNABLE_TO_INFER_SCHEMA (r11
    # empty-fixture catch); partition pruning is unaffected
    src_schema = (
        table(spark, sf_dir, "events")
        .withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
        .schema
    )
    ev = spark.read.schema(src_schema).parquet(path)
    return (
        ev.filter(F.col("event_date").between("2024-01-08", "2024-01-14"))
        .groupBy("event_date", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100)).cast("long").alias("value_cents"),
        )
    )


@_q(
    "corpus_end_to_end",
    f"""
    WITH m AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars_d,
             CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '[ \\t\\n\\r\\f\\x0B]+')) END) AS DOUBLE) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[^\\w \\t\\n\\r\\f\\x0B]')) AS DOUBLE) AS n_punct,
             CAST(len(regexp_extract_all(text,
                  '(?i)\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS DOUBLE) AS n_stop
      FROM documents
    ),
    q AS (
      SELECT doc_id, n_tokens,
             round((least(n_tokens / 20.0, 1.0)
                  + (1.0 - least(n_punct / greatest(n_chars_d, 1.0) * 5.0, 1.0))
                  + least(n_stop / greatest(n_tokens, 1.0) * 10.0, 1.0)) / 3.0, 6) AS quality
      FROM m
    ),
    gated AS (
      SELECT d.doc_id, d.lang, d.source, d.text, CAST(q.n_tokens AS BIGINT) AS n_tokens
      FROM documents d JOIN q USING (doc_id)
      WHERE q.quality >= 0.5 AND q.n_tokens BETWEEN 5 AND 500
    ),
    fp AS (SELECT doc_id, sha256({_NORM_SQL}) AS fingerprint FROM gated),
    keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fingerprint),
    deduped AS (
      SELECT g.* FROM gated g WHERE EXISTS (SELECT 1 FROM keep k WHERE k.doc_id = g.doc_id)
    ),
    counts AS (SELECT lang, count(*) AS n FROM deduped GROUP BY lang),
    z AS (SELECT sum(sqrt(n)) AS z, CAST(sum(n) AS BIGINT) AS total FROM counts),
    quota AS (
      SELECT lang, least(n, CAST(ceil(total * sqrt(n) / z) AS BIGINT)) AS q
      FROM counts, z
    ),
    ranked AS (
      SELECT doc_id, lang, source, n_tokens,
             row_number() OVER (PARTITION BY lang
                                ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM deduped
    ),
    mixed AS (
      SELECT r.doc_id, r.lang, r.source, r.n_tokens
      FROM ranked r JOIN quota q ON r.lang = q.lang WHERE r.rk <= q.q
    ),
    c AS (
      SELECT doc_id, lang, source, n_tokens, doc_id % 8 AS stream_id,
             COALESCE(sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM mixed
    )
    SELECT doc_id, lang, source, stream_id, n_tokens,
           CAST(cb // 64 AS BIGINT) AS pack_id,
           CAST(cb % 64 AS BIGINT) AS pack_offset
    FROM c
    """,
    "the WHOLE curation DAG as one declarative plan: quality+length gate → "
    "exact dedup (fingerprint groupBy + semi-join) → temperature language "
    "mix (sqrt quotas) → per-stream sequence packing — Catalyst fuses the "
    "gate into the scan and every shuffle is keyed on what the next stage "
    "groups on (fingerprint, lang, stream)",
)
def q_corpus_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.corpus import (
        pack_sequences,
        temperature_sample_sources,
    )
    from wellmeet_data_pipeline_spark.operators.dedup import exact_dedup_documents

    d = table(spark, sf_dir, "documents")
    gated = d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        token_count("text").alias("n_tokens"),
        quality_score("text").alias("__q"),
    ).filter((F.col("__q") >= 0.5) & F.col("n_tokens").between(5, 500))
    # after dedup the text column is DONE — mixing and packing need only
    # (id, lang, source, n_tokens).  Materialize that narrow frame once
    # instead of re-running the quality regexes + fingerprint lineage in
    # each of the three downstream consumers (mix counts, mix rank, pack)
    deduped = (
        exact_dedup_documents(gated)
        .select("doc_id", "lang", "source", "n_tokens")
        .localCheckpoint(eager=False)
    )
    mixed = temperature_sample_sources(deduped, alpha=0.5, source_col="lang")
    packed = pack_sequences(mixed, seq_len=64, n_streams=8, tokens_col="n_tokens")
    return packed.join(mixed.select("doc_id", "lang", "source"), "doc_id").select(
        "doc_id",
        "lang",
        "source",
        "stream_id",
        "n_tokens",
        "pack_id",
        F.col("offset").alias("pack_offset"),
    )


@_q(
    "salted_type_totals",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(round(value * 100)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
    """,
    "skew-safe two-phase aggregation (salt = pmod(xxhash64(row), 16): "
    "content-derived, retry-deterministic, partitioning-independent) "
    "proven EQUAL to the plain groupBy "
    "oracle — sums ride exact-integer cents so the two accumulation "
    "orders cannot diverge by a ulp",
)
def q_salted_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.skew import salted_count_sum

    ev = table(spark, sf_dir, "events").withColumn(
        "__cents", F.round(F.col("value") * 100)
    )
    res = salted_count_sum(ev, ["event_type"], "__cents", salt_buckets=16)
    return res.select(
        "event_type", "n_rows", F.col("sum_value").cast("long").alias("value_cents")
    )


@_q(
    "heavy_hitter_users",
    """
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
    SELECT user_id, n, round(CAST(n AS DOUBLE) / total, 6) AS share
    FROM c CROSS JOIN tot
    WHERE n >= total * 0.007
    """,
    "exact phi-heavy-hitters over the event key (users holding >= 0.7% "
    "of all events) — the exact form of what Misra-Gries/count-min "
    "approximate, and the frame a skew-mitigation pass reads to decide "
    "which keys to salt (salted_type_totals is the consumer).  One "
    "map-side-combined groupBy + a 1-row total broadcast; output is "
    "bounded at 1/phi rows regardless of corpus size",
)
def q_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import heavy_hitters

    return heavy_hitters(table(spark, sf_dir, "events"), "user_id", min_share=0.007)


@_q(
    "order_priority_check",
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
    "TPC-H Q4 shape (order-priority checking): quarter of orders having "
    "at least one lineitem shipped more than 60 days after order date, "
    "counted per priority — a LEFT SEMI join whose equi-key (orderkey) "
    "drives the shuffle and whose date predicate rides as a join-side "
    "filter; order-date range is pushed to the parquet scan",
)
def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sem = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@_q(
    "negative_samples_per_customer",
    """
    WITH purch AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    users AS (SELECT DISTINCT o_custkey FROM orders),
    ni AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM part),
    cand AS (
      SELECT u.o_custkey, s.seq, ni.n_items,
             sha256(concat_ws('|', u.o_custkey, s.seq)) AS hx
      FROM users u
      CROSS JOIN (SELECT unnest(range(1, 9)) AS seq) s
      CROSS JOIN ni
    ),
    hv AS (
      SELECT o_custkey, seq,
             CAST(list_sum(list_transform(range(1, 9),
                    i -> CAST(strpos('0123456789abcdef', substr(hx, i, 1)) - 1
                              AS BIGINT) << (4 * (8 - i)))) AS BIGINT)
               % n_items AS l_partkey
      FROM cand
    ),
    dd AS (
      SELECT o_custkey, l_partkey, min(seq) AS seq
      FROM hv GROUP BY o_custkey, l_partkey
    ),
    neg AS (
      SELECT h.o_custkey, h.seq, h.l_partkey
      FROM dd h
      LEFT JOIN purch p
        ON p.o_custkey = h.o_custkey AND p.l_partkey = h.l_partkey
      WHERE p.o_custkey IS NULL
    )
    SELECT o_custkey, CAST(seq AS INTEGER) AS seq, l_partkey
    FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY seq) AS rk
      FROM neg
    ) WHERE rk <= 3
    """,
    "deterministic negative sampling for contrastive/recsys training: "
    "per customer, 3 parts they never bought, drawn from a sha256-keyed "
    "candidate stream (8 draws, same-item collisions collapse to the "
    "lowest draw, anti-join misses, keep first 3) — no users-x-items "
    "cartesian anywhere, retry/repartition-stable, per-user window "
    "bounded by the draw count",
)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.corpus import (
        negative_sample_candidates,
    )

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    purch = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    n_items = table(spark, sf_dir, "part").agg(F.count("*").alias("n_items"))
    return negative_sample_candidates(
        purch, o, n_items, user_col="o_custkey", item_col="l_partkey", m=8, k=3
    )


@_q(
    "supplier_concentration_hhi",
    """
    WITH r AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey,
             CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS rev
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    )
    SELECT nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(rev) AS BIGINT) AS revenue_cents,
           round(CAST(sum(CAST(rev AS HUGEINT) * rev) AS DOUBLE)
                 / (CAST(sum(rev) AS DOUBLE) * CAST(sum(rev) AS DOUBLE)), 6)
             AS hhi
    FROM r GROUP BY nationkey
    """,
    "supplier concentration per nation (Herfindahl-Hirschman index): "
    "HHI = sum(share^2) computed as sum(rev^2)/total^2 with rev^2 "
    "accumulated in 128-bit integer space (decimal(38,0) / HUGEINT — "
    "cents squared overflow int64 at scale) — exact sums, one double "
    "division; HHI -> 1 means a nation's supply rides one supplier, "
    "the concentration read behind sourcing-risk dashboards",
)
def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    r = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("rev")
        )
    )
    sq = (F.col("rev").cast("decimal(38,0)") * F.col("rev")).alias("__sq")
    return (
        r.select("nationkey", "rev", sq)
        .groupBy("nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("rev").alias("revenue_cents"),
            F.round(
                F.sum("__sq").cast("double")
                / (F.sum("rev").cast("double") * F.sum("rev").cast("double")),
                6,
            ).alias("hhi"),
        )
    )


@_q(
    "basket_part_pairs",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    np AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS support
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, support,
           round(CAST(support AS DOUBLE) / na.n, 6) AS confidence,
           round(CAST(support AS DOUBLE) * t.n_orders / (na.n * nb.n), 6) AS lift
    FROM pairs
    JOIN np na ON na.l_partkey = part_a
    JOIN np nb ON nb.l_partkey = part_b
    CROSS JOIN tot t
    ORDER BY support DESC, part_a, part_b LIMIT 20
    """,
    "market-basket mining: top co-occurring part pairs with support, "
    "confidence and lift — the within-order self-join is quadratic only "
    "in ORDER SIZE (bounded ~7 lineitems), never in table size; counts "
    "are exact integers, ratios divide once at the end; top-20 via "
    "TakeOrderedAndProject",
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # ONE orderkey-grouped pass (collect_set dedupes in-order items with
    # map-side partials) and in-array pair generation, instead of
    # items.distinct() + a within-order self-join: removes the distinct
    # Exchange and the join entirely (guide §2.4) — pair blowup stays
    # bounded by ORDER SIZE exactly as the join form was.  array_sort
    # gives part_a < part_b by construction; per-part counts and the
    # order total re-derive from the same grouped frame (AQE reuses the
    # one exchange across the three consumers).  Measured min-of-3 at
    # sf0.1: 2.69 -> 2.23s, output row-identical.
    arrs = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("__ps")
    )
    np_ = (
        arrs.select(F.explode("__ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n"))
    )
    tot = arrs.agg(F.count("*").alias("n_orders"))
    pairs_arr = F.flatten(
        F.transform(
            F.col("__ps"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("__ps"),
                    i + F.lit(2),
                    F.greatest(F.size("__ps") - i - F.lit(1), F.lit(0)),
                ),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        arrs.select(F.explode(pairs_arr).alias("__p"))
        .select(F.col("__p.part_a"), F.col("__p.part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
    )
    na = np_.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("__na"))
    nb = np_.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("__nb"))
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(F.col("support").cast("double") / F.col("__na"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("support").cast("double")
                * F.col("n_orders")
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(20)
    )


@_q(
    "snapshot_diff",
    """
    WITH v1 AS (
      SELECT o_orderkey AS k,
             sha256(concat_ws('|', o_orderstatus, o_orderpriority,
                              CAST(round(o_totalprice * 100) AS BIGINT))) AS h
      FROM orders WHERE o_orderkey % 50 <> 0
    ),
    v2 AS (
      SELECT o_orderkey AS k,
             sha256(concat_ws('|', o_orderstatus, o_orderpriority,
                              CAST(round(o_totalprice * 100)
                                   + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END
                                   AS BIGINT))) AS h
      FROM orders WHERE o_orderkey % 40 <> 0
    ),
    j AS (
      SELECT coalesce(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_rows
    FROM j GROUP BY status
    """,
    "snapshot diff for data versioning: two table versions (synthesized "
    "here by key filters + a planted value drift) compared by FULL "
    "OUTER join on key + content-hash equality — added / removed / "
    "changed / unchanged counts without shipping row payloads, the "
    "companion read to table_checksums when the checksums disagree",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def content(extra):
        return F.sha2(
            F.concat_ws(
                "|",
                F.col("o_orderstatus"),
                F.col("o_orderpriority"),
                (F.round(F.col("o_totalprice") * 100).cast("long") + extra).cast(
                    "long"
                ),
            ),
            256,
        )

    v1 = o.filter(F.col("o_orderkey") % 50 != 0).select(
        F.col("o_orderkey").alias("k"), content(F.lit(0)).alias("h1")
    )
    drift = F.when(F.col("o_orderkey") % 7 == 0, F.lit(1)).otherwise(F.lit(0))
    v2 = o.filter(F.col("o_orderkey") % 40 != 0).select(
        F.col("o_orderkey").alias("k2"), content(drift).alias("h2")
    )
    j = v1.join(v2, v1["k"] == v2["k2"], "full_outer")
    status = (
        F.when(F.col("k").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
    )
    return j.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n_rows")
    )


@_q(
    "table_checksums",
    """
    WITH h AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             sha256(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                              CAST(round(o_totalprice * 100) AS BIGINT),
                              strftime(o_orderdate, '%Y-%m-%d'),
                              o_orderpriority)) AS hx
      FROM orders
    ),
    v AS (
      SELECT month,
             CAST(list_sum(list_transform(range(1, 16),
                    i -> CAST(strpos('0123456789abcdef', substr(hx, i, 1)) - 1
                              AS BIGINT) << (4 * (15 - i)))) AS BIGINT) AS hv
      FROM h
    )
    SELECT month, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(hv) AS BIGINT) AS checksum
    FROM v GROUP BY month
    """,
    "anti-entropy table checksums per month partition: 60-bit "
    "sha256-derived row digests xor-folded per group — order- and "
    "partitioning-independent, so two replicas (or a migration "
    "source/target pair) compare equal iff contents match, without "
    "moving rows; floats enter the digest as exact integer cents so "
    "the digest is rendering-stable across engines",
)
def q_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    content = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("long"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    hv = F.conv(F.substring(F.sha2(content, 256), 1, 15), 16, 10).cast("long")
    return (
        o.select(F.date_format("o_orderdate", "yyyy-MM").alias("month"), hv.alias("__h"))
        .groupBy("month")
        .agg(
            F.count("*").alias("n_rows"),
            F.bit_xor("__h").alias("checksum"),
        )
    )


@_q(
    "skew_split_join_revenue",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(round(e.value * 100)) AS BIGINT) AS value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    "hot/cold split skew join proven EQUAL to the plain-join oracle: "
    "keys detected by heavy_hitters take a broadcast path (hot rows "
    "never shuffle), the cold remainder takes the normal shuffle path "
    "free of stragglers — the composition story: the skew DETECTOR "
    "(heavy_hitter_users) feeds the skew TREATMENT; exact-integer cents",
)
def q_skew_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import heavy_hitters
    from wellmeet_data_pipeline_spark.operators.skew import split_hot_cold_join

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("__cents")
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    hot = heavy_hitters(ev, "user_id", min_share=0.007).select("user_id")
    joined = split_hot_cold_join(ev, cust, "user_id", "c_custkey", hot)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum("__cents").alias("value_cents"),
    )


@_q(
    "orders_reconciliation",
    """
    WITH o AS (SELECT DISTINCT o_custkey FROM orders),
    j AS (
      SELECT c.c_custkey AS ck, o.o_custkey AS ok
      FROM customer c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    )
    SELECT CASE WHEN ck IS NULL THEN 'orphan_order'
                WHEN ok IS NULL THEN 'no_orders'
                ELSE 'matched' END AS status,
           CAST(count(*) AS BIGINT) AS n_custkeys
    FROM j GROUP BY 1
    """,
    "referential-integrity audit via FULL OUTER join (customers without "
    "orders / orders pointing at missing customers / matched) — the "
    "reconciliation read every warehouse runs after ingest",
)
def q_orders_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey").distinct()
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return (
        j.select(
            F.when(F.col("c_custkey").isNull(), "orphan_order")
            .when(F.col("o_custkey").isNull(), "no_orders")
            .otherwise("matched")
            .alias("status")
        )
        .groupBy("status")
        .agg(F.count("*").alias("n_custkeys"))
    )


@_q(
    "event_debounce",
    """
    WITH seq AS (
      SELECT event_id, user_id, event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                                    ORDER BY ts NULLS FIRST, event_id) AS gap_us
      FROM events
    )
    SELECT event_id, user_id, event_type FROM seq
    WHERE gap_us IS NULL OR gap_us >= 259200000000
    """,
    "successive-gap thinning: drop an event when the PREVIOUS (user, type) "
    "event — kept or not — was under 3 days earlier (the one-window lag "
    "rule; a kept-anchored cooldown is iterative and belongs to the "
    "stateful streaming tier) — integer-microsecond arithmetic",
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    return (
        ev.withColumn("__gap", gap)
        .filter(F.col("__gap").isNull() | (F.col("__gap") >= 259200000000))
        .select("event_id", "user_id", "event_type")
    )


@_q(
    "unpivot_user_counts",
    """
    WITH wide AS (
      SELECT user_id,
             CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
             CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
             CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase
      FROM events GROUP BY user_id
    )
    SELECT user_id, metric, n FROM (
      SELECT user_id, 'click' AS metric, n_click AS n FROM wide
      UNION ALL SELECT user_id, 'view', n_view FROM wide
      UNION ALL SELECT user_id, 'purchase', n_purchase FROM wide
    )
    """,
    "unpivot/melt: conditional-count wide frame stacked back to long form "
    "via F.stack — the wide→long half of the pivot pair, one agg shuffle, "
    "stack is a zero-shuffle projection",
)
def q_unpivot_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
    )
    return wide.select(
        "user_id",
        F.expr(
            "stack(3, 'click', n_click, 'view', n_view, 'purchase', n_purchase) AS (metric, n)"
        ),
    )


@_q(
    "daily_revenue_trend",
    """
    WITH d AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
             CAST(sum(round(value * 100)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM d GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE), 6) END
             AS slope_cents_per_day,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE round((CAST(sy AS DOUBLE)
                            - CAST(n * sxy - sx * sy AS DOUBLE)
                              / CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 2) END
             AS intercept_cents
    FROM s
    """,
    "per-type least-squares trend of daily revenue: slope/intercept from "
    "the normal equations computed on EXACT integer sums (day index x "
    "integer cents — n*Sxy - Sx*Sy etc. stay below 2^63 at bench SFs), "
    "one double division at the end, so both engines agree bit-for-bit "
    "where regr_slope()'s streaming-covariance accumulation order would "
    "not; two map-side-combined aggregations, no window",
)
def q_daily_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    s = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = num.cast("double") / den.cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("slope_cents_per_day"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(intercept, 2))
        .alias("intercept_cents"),
    )


@_q(
    "user_interarrival_stats",
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
               AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           round(quantile_cont(gap_us, 0.5), 1) AS p50_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
    "per-user event inter-arrival gaps (integer microseconds via lag "
    "over (ts, event_id) — the compound order key makes same-timestamp "
    "rows deterministic): count/min/median/max — the burstiness read "
    "behind rate-limit sizing and bot detection; the window partitions "
    "by user (bounded per-user history), the median is the exact "
    "interpolated percentile both engines share",
)
def q_user_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.round(F.percentile("gap_us", F.lit(0.5)), 1).alias("p50_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@_q(
    "daily_anomaly_flags",
    """
    WITH d AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY day NULLS FIRST
                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s,
             sum(n * n) OVER (PARTITION BY event_type ORDER BY day NULLS FIRST
                              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS ss,
             count(n) OVER (PARTITION BY event_type ORDER BY day NULLS FIRST
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS c
      FROM d
    )
    SELECT event_type, day, n,
           CASE WHEN c < 3 THEN NULL
                ELSE (c * n - s) * (c * n - s) > 4 * (c * ss - s * s)
           END AS is_anomaly
    FROM w
    """,
    "daily volume anomaly flags: a day is anomalous when its count "
    "deviates from the trailing-7-day baseline by more than 2 "
    "population sigma — the test (c*n - s)^2 > 4*(c*ss - s^2) is the "
    "z-score inequality cleared of divisions, so the flag is EXACT "
    "integer arithmetic with no float variance/sqrt to diverge between "
    "engines; the window is post-agg over day-grain rows (bounded, the "
    "daily_event_delta contract), NULL until 3 days of history",
)
def q_daily_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    d = d.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).alias("__s"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("__ss"),
        F.count("n").over(w).alias("__c"),
    )
    dev = F.col("__c") * F.col("n") - F.col("__s")
    var4 = 4 * (F.col("__c") * F.col("__ss") - F.col("__s") * F.col("__s"))
    return d.select(
        "event_type",
        "day",
        "n",
        F.when(F.col("__c") < 3, F.lit(None).cast("boolean"))
        .otherwise(dev * dev > var4)
        .alias("is_anomaly"),
    )


@_q(
    "daily_event_delta",
    """
    WITH d AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    )
    SELECT day, n, n - lag(n) OVER (ORDER BY day NULLS FIRST) AS delta
    FROM d
    """,
    "day-over-day deltas: the lag window runs AFTER aggregation over ~30 "
    "rows — a single-partition window is fine post-agg (and only "
    "post-agg); the scan-side work is one date-keyed groupBy",
)
def q_daily_event_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("day")
    return d.select("day", "n", (F.col("n") - F.lag("n").over(w)).alias("delta"))


@_q(
    "event_validity_intervals",
    """
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(lead(ts) OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts NULLS FIRST, event_id),
                    '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           CAST(lead(ts) OVER (PARTITION BY user_id, event_type
                               ORDER BY ts NULLS FIRST, event_id) IS NULL AS BOOLEAN) AS is_current
    FROM events
    """,
    "SCD2-shape validity intervals: each (user, type) observation is valid "
    "until the next one (lead window, half-open intervals, NULL = current "
    "version) — the dimension-history layout every warehouse keeps; one "
    "(user,type)-keyed shuffle, timestamps rendered to fixed strings",
)
def q_event_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    nxt = F.lead("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", _EV_TS_FMT).alias("valid_from"),
        F.date_format(nxt, _EV_TS_FMT).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@_q(
    "vocab_coverage",
    """
    WITH counts AS (
      SELECT unnest(string_split({norm}, ' ')) AS token
      FROM documents
    ),
    freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n
      FROM counts WHERE token <> '' GROUP BY token
    ),
    tot AS (SELECT sum(n) AS t FROM freq),
    ranked AS (
      SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank,
             sum(n) OVER (ORDER BY n DESC, token
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM freq
    )
    SELECT token, n, rank, round(cum / t, 6) AS cum_coverage
    FROM ranked, tot
    """.format(norm=_NORM_SQL),
    "vocabulary building: global token frequencies + rank + cumulative "
    "corpus coverage (the choose-vocab-size curve every tokenizer build "
    "reads) — map-side-combined token counts; rank/coverage via the "
    "two-pass range-partitioned prefix sum (global_rank_cumsum), never a "
    "single-partition window: a 100 TB corpus has 10^8+ distinct tokens",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.functions.text import normalized_text
    from wellmeet_data_pipeline_spark.operators.windows import global_rank_cumsum

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    freq = toks.groupBy("token").agg(F.count("*").alias("n"))
    tot = freq.agg(F.sum("n").alias("t"))
    ranked = global_rank_cumsum(
        freq, [F.col("n").desc(), F.col("token").asc()], sum_col="n"
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "token",
        "n",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("cum") / F.col("t"), 6).alias("cum_coverage"),
    )


@_q(
    "lsh_quality_metrics",
    f"""
    WITH {_minhash_sha_ctes()},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
      SELECT i.id_a, i.id_b
      FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.i / (sa.n + sb.n - i.i) >= 0.5
    )
    SELECT
      CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_candidates,
      CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
      CAST((SELECT count(*) FROM pairs p JOIN truth t ON p.id_a = t.id_a AND p.id_b = t.id_b) AS BIGINT) AS n_hit
    """,
    "LSH quality audit: candidate count vs ground-truth near-dup pairs "
    "(exact Jaccard ≥ 0.5) vs their intersection — recall = n_hit/n_true, "
    "precision = n_hit/n_candidates, the two numbers that justify band/"
    "row parameters before a 100 TB run (truth side is corpus-squared in "
    "general: run it on a SAMPLE at scale; here the shingle join bounds it)",
)
def q_lsh_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates_sha,
        ngram_jaccard_pairs,
    )

    d = table(spark, sf_dir, "documents")
    # both frames are consumed twice (own count + the hit join) —
    # materialize once instead of re-walking the corpus lineage.
    # threshold/DF-cap must MATCH the oracle (>= 0.5, uncapped): the
    # operator's own defaults (0.8, capped) would silently hide every
    # truth pair in [0.5, 0.8) from the Spark side only
    pairs = minhash_lsh_candidates_sha(d).localCheckpoint(eager=False)
    truth = (
        ngram_jaccard_pairs(d, threshold=0.5, max_shingle_df=None)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    hit = pairs.join(truth, ["id_a", "id_b"], "inner")
    return (
        pairs.agg(F.count("*").alias("n_candidates"))
        .crossJoin(truth.agg(F.count("*").alias("n_true")))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
    )


@_q(
    "embedding_mean_pool",
    """
    WITH e AS (
      SELECT label, i - 1 AS pos, embedding[i] AS v
      FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) t(i)
    )
    SELECT label, pos, round(avg(v), 6) + 0.0 AS mean_v,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM e GROUP BY label, pos
    """,
    "mean pooling over vector columns (class prototypes here; the same "
    "shape pools chunk embeddings back to doc embeddings in the RAG "
    "store): posexplode → (group, dim) avg, map-side combined — the "
    "vector never moves as a blob, only (dim, partial-sum) pairs "
    "shuffle; `+ 0.0` canonicalizes -0.0 across engines",
)
def q_embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    return ex.groupBy("label", "pos").agg(
        (F.round(F.avg("v"), 6) + F.lit(0.0)).alias("mean_v"),
        F.count("*").alias("n_vectors"),
    )


@_q(
    "clean_web_text",
    """
    SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(text, '<[^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS clean_text
    FROM documents
    """,
    "web-corpus HTML cleaning: strip tags, decode predefined entities, "
    "collapse whitespace — a regexp_replace chain fused into the scan "
    "(identity on this plain-text corpus; the regex parity is what the "
    "oracle checks, tag/entity behavior is unit-tested on HTML fixtures)",
)
def q_clean_web_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.functions.text import strip_html

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", strip_html("text").alias("clean_text"))


@_q(
    "zscore_by_type",
    """
    WITH s AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / nullif(s.sigma, 0), 6) AS zscore
    FROM events e JOIN s USING (event_type)
    """,
    "per-group z-score standardization (feature scaling): one stats "
    "groupBy broadcast back onto the fact — mean/std computed once per "
    "group, never a per-row window over the full table.  Zero-variance "
    "groups z-score to NULL (try_divide / nullif — the r12 hostile "
    "fixture's constant-value group turned the bare division into an "
    "ANSI DIVIDE_BY_ZERO)",
)
def q_zscore_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.round(
            F.try_divide(F.col("value") - F.col("mu"), F.col("sigma")), 6
        ).alias("zscore"),
    )


@_q(
    "late_shipment_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: orders having ≥1 lineitem shipped >90 days after "
    "order date, counted per priority — EXISTS with a cross-table "
    "predicate becomes ONE left-semi join carrying the condition; the "
    "lineitem side ships only (orderkey, shipdate)",
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.date_add(o["o_orderdate"], 90)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@_q(
    "small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, avg(l_quantity) AS aq FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS revenue_cents
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.2 * pa.aq
    """,
    "TPC-H Q17 shape: items below 20% of their part's average quantity — "
    "the correlated scalar subquery re-expressed as a groupBy + equi-join "
    "back (one partkey-keyed shuffle); safe to hash-compare because "
    "l_quantity is integer-valued so per-part sums are EXACT doubles and "
    "the average is bit-identical on both engines",
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("aq"))
    j = li.join(pa, "l_partkey").filter(F.col("l_quantity") < 0.2 * F.col("aq"))
    return j.agg(
        F.count("*").alias("n_items"),
        F.sum(F.round(F.col("l_extendedprice") * 100)).cast("long").alias("revenue_cents"),
    )


@_q(
    "daily_moving_average",
    """
    WITH d AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT day, event_type, n,
           round(avg(n) OVER (PARTITION BY event_type ORDER BY day NULLS FIRST
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
    FROM d
    """,
    "7-day trailing moving average per event type — the rolling window "
    "runs AFTER the date×type aggregation (~150 rows), partitioned by "
    "type so no single-partition window on anything scan-sized; avg of "
    "BIGINTs rounds identically on both engines",
)
def q_daily_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return d.select(
        "day", "event_type", "n", F.round(F.avg("n").over(w), 6).alias("ma7")
    )


def _ntile_from_rank(rn, N, k: int):
    """SQL-standard ntile(k) recovered arithmetically from a global row
    number: the first N%k buckets hold ceil(N/k) rows, the rest floor(N/k)
    — matches both Spark's and DuckDB's ntile bit-for-bit on a total
    order, without the single-partition window ntile() itself needs."""
    base, big = F.floor(N / k), N % k
    threshold = big * (base + 1)
    return F.when(rn <= threshold, F.floor((rn - 1) / (base + 1)) + 1).otherwise(
        big + F.floor((rn - threshold - 1) / base) + 1
    )


@_q(
    "user_value_quartiles",
    """
    WITH t AS (
      SELECT user_id, CAST(sum(round(value * 100)) AS BIGINT) AS total_cents
      FROM events GROUP BY user_id
    )
    SELECT user_id, total_cents,
           ntile(4) OVER (ORDER BY total_cents, user_id) AS quartile,
           round(percent_rank() OVER (ORDER BY total_cents, user_id), 6) AS pct_rank
    FROM t
    """,
    "ranking-window completeness: ntile quartile buckets + percent_rank "
    "over per-user spend — user-cardinality data (unbounded at scale), so "
    "no global window: two-pass distributed row_number, then ntile and "
    "percent_rank derived arithmetically from (rank, N); ties broken by "
    "user_id so bucket edges are deterministic; spend in exact-integer "
    "cents",
)
def q_user_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.windows import global_rank_cumsum

    ev = table(spark, sf_dir, "events")
    t = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("total_cents")
    )
    ranked = global_rank_cumsum(
        t, [F.col("total_cents").asc(), F.col("user_id").asc()]
    )
    # N from the checkpointed ranked frame, not from t: counting t would
    # re-run the whole upstream aggregation a second time
    ncnt = ranked.agg(F.count("*").alias("_N"))
    rn, N = F.col("rank"), F.col("_N")
    pct_rank = F.when(N == 1, F.lit(0.0)).otherwise(F.round((rn - 1) / (N - 1), 6))
    return ranked.crossJoin(F.broadcast(ncnt)).select(
        "user_id",
        "total_cents",
        _ntile_from_rank(rn, N, 4).cast("int").alias("quartile"),
        pct_rank.alias("pct_rank"),
    )


@_q(
    "busiest_day_per_type",
    """
    WITH d AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           arg_max(day, lpad(CAST(n AS VARCHAR), 20, '0') || day) AS busiest_day,
           max(n) AS peak_events
    FROM d GROUP BY event_type
    """,
    "argmax aggregation (max_by): the busiest day per event type in ONE "
    "aggregation pass — no rank-window detour; ties break toward the "
    "later day via a lexicographic (zero-padded count ‖ day) key, the "
    "compound-ordering form both engines' arg_max accept",
)
def q_busiest_day_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n"))
    key = F.concat(F.lpad(F.col("n").cast("string"), 20, "0"), F.col("day"))
    return d.groupBy("event_type").agg(
        F.max_by("day", key).alias("busiest_day"),
        F.max("n").alias("peak_events"),
    )


@_q(
    "sql_api_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS price_cents
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "the SQL facade: the engine accepts raw ANSI SQL via temp views + "
    "spark.sql — same Catalyst plan as the DataFrame form (filter pushed, "
    "partial aggs), proving both API surfaces hit identical physical "
    "strategies",
)
def q_sql_api_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items,
               CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS price_cents
        FROM v_lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


# ---------------------------------------------------------------------------
# Model-based corpus scoring (operators/scoring.py)
# ---------------------------------------------------------------------------

# token stream with positions, shared by the scoring oracles: zip-unnest of
# the normalized word list against its index range (DuckDB aligns parallel
# unnests); the lone empty token of an empty document is filtered out, so
# positions stay contiguous — same contract as scoring._tokens_with_pos
_TOKPOS_SQL = f"""
      w0 AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents),
      toks AS (
        SELECT doc_id, unnest(ws) AS term, unnest(range(1, len(ws) + 1)) AS pos
        FROM w0
      ),
      t2 AS (SELECT * FROM toks WHERE term <> '')
"""


@_q(
    "bigram_cond_entropy",
    f"""
    WITH {_TOKPOS_SQL},
    bi AS (
      SELECT term, lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM t2
    ),
    c2 AS (
      SELECT prev, term, CAST(count(*) AS BIGINT) AS c2
      FROM bi WHERE prev IS NOT NULL GROUP BY prev, term
    ),
    c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY prev),
    t AS (SELECT CAST(sum(c2) AS BIGINT) AS t2 FROM c2),
    terms AS (
      SELECT CAST(floor(-(CAST(c2.c2 AS DOUBLE) / t.t2)
                        * ln(CAST(c2.c2 AS DOUBLE) / c1.c1)
                        * CAST(1000000000000 AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS e
      FROM c2 JOIN c1 USING (prev) CROSS JOIN t
    )
    SELECT (SELECT t2 FROM t) AS n_bigrams,
           CAST((SELECT count(*) FROM c1) AS BIGINT) AS n_contexts,
           round(CAST(sum(e) AS DOUBLE) / CAST(1000000000000 AS DOUBLE), 6)
             AS cond_entropy_nats
    FROM terms
    """,
    "corpus bigram conditional entropy H(w2|w1) in nats — the "
    "information-theoretic complexity statistic behind compression/"
    "memorization estimates (low entropy = templated/boilerplate "
    "corpus); each -p(w1,w2)*ln p(w2|w1) term snaps to a 1e-12 grid "
    "and integer-sums, so the scalar is aggregation-order-independent; "
    "count frames are vocabulary-sized, the token stream shuffles once",
)
def q_bigram_cond_entropy(
    spark: SparkSession, sf_dir: str, shared_tokens: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import _tokens_with_pos

    d = table(spark, sf_dir, "documents")
    toks = (
        shared_tokens if shared_tokens is not None else _tokens_with_pos(d, "text", "doc_id")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.withColumn("prev", F.lag("term").over(w)).filter(
        F.col("prev").isNotNull()
    )
    c2 = bi.groupBy("prev", "term").agg(F.count("*").alias("c2"))
    c2 = c2.localCheckpoint(eager=True)  # feeds c1, totals, and the term sum
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    t2 = c2.agg(F.sum("c2").alias("t2"))
    scale = 1e12
    joined = c2.join(c1, "prev").crossJoin(F.broadcast(t2))
    term = F.floor(
        -(F.col("c2").cast("double") / F.col("t2"))
        * F.log(F.col("c2").cast("double") / F.col("c1"))
        * F.lit(scale)
        + F.lit(0.5)
    ).cast("long")
    n_contexts = c1.agg(F.count("*").alias("nc"))
    return (
        joined.withColumn("__e", term)
        .agg(F.sum("__e").alias("__se"), F.max("t2").alias("n_bigrams"))
        .crossJoin(F.broadcast(n_contexts))
        .select(
            "n_bigrams",
            F.col("nc").alias("n_contexts"),
            F.round(F.col("__se").cast("double") / F.lit(scale), 6).alias(
                "cond_entropy_nats"
            ),
        )
    )


# shared LM-scoring CTE chain (documents scored by the add-0.1-smoothed
# bigram LM counted on the doc_id % 5 == 0 reference fifth), ending at
# agg = (doc_id, n_tokens, s) with s the exact integer micro-nat sum —
# the base of both the fixed-band and the per-language-tercile oracles
_LM_AGG_SQL = f"""{_TOKPOS_SQL},
    lmtok AS (SELECT * FROM t2 WHERE doc_id % 5 = 0),
    c1 AS (SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM lmtok GROUP BY term),
    lmbi AS (
      SELECT term, lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM lmtok
    ),
    c2 AS (
      SELECT prev, term, CAST(count(*) AS BIGINT) AS c2
      FROM lmbi WHERE prev IS NOT NULL GROUP BY prev, term
    ),
    tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS lm_total,
             CAST(count(*) AS BIGINT) AS lm_vocab
      FROM c1
    ),
    dtok AS (
      SELECT doc_id, pos, term,
             lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM t2
    ),
    lp AS (
      SELECT d.doc_id, d.pos,
             CAST(floor(ln(CASE WHEN d.prev IS NULL
               THEN (coalesce(cs.c1, 0) + CAST(0.1 AS DOUBLE))
                    / (t.lm_total + CAST(0.1 AS DOUBLE) * t.lm_vocab)
               ELSE (coalesce(cc.c2, 0) + CAST(0.1 AS DOUBLE))
                    / (coalesce(cp.c1, 0) + CAST(0.1 AS DOUBLE) * t.lm_vocab)
             END) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lp
      FROM dtok d
      LEFT JOIN c1 cs ON cs.term = d.term
      LEFT JOIN c1 cp ON cp.term = d.prev
      LEFT JOIN c2 cc ON cc.prev = d.prev AND cc.term = d.term
      CROSS JOIN tot t
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(lp) AS BIGINT) AS s
      FROM lp GROUP BY doc_id
    )"""


@_q(
    "ngram_lm_perplexity",
    f"""
    WITH {_LM_AGG_SQL}
    SELECT doc_id, n_tokens,
           CAST(floor(-CAST(s AS DOUBLE) / n_tokens + CAST(0.5 AS DOUBLE)) AS BIGINT)
             / CAST(1000000 AS DOUBLE) AS nll,
           CASE WHEN CAST(floor(-CAST(s AS DOUBLE) / n_tokens + CAST(0.5 AS DOUBLE)) AS BIGINT)
                     / CAST(1000000 AS DOUBLE) <= CAST(3.42 AS DOUBLE) THEN 'head'
                WHEN CAST(floor(-CAST(s AS DOUBLE) / n_tokens + CAST(0.5 AS DOUBLE)) AS BIGINT)
                     / CAST(1000000 AS DOUBLE) <= CAST(3.50 AS DOUBLE) THEN 'middle'
                ELSE 'tail' END AS ppl_band
    FROM agg
    """,
    "CCNet-style LM perplexity scoring: add-0.1-smoothed bigram LM counted "
    "on the curated reference fifth of the corpus (doc_id % 5), every doc "
    "scored by nats/token and banded head/middle/tail; LM count frames are "
    "vocabulary-sized broadcasts, per-token log-probs snap to an integer "
    "micro-nat grid so the sums are order-independent and oracle-stable",
)
def q_ngram_lm_perplexity(
    spark: SparkSession, sf_dir: str, shared_tokens: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import ngram_lm_score

    d = table(spark, sf_dir, "documents")
    lm = d.filter((F.col("doc_id") % 5) == 0)
    return ngram_lm_score(
        d,
        lm,
        alpha=0.1,
        head_nll=3.42,
        tail_nll=3.50,
        docs_tokens=shared_tokens,
        lm_tokens=None
        if shared_tokens is None
        else shared_tokens.filter((F.col("doc_id") % 5) == 0),
    )


@_q(
    "perplexity_lang_buckets",
    f"""
    WITH {_LM_AGG_SQL},
    docm AS (
      SELECT a.doc_id, d.lang,
             CAST(floor(-CAST(s AS DOUBLE) / n_tokens + CAST(0.5 AS DOUBLE)) AS BIGINT) AS m
      FROM agg a JOIN documents d ON d.doc_id = a.doc_id
    ),
    grid AS (SELECT lang, m, CAST(count(*) AS BIGINT) AS c FROM docm GROUP BY lang, m),
    cumg AS (
      SELECT lang, m, c,
             sum(c) OVER (PARTITION BY lang ORDER BY m
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY lang) AS n
      FROM grid
    ),
    cuts AS (
      SELECT lang,
             min(CASE WHEN cum >= (n + 2) // 3 THEN m END) AS cut1,
             min(CASE WHEN cum >= (2 * n + 2) // 3 THEN m END) AS cut2
      FROM cumg GROUP BY lang
    )
    SELECT d.lang,
           CASE WHEN d.m <= c.cut1 THEN 'head'
                WHEN d.m <= c.cut2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(d.m) AS DOUBLE) / count(*) / CAST(1000000 AS DOUBLE), 6)
             AS mean_nll
    FROM docm d JOIN cuts c USING (lang)
    GROUP BY 1, 2
    """,
    "CCNet's real bucketing rule: per-LANGUAGE head/middle/tail cutoffs "
    "from the corpus's own perplexity distribution (discrete terciles), "
    "not fixed thresholds; cutoffs computed in integer micro-nat space "
    "over the (lang, nll-value) GRID — the cumulative window is bounded "
    "by value-grid cardinality, never doc cardinality, so nothing "
    "resembles a global sort at 100 TB",
)
def q_perplexity_lang_buckets(
    spark: SparkSession, sf_dir: str, shared_tokens: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import perplexity_lang_buckets

    d = table(spark, sf_dir, "documents")
    lm = d.filter((F.col("doc_id") % 5) == 0)
    return perplexity_lang_buckets(
        d,
        lm,
        alpha=0.1,
        docs_tokens=shared_tokens,
        lm_tokens=None
        if shared_tokens is None
        else shared_tokens.filter((F.col("doc_id") % 5) == 0),
    )


@_q(
    "doremi_weight_step",
    f"""
    WITH {_LM_AGG_SQL},
    docm AS (
      SELECT a.doc_id, d.source,
             CAST(floor(-CAST(s AS DOUBLE) / n_tokens + CAST(0.5 AS DOUBLE)) AS BIGINT) AS m
      FROM agg a JOIN documents d ON d.doc_id = a.doc_id
    ),
    dom AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(m) AS BIGINT) AS sm
      FROM docm GROUP BY source
    ),
    dtot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS tn, CAST(sum(sm) AS BIGINT) AS tm
      FROM dom
    ),
    st AS (
      SELECT d.source, d.n_docs,
             CAST(d.sm AS DOUBLE) / d.n_docs / CAST(1000000 AS DOUBLE) AS mean_raw,
             CAST(floor(exp(CAST(1.0 AS DOUBLE) * greatest(
                    CAST(d.sm AS DOUBLE) / d.n_docs / CAST(1000000 AS DOUBLE)
                    - CAST(t.tm AS DOUBLE) / t.tn / CAST(1000000 AS DOUBLE),
                    CAST(0.0 AS DOUBLE)))
                  * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS w
      FROM dom d CROSS JOIN dtot t
    ),
    wt AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM st)
    SELECT source, n_docs, round(mean_raw, 6) AS mean_nll,
           round(CAST(w AS DOUBLE) / wt, 6) AS weight
    FROM st CROSS JOIN wt
    """,
    "DoReMi-style domain reweighting step: domains whose LM perplexity "
    "exceeds the corpus baseline get weight ∝ exp(eta * excess_nll) — "
    "the excess-loss mixture update runnable from the bigram scorer; "
    "per-domain sums ride the integer micro-nat grid, exp() output "
    "snaps to a 1e-9 grid before the exact-bigint normalizer, so "
    "weights are aggregation-order-independent",
)
def q_doremi_weight_step(
    spark: SparkSession, sf_dir: str, shared_tokens: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import doremi_weight_step

    d = table(spark, sf_dir, "documents")
    lm = d.filter((F.col("doc_id") % 5) == 0)
    return doremi_weight_step(
        d,
        lm,
        eta=1.0,
        alpha=0.1,
        docs_tokens=shared_tokens,
        lm_tokens=None
        if shared_tokens is None
        else shared_tokens.filter((F.col("doc_id") % 5) == 0),
    )


@_q(
    "quality_classifier_score",
    f"""
    WITH {_TOKPOS_SQL},
    h AS (SELECT doc_id, sha256(term) AS hx FROM t2),
    b AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS bucket
      FROM h
    ),
    wtd AS (
      SELECT doc_id,
             CAST((bucket * 2654435761) % 65536 - 32768 AS BIGINT) AS w_int
      FROM b
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(w_int) AS BIGINT) AS s
      FROM wtd GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(floor(CAST(s AS DOUBLE) / (CAST(32768 AS DOUBLE) * n_tokens)
                      * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
             / CAST(1000000 AS DOUBLE) AS logit,
           s >= 0 AS keep
    FROM agg
    """,
    "fastText-shaped hashed linear quality classifier: tokens feature-hash "
    "into 2^16 buckets (first four sha256 hex chars, decoded via instr so "
    "the oracle matches byte-for-byte), the (bucket, weight) model table is "
    "broadcast-joined onto the exploded tokens, and the doc logit is the "
    "exact-integer mean weight — the production shape for shipping a "
    "trained text classifier into the pipeline (weights here are a "
    "deterministic stand-in; no training libs in the container)",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import (
        hashed_linear_score,
        model_weights_table,
    )

    d = table(spark, sf_dir, "documents")
    return hashed_linear_score(d, model_weights_table(spark))


def _shard_case_sql(n_shards: int, hex_col: str) -> str:
    from wellmeet_data_pipeline_spark.operators.corpus import split_thresholds

    ths = split_thresholds([(str(i), 1.0 / n_shards) for i in range(n_shards)])
    whens = " ".join(
        f"WHEN {hex_col} < '{th}' THEN {name}" for name, th in ths[:-1]
    )
    return f"CASE {whens} ELSE {ths[-1][0]} END"


@_q(
    "corpus_shuffle_shards",
    f"""
    WITH hashed AS (
      SELECT doc_id,
             substr(sha256('shard|' || CAST(doc_id AS VARCHAR)), 1, 8) AS hp
      FROM documents
    ),
    sharded AS (
      SELECT doc_id, hp,
             CAST({_shard_case_sql(8, "hp")} AS INTEGER) AS shard
      FROM hashed
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hp, doc_id) AS BIGINT)
             AS pos_in_shard
    FROM sharded
    """,
    "deterministic global shuffle into 8 training shards: shard = "
    "growth-stable sha hex-prefix range (narrow, no shuffle to assign), "
    "within-shard position = sha rank — a uniform reproducible permutation "
    "of the corpus with an N-way window instead of a global single-task "
    "sort",
)
def q_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import shuffle_to_shards

    d = table(spark, sf_dir, "documents").select("doc_id")
    out = shuffle_to_shards(d, 8)
    return out.select(
        "doc_id", "shard", F.col("pos_in_shard").cast("long").alias("pos_in_shard")
    )


@_q(
    "dedup_vs_reference",
    f"""
    WITH {_minhash_sha_ctes()},
    cpairs AS (
      SELECT DISTINCT CASE WHEN id_a % 4 <> 0 THEN id_a ELSE id_b END AS new_id,
                      CASE WHEN id_a % 4 = 0 THEN id_a ELSE id_b END AS ref_id
      FROM pairs
      WHERE (id_a % 4 = 0) <> (id_b % 4 = 0)
    ),
    inter AS (
      SELECT p.new_id, p.ref_id, CAST(count(*) AS BIGINT) AS i
      FROM cpairs p
      JOIN sh a ON a.doc_id = p.new_id
      JOIN sh b ON b.doc_id = p.ref_id AND b.shingle = a.shingle
      GROUP BY p.new_id, p.ref_id
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    cross_hits AS (
      SELECT DISTINCT i.new_id
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.new_id
      JOIN sizes sb ON sb.doc_id = i.ref_id
      WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= CAST(0.5 AS DOUBLE)
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 4 <> 0
      AND NOT EXISTS (SELECT 1 FROM cross_hits c WHERE c.new_id = d.doc_id)
    """,
    "cross-corpus dedup: drop new-crawl docs near-dup'ing the reference "
    "corpus (the 'already in the training set' scan) — banded LSH recall, "
    "then exact shingle-Jaccard >= 0.5 verify on candidate-bounded joins "
    "(a raw band collision alone fires ~23% on Jaccard-0.5 pairs — too "
    "loose to destroy data on); sha-prefix family keeps banding AND "
    "verify oracle-checked (cross pairs = partition-filtered subset of "
    "the union self-join, exact because signatures are corpus-"
    "membership-independent)",
)
def q_dedup_vs_reference(
    spark: SparkSession, sf_dir: str, shared_verify_counts: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import dedup_against_reference_sha

    d = table(spark, sf_dir, "documents")
    new = d.filter((F.col("doc_id") % 4) != 0)
    if shared_verify_counts is not None:
        # bench shared_verify_counts: the cross-corpus candidate pairs are the
        # exactly-one-ref-side subset of the union self-join pairs the
        # shared raw-counts frame already carries (signatures and
        # shingle counts are corpus-membership-independent — the same
        # identity the oracle SQL uses), and the verify filter below is
        # the operator's own double comparison on the same exact
        # integers.  Shared == standalone pinned by
        # tests/test_shared_verify_counts.py.
        c = shared_verify_counts
        cross = c.filter(
            ((F.col("id_a") % 4) == 0) != ((F.col("id_b") % 4) == 0)
        )
        hits = (
            cross.filter(
                F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
                >= F.lit(0.5)
            )
            .select(
                F.when((F.col("id_a") % 4) != 0, F.col("id_a"))
                .otherwise(F.col("id_b"))
                .alias("doc_id")
            )
            .distinct()
        )
        return new.join(hits, "doc_id", "left_anti").select(
            "doc_id", "lang", "source"
        )
    ref = d.filter((F.col("doc_id") % 4) == 0)
    return dedup_against_reference_sha(new, ref).select("doc_id", "lang", "source")


@_q(
    "hard_negatives_topk",
    """
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    n AS (
      SELECT vec_id, label, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(a.e) + 1),
                                           i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 4) AS cosine_sim
      FROM n a JOIN n b ON a.vec_id <> b.vec_id AND a.label <> b.label
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    "hard-negative mining for contrastive training: per vector, the top-3 "
    "most-similar DIFFERENT-label neighbors — the blocked-BNL exact tier "
    "with a label-aware tile mask; at scale the same contract runs over "
    "LSH/IVF candidates",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.similarity import hard_negative_top_k

    e = table(spark, sf_dir, "embeddings")
    return hard_negative_top_k(e, k=3, round_digits=4)


# ---------------------------------------------------------------------------
# Round-4 additions: training-prep and corpus-ops queries
# ---------------------------------------------------------------------------

_BPE_SQL = "regexp_extract_all(text, '[A-Za-z가-힣]+|[0-9]+|[^A-Za-z가-힣0-9 \\t\\n\\r\\f\\x0B]')"


@_q(
    "fim_split",
    f"""
    WITH w AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
      FROM documents
    ),
    s AS (
      SELECT doc_id, words, CAST(len(words) AS BIGINT) AS n_tokens,
             CAST(floor(len(words) * 2.0 / 5) AS BIGINT) AS p,
             CAST(floor(len(words) * 7.0 / 10) AS BIGINT) AS m
      FROM w WHERE len(words) >= 5
    )
    SELECT doc_id, n_tokens,
           array_to_string(words[1:p], ' ') AS fim_prefix,
           array_to_string(words[p + 1:m], ' ') AS fim_middle,
           array_to_string(words[m + 1:n_tokens], ' ') AS fim_suffix
    FROM s
    """,
    "fill-in-middle transform for code/infilling training: deterministic "
    "40/30/30 token split of each document into (prefix, middle, suffix) "
    "— pure projection, collapses into the scan (integer-arithmetic "
    "boundaries so both engines cut at the same token)",
)
def q_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.functions.text import normalized_text

    d = table(spark, sf_dir, "documents")
    words = F.split(normalized_text(F.col("text")), " ")
    base = d.select(F.col("doc_id"), words.alias("words")).filter(
        F.size("words") >= 5
    )
    n = F.size("words").cast("long")
    p = F.floor(n * 2 / 5).cast("int")
    m = F.floor(n * 7 / 10).cast("int")
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.array_join(F.slice("words", F.lit(1), p), " ").alias("fim_prefix"),
        F.array_join(F.slice("words", p + 1, m - p), " ").alias("fim_middle"),
        F.array_join(F.slice("words", m + 1, n.cast("int") - m), " ").alias("fim_suffix"),
    )


@_q(
    "tokenizer_fertility",
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(n_chars) AS DOUBLE)
                 / sum((CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '[ \\t\\n\\r\\f\\x0B]+')) END)), 4) AS chars_per_word,
           round(CAST(sum(n_chars) AS DOUBLE)
                 / sum(len({_BPE_SQL})), 4) AS chars_per_token,
           round(CAST(sum(len({_BPE_SQL})) AS DOUBLE)
                 / sum((CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '[ \\t\\n\\r\\f\\x0B]+')) END)), 4) AS fertility
    FROM documents
    GROUP BY lang
    """,
    "tokenizer fertility audit per language: chars/word, chars/BPE-token "
    "and tokens-per-word — the numbers that decide whether a tokenizer "
    "under-serves a language; exact integer sums, one map-side-combined "
    "aggregation",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("__ws"),
        F.sum(bpe_ish_token_count("text")).alias("__bpe"),
        F.sum("n_chars").alias("__chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        F.round(F.col("__chars") / F.col("__ws"), 4).alias("chars_per_word"),
        F.round(F.col("__chars") / F.col("__bpe"), 4).alias("chars_per_token"),
        F.round(F.col("__bpe") / F.col("__ws"), 4).alias("fertility"),
    )


@_q(
    "bpe_pair_counts",
    f"""
    WITH wf AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split({_NORM_SQL}, ' ')) AS word FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    p AS (
      SELECT unnest(list_transform(range(1, length(word)),
                                   i -> substr(word, i, 2))) AS pair,
             freq
      FROM wf WHERE length(word) >= 2
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
    "BPE tokenizer training, iteration-1 argmax input: adjacent char-pair "
    "counts weighted by word frequency over the WORD VOCABULARY (types "
    "not tokens — the frame every merge iteration touches is "
    "vocabulary-sized, independent of corpus size); top-20 via "
    "TakeOrderedAndProject, never a global sort.  The full iterated "
    "trainer (train_bpe_merges: 1-row argmax collect + JVM array-fold "
    "rewrite per merge) is pytest-verified against an independent "
    "pure-Python BPE in tests/test_tokenizer.py",
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.tokenizer import bpe_pair_counts

    return bpe_pair_counts(table(spark, sf_dir, "documents"), top_n=20)


@_q(
    "seqlen_histogram",
    f"""
    WITH t AS (
      SELECT CAST(len({_BPE_SQL}) AS BIGINT) AS n FROM documents
    )
    SELECT CAST(pow(2, floor(log2(n))) AS BIGINT) AS len_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(sum((256 - n % 256) % 256) AS BIGINT) AS pad_waste_256
    FROM t WHERE n >= 1
    GROUP BY 1
    """,
    "sequence-length histogram in power-of-2 buckets + the padding waste "
    "a naive pad-to-256 batching would pay per bucket — the distribution "
    "every packing/curriculum decision reads; log2 is exact on the "
    "bucket boundaries (powers of two) so both engines bucket "
    "identically",
)
def q_seqlen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    n = bpe_ish_token_count("text")
    t = d.select(n.alias("n")).filter(F.col("n") >= 1)
    return (
        t.groupBy(
            F.pow(F.lit(2.0), F.floor(F.log2("n"))).cast("long").alias("len_bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").alias("sum_tokens"),
            F.sum((F.lit(256) - F.col("n") % 256) % 256).alias("pad_waste_256"),
        )
    )


@_q(
    "dup_rate_by_source",
    f"""
    WITH f AS (
      SELECT source, sha256({_NORM_SQL}) AS fp FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
           round((count(*) - count(DISTINCT fp)) * 1.0 / count(*), 6) AS dup_share
    FROM f GROUP BY source
    """,
    "per-source exact-duplication pressure: the share of docs whose "
    "content fingerprint repeats within the source — the ops metric that "
    "flags a crawler re-ingesting its own output; distinct-count on the "
    "64-hex fingerprint, partial-agged",
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.functions.text import document_fingerprint

    d = table(spark, sf_dir, "documents")
    f = d.select("source", document_fingerprint(F.col("text")).alias("fp"))
    return f.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("fp").alias("n_unique"),
        F.round(
            (F.count("*") - F.count_distinct("fp")) * 1.0 / F.count("*"), 6
        ).alias("dup_share"),
    )


@_q(
    "length_curriculum",
    f"""
    WITH t AS (
      -- COALESCE 0: a NULL text is a 0-token doc on both engines — bare
      -- NULLs would rank NULLS FIRST in Spark but NULLS LAST in DuckDB,
      -- shifting every quartile boundary
      SELECT doc_id, CAST(COALESCE(len({_BPE_SQL}), 0) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(ntile(4) OVER (ORDER BY n_tokens, doc_id) AS INTEGER) AS stage
    FROM t
    """,
    "length-based curriculum staging: exact quartile of every document "
    "by token count (train short→long) — ntile derived from the two-pass "
    "distributed rank (global_rank_cumsum), no global window over the "
    "corpus-cardinality frame",
)
def q_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.windows import global_rank_cumsum

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.coalesce(bpe_ish_token_count("text"), F.lit(0)).alias("n_tokens"),
    )
    ranked = global_rank_cumsum(
        t, [F.col("n_tokens").asc(), F.col("doc_id").asc()]
    )
    # N from the checkpointed ranked frame: counting t would re-run the
    # per-document regexp token count over the whole corpus a second time
    ncnt = ranked.agg(F.count("*").alias("_N"))
    return ranked.crossJoin(F.broadcast(ncnt)).select(
        "doc_id",
        "n_tokens",
        _ntile_from_rank(F.col("rank"), F.col("_N"), 4).cast("int").alias("stage"),
    )


@_q(
    "pack_efficiency_by_seqlen",
    f"""
    WITH t AS (
      SELECT CAST(len({_BPE_SQL}) AS BIGINT) AS n FROM documents
    ),
    lens AS (SELECT unnest([128, 256, 512, 1024]) AS seq_len)
    SELECT CAST(seq_len AS INTEGER) AS seq_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n > seq_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
           round(CAST(sum(seq_len - least(n, seq_len)) AS DOUBLE)
                 / (seq_len * count(*)), 6) AS pad_fraction,
           round(CAST(sum(greatest(n - seq_len, 0)) AS DOUBLE) / sum(n), 6) AS trunc_fraction
    FROM t, lens GROUP BY seq_len
    """,
    "choose-the-sequence-length audit: for each candidate seq_len, the "
    "padding waste of one-doc-per-sequence batching and the token loss "
    "of truncation — exact integer sums over a broadcast 4-row literal "
    "frame, one pass over the corpus",
)
def q_pack_efficiency_by_seqlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    t = d.select(bpe_ish_token_count("text").alias("n"))
    lens = local_frame(spark, [(128,), (256,), (512,), (1024,)], "seq_len int")
    c = t.crossJoin(F.broadcast(lens))
    return c.groupBy("seq_len").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n") > F.col("seq_len"), 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        F.round(
            F.sum(F.col("seq_len") - F.least("n", "seq_len"))
            / (F.col("seq_len") * F.count("*")),
            6,
        ).alias("pad_fraction"),
        F.round(
            F.sum(F.greatest(F.col("n") - F.col("seq_len"), F.lit(0))) / F.sum("n"), 6
        ).alias("trunc_fraction"),
    )


_BUCKET_SQL = (
    "(strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr({h}, 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr({h}, 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr({h}, 4, 1)) - 1)"
)


# shared DSIR CTE chain (hashed-ngram features, target = doc_id%7,
# add-0.1-smoothed bucket log-ratios on the micro-nat grid) ending at
# agg = (doc_id, n_features, s) — base of dsir_importance and
# dsir_ess_by_source
_DSIR_AGG_SQL = f"""{_TOKPOS_SQL},
    bi AS (
      SELECT doc_id, pos, term,
             lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM t2
    ),
    feats AS (
      SELECT doc_id, {_BUCKET_SQL.format(h="sha256(term)")} AS bucket FROM t2
      UNION ALL
      SELECT doc_id, {_BUCKET_SQL.format(h="sha256(prev || ' ' || term)")} AS bucket
      FROM bi WHERE prev IS NOT NULL
    ),
    c_t AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS c_t
      FROM feats WHERE doc_id % 7 = 0 GROUP BY bucket
    ),
    c_r AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_r FROM feats GROUP BY bucket),
    tot AS (
      SELECT (SELECT CAST(sum(c_t) AS BIGINT) FROM c_t) AS t_total,
             (SELECT CAST(sum(c_r) AS BIGINT) FROM c_r) AS r_total
    ),
    lr AS (
      SELECT f.doc_id,
             CAST(floor(ln(
               ((coalesce(t.c_t, 0) + CAST(0.1 AS DOUBLE))
                / (tt.t_total + CAST(0.1 AS DOUBLE) * 65536))
               / ((coalesce(r.c_r, 0) + CAST(0.1 AS DOUBLE))
                  / (tt.r_total + CAST(0.1 AS DOUBLE) * 65536))
             ) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lr
      FROM feats f
      LEFT JOIN c_t t ON t.bucket = f.bucket
      LEFT JOIN c_r r ON r.bucket = f.bucket
      CROSS JOIN tot tt
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
             CAST(sum(lr) AS BIGINT) AS s
      FROM lr GROUP BY doc_id
    )"""


@_q(
    "dsir_importance",
    f"""
    WITH {_DSIR_AGG_SQL}
    SELECT doc_id, n_features,
           CAST(floor(CAST(s AS DOUBLE) / n_features + CAST(0.5 AS DOUBLE)) AS BIGINT)
             / CAST(1000000 AS DOUBLE) AS dsir_weight,
           s >= 0 AS keep
    FROM agg
    """,
    "DSIR importance resampling weights (Xie et al.): mean hashed-ngram "
    "log-ratio ln(p_target/p_raw) per document, target = the doc_id%7 "
    "partition, raw = the whole corpus — bucket-count frames bounded by "
    "the 2^16 feature space broadcast onto the feature stream; "
    "integer micro-nat grid for oracle exactness",
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import dsir_importance_weight

    d = table(spark, sf_dir, "documents")
    target = d.filter((F.col("doc_id") % 7) == 0)
    return dsir_importance_weight(d, target, target_within_docs=True)


_REV_CENTS_SQL = "round(l_extendedprice * 100) * (100 - round(l_discount * 100))"


def _rev_cents():
    """Exact-integer revenue term (cents x pct): the repo's standard
    money-sum discipline (module docstring)."""
    return F.round(F.col("l_extendedprice") * 100, 0) * (
        F.lit(100) - F.round(F.col("l_discount") * 100, 0)
    )


@_q(
    "market_share_by_year",
    f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           round(sum(CASE WHEN n2.n_name = 'NATION_1' THEN {_REV_CENTS_SQL} ELSE 0 END)
                 / sum({_REV_CENTS_SQL}), 6) AS mkt_share,
           round(sum({_REV_CENTS_SQL}) / 10000.0, 4) AS total_revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY year(o_orderdate)
    """,
    "TPC-H Q8-shaped market share: one supplier nation's revenue share "
    "per year inside a region's market — conditional sum over a six-way "
    "join (every dimension broadcast, nation under two roles), ratio of "
    "two exact-integer sums so the share is order-independent",
)
def q_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").alias("n1")
    n2 = table(spark, sf_dir, "nation").alias("n2")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _rev_cents()
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2.n_nationkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n2.n_name") == "NATION_1", rev).otherwise(0))
                / F.sum(rev),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(rev) / F.lit(10000.0), 4).alias("total_revenue"),
        )
    )


@_q(
    "customer_order_distribution",
    """
    WITH c_orders AS (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
    "TPC-H Q13-shaped customer distribution: how many customers placed "
    "exactly k orders, INCLUDING the zero-order customers a plain inner "
    "join would drop — left-outer count(null-skipping) then a second "
    "small aggregation",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    c_orders = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(F.count("*").alias("custdist"))


@_q(
    "promo_revenue_share",
    f"""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN {_REV_CENTS_SQL} ELSE 0 END)
                 / sum({_REV_CENTS_SQL}), 6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
    "TPC-H Q14-shaped promo revenue share: percentage of each month's "
    "revenue from PROMO-type parts — broadcast part join, conditional "
    "exact-integer sums, month rendered as a fixed string",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = _rev_cents()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0))
                / F.sum(rev),
                6,
            ).alias("promo_pct")
        )
    )


@_q(
    "large_order_customers",
    """
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(round(l_quantity)) > 150
    )
    SELECT c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           round(o_totalprice, 2) AS total_price,
           CAST((SELECT sum(round(l_quantity)) FROM lineitem
                 WHERE l_orderkey = o_orderkey) AS BIGINT) AS total_qty
    FROM orders
    JOIN big ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
    "TPC-H Q18-shaped large-volume orders: HAVING on an exact-integer "
    "quantity sum, then join the qualifying keys back to orders and "
    "customers — the group-filter-then-rejoin shape; the qualifying set "
    "is small so both joins broadcast it",
)
def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round("l_quantity", 0)).cast("long").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
    )


@_q(
    "disjunctive_filter_revenue",
    f"""
    SELECT round(sum({_REV_CENTS_SQL}) / 10000.0, 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_type = 'PROMO' AND p_size <= 20 AND round(l_quantity) <= 25)
       OR (p_type = 'ECONOMY' AND p_size <= 10 AND round(l_quantity) <= 15)
       OR (p_brand = 'BRAND_1' AND round(l_quantity) >= 40)
    """,
    "TPC-H Q19-shaped disjunctive predicate revenue: three OR-branches "
    "mixing part and lineitem attributes — the join-then-filter form "
    "Catalyst handles by pushing each side's common conjuncts into the "
    "scans; exact-integer quantity comparisons",
)
def q_disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    qty = F.round("l_quantity", 0)
    cond = (
        ((F.col("p_type") == "PROMO") & (F.col("p_size") <= 20) & (qty <= 25))
        | ((F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 10) & (qty <= 15))
        | ((F.col("p_brand") == "BRAND_1") & (qty >= 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(_rev_cents()) / F.lit(10000.0), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@_q(
    "inactive_rich_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS s_cents,
             CAST(count(*) AS BIGINT) AS n_pos
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_custs,
           round(sum(round(c_acctbal * 100)) / 100.0, 2) AS total_bal
    FROM customer, avg_bal
    WHERE round(c_acctbal * 100) * n_pos > s_cents
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
    "TPC-H Q22-shaped sales opportunity: above-average-balance customers "
    "with no RECENT order (this synthetic data gives every customer some "
    "order, so the lapsed-since-2000 form keeps the result non-trivial) "
    "— scalar-subquery threshold broadcast onto the scan, anti join "
    "against the filtered orders keys (filter pushed to that scan); the "
    "above-average comparison is restated in exact-integer cents "
    "(bal*100*n > sum) so summation-order ulp noise can never flip a "
    "boundary customer (the customer_above_avg discipline)",
)
def q_inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    cents = F.round(F.col("c_acctbal") * 100, 0)
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents).cast("long").alias("s_cents"),
        F.count("*").alias("n_pos"),
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(cents * F.col("n_pos") > F.col("s_cents"))
        .join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(
                F.sum(F.round(F.col("c_acctbal") * 100, 0)) / F.lit(100.0), 2
            ).alias("total_bal"),
        )
    )


@_q(
    "semdedup_survivors",
    """
    WITH RECURSIVE anchors AS (
      SELECT label, list_transform(arg_min(embedding, vec_id), x -> CAST(x AS DOUBLE)) AS a
      FROM embeddings WHERE embedding IS NOT NULL GROUP BY label
    ),
    v AS (
      SELECT e.vec_id, list_transform(range(1, len(e.embedding) + 1),
             i -> an.a[i] * 0.75 + CAST(e.embedding[i] AS DOUBLE) * 0.25) AS e
      FROM embeddings e JOIN anchors an ON e.label = an.label
      WHERE e.embedding IS NOT NULL
    ),
    n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
    cents AS (SELECT vec_id AS cid, e AS c, nrm AS cnrm FROM n
              WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT 16),
    scored AS (
      SELECT a.vec_id, c.cid,
             round(CASE WHEN a.nrm * c.cnrm = 0 THEN 0
                        ELSE list_sum(list_transform(range(1, len(a.e)+1),
                                      i -> a.e[i] * c.c[i])) / (a.nrm * c.cnrm)
                   END, 4) AS sim
      FROM n a CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, cid AS cluster_id, sim AS centroid_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cid ASC) rk FROM scored)
      WHERE rk = 1
    ),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM assign ja JOIN assign jb
        ON ja.cluster_id = jb.cluster_id AND ja.vec_id < jb.vec_id
      JOIN n a ON a.vec_id = ja.vec_id JOIN n b ON b.vec_id = jb.vec_id
      WHERE round(CASE WHEN a.nrm * b.nrm = 0 THEN 0
                       ELSE list_sum(list_transform(range(1, len(a.e)+1),
                                     i -> a.e[i]*b.e[i]))/(a.nrm*b.nrm)
                  END, 4) >= 0.95
    ),
    e2 AS (SELECT ia AS u, ib AS v FROM pairs UNION SELECT ib, ia FROM pairs),
    reach(node, r) AS (
      SELECT u, u FROM e2
      UNION
      SELECT e.u, r.r FROM e2 e JOIN reach r ON e.v = r.node
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    ranked AS (
      SELECT c.node, row_number() OVER (PARTITION BY c.component
                                        ORDER BY a.centroid_sim ASC, c.node ASC) AS rk
      FROM comp c JOIN assign a ON a.vec_id = c.node
    )
    SELECT a.vec_id, a.cluster_id, a.centroid_sim,
           coalesce(r.rk = 1, TRUE) AS kept
    FROM assign a LEFT JOIN ranked r ON r.node = a.vec_id
    """,
    "SemDeDup (Abbas et al. 2023): semantic dedup over the clustered "
    "embedding fixture — deterministic coarse clusters, within-cluster "
    "cosine>=0.95 edges, connected components, keep the least-central "
    "member per duplicate group; the quadratic term is confined within "
    "clusters (per-task bound (N/n_centroids)^2, n_centroids~sqrt(N) at "
    "scale) and the oracle replays assignment, edges, the component "
    "fixpoint, and the survivor rule exactly",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.similarity import (
        clustered_embeddings,
        semantic_dedup,
    )

    e = clustered_embeddings(table(spark, sf_dir, "embeddings"))
    return semantic_dedup(e, threshold=0.95, n_centroids=16, seed_mod=31)


@_q(
    "forecast_revenue_change",
    """
    SELECT round(sum(round(l_extendedprice * 100) * round(l_discount * 100)) / 10000.0, 4)
             AS revenue_increase,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND round(l_discount * 100) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
    "TPC-H Q6 shape: revenue increase from dropping small-quantity "
    "mid-discount items in one shipping year — a pure filter+agg whose "
    "entire predicate reaches the parquet scan (PushedFilters on "
    "shipdate/quantity); discount restated on its integer pct grid so "
    "the band edges are exact on both engines",
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.round(F.col("l_discount") * 100, 0).between(5, 7)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0)
                    * F.round(F.col("l_discount") * 100, 0)
                )
                / F.lit(10000.0),
                4,
            ).alias("revenue_increase"),
            F.count("*").alias("n_items"),
        )
    )


@_q(
    "product_profit_by_nation",
    f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           round(sum({_REV_CENTS_SQL}
                     - round(p_retailprice * 100) * round(l_quantity) * 100) / 10000.0, 4)
             AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
    "TPC-H Q9 shape: per-(supplier nation, order year) profit on parts "
    "matching a name pattern, with retail cost standing in for the "
    "missing partsupp supplycost — revenue and cost both restated on the "
    "common 1/10000 grid (cents x pct vs cents x qty x 100) so the sum "
    "is exact-integer and order-independent; dims broadcast, one "
    "orderkey-side shuffle",
)
def q_product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    amount = _rev_cents() - (
        F.round(F.col("p_retailprice") * 100, 0) * F.round("l_quantity", 0) * 100
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount) / F.lit(10000.0), 4).alias("profit"))
    )


@_q(
    "returned_item_report",
    f"""
    WITH per_cust AS (
      SELECT c_custkey, c_name, n_name,
             CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS rev_tt
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-10-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name
    )
    SELECT c_custkey, c_name, n_name AS nation,
           round(rev_tt / 10000.0, 4) AS revenue
    FROM (SELECT *, row_number() OVER (ORDER BY rev_tt DESC, c_custkey ASC) AS rk
          FROM per_cust)
    WHERE rk <= 20
    """,
    "TPC-H Q10 shape: top-20 customers by revenue lost to returned items "
    "in one quarter — the rank cut happens on the exact-integer revenue "
    "(ties broken by custkey) so the top-20 frontier is identical on "
    "both engines; Spark side is orderBy+limit (TakeOrderedAndProject — "
    "distributed partial top-k), never a global row_number window",
)
def q_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_cents()).cast("long").alias("rev_tt"))
    )
    # top-20 via orderBy+limit -> TakeOrderedAndProject: a distributed
    # per-partition partial top-k + single merge of 20-row heaps, never a
    # row_number() window (which would single-partition the whole customer
    # frame — unbounded at scale, exactly the WindowExec warning class)
    return (
        per_cust.orderBy(F.col("rev_tt").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.round(F.col("rev_tt") / F.lit(10000.0), 4).alias("revenue"),
        )
    )


@_q(
    "top_supplier_revenue",
    f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS rev_tt
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(rev_tt / 10000.0, 4) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE rev_tt = (SELECT max(rev_tt) FROM rev)
    """,
    "TPC-H Q15 shape: the supplier(s) achieving maximum revenue in one "
    "quarter — the view-plus-scalar-max form becomes an agg reused by "
    "both the max subquery and the probe (exact-integer revenue makes "
    "the equality safe; a double sum could miss the max row by one ulp)",
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev_cents()).cast("long").alias("rev_tt"))
        .localCheckpoint()  # reused by the max subquery AND the probe
    )
    mx = rev.agg(F.max("rev_tt").alias("mx"))
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .join(F.broadcast(mx), F.col("rev_tt") == F.col("mx"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_tt") / F.lit(10000.0), 4).alias("total_revenue"),
        )
    )


@_q(
    "waiting_supplier_orders",
    """
    WITH per_os AS (
      SELECT l_orderkey, l_suppkey, max(l_shipdate) AS s_max
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    per_o AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_supp, max(s_max) AS o_max
      FROM per_os GROUP BY l_orderkey
    ),
    at_max AS (
      SELECT p.l_orderkey, CAST(count(*) AS BIGINT) AS n_at_max
      FROM per_os p JOIN per_o o
        ON p.l_orderkey = o.l_orderkey AND p.s_max = o.o_max
      GROUP BY p.l_orderkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per_os p
    JOIN per_o o ON p.l_orderkey = o.l_orderkey
    JOIN at_max m ON p.l_orderkey = m.l_orderkey
    JOIN supplier ON p.l_suppkey = s_suppkey
    WHERE o.n_supp > 1 AND p.s_max = o.o_max AND m.n_at_max = 1
    GROUP BY s_name
    """,
    "TPC-H Q21 shape: suppliers who alone shipped last on multi-supplier "
    "orders (the reshaped 'kept the order waiting' — shipdate stands in "
    "for the missing commit/receipt dates) — the EXISTS / NOT-EXISTS "
    "pair becomes two per-order aggregates (supplier count, count at the "
    "max shipdate) joined back; everything shuffles once on orderkey",
)
def q_waiting_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("s_max")
    ).localCheckpoint()  # feeds per_o, at_max, and the probe
    per_o = (
        per_os.groupBy("l_orderkey")
        .agg(F.count("*").alias("n_supp"), F.max("s_max").alias("o_max"))
        .select(F.col("l_orderkey").alias("ok_o"), "n_supp", "o_max")
    )
    at_max = (
        per_os.join(
            per_o,
            (F.col("l_orderkey") == F.col("ok_o")) & (F.col("s_max") == F.col("o_max")),
        )
        .groupBy(F.col("l_orderkey").alias("ok_m"))
        .agg(F.count("*").alias("n_at_max"))
    )
    return (
        per_os.join(per_o, F.col("l_orderkey") == F.col("ok_o"))
        .join(at_max, F.col("l_orderkey") == F.col("ok_m"))
        .filter(
            (F.col("n_supp") > 1)
            & (F.col("s_max") == F.col("o_max"))
            & (F.col("n_at_max") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@_q(
    "cross_doc_spans",
    f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents
    ),
    grams0 AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(words) - 7, 0) + 1)) AS pos1,
             unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
                                   i -> array_to_string(words[i:i+7], ' '))) AS g
      FROM norm
    ),
    grams AS (SELECT doc_id, pos1 - 1 AS pos, g FROM grams0),
    df_ok AS (
      SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS d FROM grams GROUP BY g)
      WHERE d <= 10
    ),
    seeds AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      WHERE a.g IN (SELECT g FROM df_ok)
    ),
    islands AS (
      SELECT doc_a, doc_b, pa - pb AS diag, pa,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                     ORDER BY pa) AS grp
      FROM seeds
    )
    SELECT doc_a, doc_b, min(pa) AS start_a,
           CAST(min(pa) - diag AS BIGINT) AS start_b,
           CAST(max(pa) - min(pa) + 8 AS BIGINT) AS span_tokens
    FROM islands GROUP BY doc_a, doc_b, diag, grp
    """,
    "ExactSubstr-style cross-document duplicate spans (Lee et al. 2021): "
    "maximal verbatim token spans >= 8 words shared by two docs — "
    "seed-and-extend re-expressed set-based (positioned 8-gram seed "
    "join with a DF<=10 hot-gram cap, then diagonal run-length islands "
    "per doc pair); the within-doc twin is repeated_span_removal",
)
def q_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import cross_doc_spans

    d = table(spark, sf_dir, "documents")
    return cross_doc_spans(d, min_tokens=8, max_gram_df=10)


@_q(
    "decontaminate_bloom",
    f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(words) - 2, 0) + 1),
                                   i -> array_to_string(words[i:i+2], ' '))) AS shingle
      FROM norm
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0),
    contam AS (
      SELECT DISTINCT doc_id FROM sh WHERE shingle IN (SELECT shingle FROM bench)
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = d.doc_id)
    """,
    "decontaminate_benchmark behind a distributed Bloom pre-filter: the "
    "benchmark shingle set collapses to a bitmap frame (bit_or agg, "
    "~10 bits/member — broadcastable where 10^9 raw shingle strings are "
    "not), corpus shingles probe it with k map-side joins (zero "
    "shuffle), and only might-member candidates reach the exact "
    "semi-join — same oracle as the exact form because the Bloom stage "
    "is pure pruning (no false negatives by construction)",
)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.corpus import decontaminate_bloom

    d = table(spark, sf_dir, "documents")
    bench = d.filter((F.col("doc_id") % 37) == 0)
    return decontaminate_bloom(d, bench, verify=True).select(
        "doc_id", "lang", "source", "n_chars"
    )


@_q(
    "embedding_label_outliers",
    """
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, label,
             unnest(range(1, len(e) + 1)) AS pos,
             unnest(e) AS x
      FROM v
    ),
    cent AS (SELECT label, pos, avg(x) AS m FROM ex GROUP BY label, pos),
    pv AS (
      SELECT e.vec_id, e.label, sum(e.x * c.m) AS dot, sum(e.x * e.x) AS v2
      FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
      GROUP BY e.vec_id, e.label
    ),
    cn AS (SELECT label, sum(m * m) AS c2 FROM cent GROUP BY label),
    scored AS (
      SELECT pv.label, vec_id,
             round(CASE WHEN v2 * c2 = 0 THEN 0
                        ELSE dot / sqrt(v2 * c2) END, 4) AS centroid_sim
      FROM pv JOIN cn ON pv.label = cn.label
    )
    SELECT label, vec_id, centroid_sim, CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY label
                                       ORDER BY centroid_sim ASC, vec_id ASC) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
    "per-label outlier mining: cosine of each vector to its label "
    "centroid (element-wise mean), 5 least-central per label — the "
    "prototype-distance detector for mislabeled/noisy supervised "
    "examples; all JVM expressions (posexplode + partial-agg means, "
    "broadcast centroid join, per-label rank window)",
)
def q_embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.similarity import (
        embedding_label_outliers,
    )

    e = table(spark, sf_dir, "embeddings")
    return embedding_label_outliers(e, k=5)


@_q(
    "epoch_budget_allocation",
    """
    WITH per_source AS (
      SELECT source,
             CAST(sum(CASE WHEN trim(text) = '' THEN 0
                           ELSE len(string_split_regex(trim(text), '[ \\t\\n\\r\\f\\x0B]+')) END)
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT source, n_tokens, n_tokens * 4 AS cap,
             row_number() OVER (ORDER BY n_tokens * 4 ASC, source ASC) AS i,
             sum(n_tokens * 4) OVER (ORDER BY n_tokens * 4 ASC, source ASC
                                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM per_source
    ),
    totals AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST((sum(n_tokens) * 2) // 1 AS BIGINT) AS b
      FROM per_source
    ),
    sized AS (
      SELECT r.*, t.n, t.b,
             (r.cap * (t.n - r.i + 1) + (r.cum - r.cap)) < t.b AS bound
      FROM ranked r CROSS JOIN totals t
    ),
    thresh AS (
      SELECT coalesce(max(CASE WHEN bound THEN i END), 0) AS k,
             CAST(coalesce(max(CASE WHEN bound THEN cum END), 0) AS BIGINT) AS ck
      FROM sized
    ),
    alloc AS (
      SELECT s.*, th.k, th.ck,
             CASE WHEN s.n > th.k
                  THEN CAST((s.b - th.ck) // (s.n - th.k) AS BIGINT) END AS share
      FROM sized s CROSS JOIN thresh th
    )
    SELECT source, n_tokens, CAST(cap AS BIGINT) AS cap_tokens,
           CAST(CASE WHEN bound THEN cap ELSE least(cap, share) END AS BIGINT)
             AS alloc_tokens,
           round(CAST(CASE WHEN bound THEN cap ELSE least(cap, share) END AS DOUBLE)
                 / n_tokens, 4) AS epochs
    FROM alloc
    """,
    "data-constrained token-budget allocation (Muennighoff et al. 2023): "
    "water-fill a 2x-corpus training budget across sources, each capped "
    "at 4 epochs of its unique tokens — closed-form (rank + prefix sums "
    "+ one scalar threshold, no iteration), integer div end-to-end, and "
    "every window ranks the per-SOURCE frame (bounded by source count)",
)
def q_epoch_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.corpus import epoch_budget_allocation

    d = table(spark, sf_dir, "documents")
    return epoch_budget_allocation(d, budget_num=2, budget_den=1, max_epochs=4)


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled power-method CTE chain over the MinHash candidate graph.
    The damping constants are CAST(... AS DOUBLE) BEFORE any arithmetic
    (a bare 0.85 parses as DECIMAL in DuckDB and 1 - 0.85 would yield
    decimal 0.15, not the IEEE 0.15000000000000002 Spark computes)."""
    d = "CAST(0.85 AS DOUBLE)"
    parts = [
        "pr0 AS (SELECT u AS node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM deg)"
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""pr{t} AS (
      SELECT e.v AS node,
             (CAST(1 AS DOUBLE) - {d}) / (SELECT n FROM nn)
               + {d} * sum(p.pr / d2.deg) AS pr
      FROM e2 e JOIN deg d2 ON e.u = d2.u JOIN pr{t-1} p ON p.node = e.u
      GROUP BY e.v)"""
        )
    return ",\n    ".join(parts) + f"""
    SELECT p.node, d3.deg AS degree, round(p.pr, 6) AS pagerank
    FROM pr{iters} p JOIN deg d3 ON p.node = d3.u"""


@_q(
    "dedup_graph_pagerank",
    f"""
    WITH {_minhash_sha_ctes()},
    e2 AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e2 GROUP BY u),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    {_pagerank_oracle(3)}
    """,
    "PageRank centrality over the MinHash near-dup candidate graph "
    "(3 power-method rounds, damping 0.85): the highest-rank node of a "
    "duplicate cluster is its most-connected variant — a principled "
    "canonical-document choice; iterate localCheckpoint'ed per round "
    "(the connected-components plan-doubling lesson), oracle unrolled "
    "CTE-per-iteration",
)
def q_dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import (
        graph_pagerank,
        minhash_lsh_candidates_sha,
    )

    d = table(spark, sf_dir, "documents")
    return graph_pagerank(minhash_lsh_candidates_sha(d), iters=3)


# Shared classifier CTEs: tokens -> sha256 feature buckets -> integer model
# weights -> per-doc exact-bigint sum (doc_id, n_tokens, s).  Used by both
# quality_classifier_score (the scores) and classifier_auc (the eval).
_CLS_CTES = f"""{_TOKPOS_SQL},
    h AS (SELECT doc_id, sha256(term) AS hx FROM t2),
    b AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS bucket
      FROM h
    ),
    wtd AS (
      SELECT doc_id,
             CAST((bucket * 2654435761) % 65536 - 32768 AS BIGINT) AS w_int
      FROM b
    ),
    cls_agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(w_int) AS BIGINT) AS s
      FROM wtd GROUP BY doc_id
    )"""


@_q(
    "classifier_auc",
    f"""
    WITH {_CLS_CTES},
    sc AS (
      SELECT doc_id,
             CAST(floor(CAST(s AS DOUBLE) / (CAST(32768 AS DOUBLE) * n_tokens)
                        * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
               AS si
      FROM cls_agg
    ),
    lab AS (
      SELECT sc.si, CAST(d.lang = 'en' AS INT) AS y
      FROM sc JOIN documents d USING (doc_id)
    ),
    hist AS (
      SELECT si, CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(1 - y) AS BIGINT) AS n_neg
      FROM lab GROUP BY si
    ),
    c AS (
      SELECT si, n_pos, n_neg,
             COALESCE(sum(n_neg) OVER (ORDER BY si
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS negs_below
      FROM hist
    ),
    t AS (
      SELECT CAST(sum(2 * n_pos * negs_below + n_pos * n_neg) AS BIGINT) AS u2,
             CAST(sum(n_pos) AS BIGINT) AS p,
             CAST(sum(n_neg) AS BIGINT) AS n
      FROM c
    )
    SELECT round(CAST(u2 AS DOUBLE) / (CAST(2 AS DOUBLE) * p * n), 6) AS auc,
           p AS n_pos, n AS n_neg
    FROM t
    """,
    "exact ROC-AUC (Mann-Whitney rank-sum) of the hashed linear classifier "
    "against an is-English relevance label — the retrain eval gate. Scores "
    "collapse to a (score, n_pos, n_neg) histogram before any ordering and "
    "the negatives-below prefix sum rides global_rank_cumsum (range-"
    "partitioned two-pass), so no unpartitioned window at any cardinality; "
    "exact bigint numerators, one final division",
)
def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import (
        exact_auc,
        hashed_linear_score,
        model_weights_table,
    )

    d = table(spark, sf_dir, "documents")
    scored = hashed_linear_score(d, model_weights_table(spark)).select(
        "doc_id", F.round(F.col("logit") * F.lit(1e6)).cast("long").alias("si")
    )
    labeled = scored.join(
        d.select("doc_id", (F.col("lang") == "en").cast("int").alias("y")), "doc_id"
    )
    return exact_auc(labeled, "si", "y")


@_q(
    "bitext_mine_margin",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    n AS (
      SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
    ),
    a AS (SELECT * FROM n WHERE vec_id % 2 = 0),
    b AS (SELECT * FROM n WHERE vec_id % 2 = 1),
    sc AS (
      SELECT a.vec_id AS qa, b.vec_id AS qb,
             CAST(round(CASE WHEN a.nrm * b.nrm = 0 THEN 0
                             ELSE list_sum(list_transform(range(1, len(a.e) + 1),
                                                          i -> a.e[i] * b.e[i]))
                                  / (a.nrm * b.nrm) END * 1000000) AS BIGINT) AS mc
      FROM a JOIN b ON true
    ),
    ra AS (SELECT qa, qb, mc, row_number() OVER (PARTITION BY qa
                 ORDER BY mc DESC, qb ASC) AS rk FROM sc),
    rb AS (SELECT qa, qb, mc, row_number() OVER (PARTITION BY qb
                 ORDER BY mc DESC, qa ASC) AS rk FROM sc),
    suma AS (SELECT qa, CAST(sum(mc) AS BIGINT) AS sa,
                    CAST(count(*) AS BIGINT) AS ka FROM ra WHERE rk <= 4 GROUP BY qa),
    sumb AS (SELECT qb, CAST(sum(mc) AS BIGINT) AS sb,
                    CAST(count(*) AS BIGINT) AS kb FROM rb WHERE rk <= 4 GROUP BY qb),
    bf AS (SELECT qa, qb, mc FROM ra WHERE rk = 1),
    bb AS (SELECT qa, qb FROM rb WHERE rk = 1),
    mutual AS (SELECT bf.* FROM bf JOIN bb ON bf.qa = bb.qa AND bf.qb = bb.qb)
    SELECT m.qa AS src_id, m.qb AS tgt_id,
           CAST(m.mc AS DOUBLE) / 1000000 AS cosine_sim,
           round((CAST(2 AS DOUBLE) * m.mc * suma.ka * sumb.kb)
                 / (suma.sa * sumb.kb + sumb.sb * suma.ka), 6) AS margin
    FROM mutual m JOIN suma ON m.qa = suma.qa JOIN sumb ON m.qb = sumb.qb
    """,
    "margin-based bitext mining (Artetxe & Schwenk: the CCMatrix/LASER "
    "parallel-pair harvest): mutual nearest neighbors between two embedding "
    "corpora scored by ratio margin — cosine over the mean of each side's "
    "top-4 neighborhood, cancelling hubness. Two cogrouped block-nested-"
    "loop top-k passes (no driver collect, IVF-swappable), exact bigint "
    "micro-cos margin arithmetic with one final division",
)
def q_bitext_mine_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.similarity import bitext_margin_mine

    emb = table(spark, sf_dir, "embeddings")
    side_a = emb.filter(F.col("vec_id") % 2 == 0)
    side_b = emb.filter(F.col("vec_id") % 2 == 1)
    return bitext_margin_mine(side_a, side_b, k=4)


@_q(
    "incremental_agg_refresh",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(round(value * 100)) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id
    """,
    "incremental materialized-aggregate maintenance: the stored per-user "
    "rollup (events before Jan 20, localCheckpoint'ed to stand in for the "
    "persisted MV — the base log is NOT rescanned) merged with the delta "
    "batch by monoid re-reduction; the oracle is the full recompute the "
    "refresh must equal. Refresh cost scales with |delta| + |keys|, not "
    "history; exact-integer cents",
)
def q_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import merge_agg_states

    ev = table(spark, sf_dir, "events").withColumn(
        "__cents", F.round(F.col("value") * 100).cast("long")
    )
    cutoff = F.lit("2024-01-20").cast("timestamp")

    def rollup(df):
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"), F.sum("__cents").alias("value_cents")
        )

    # the stored MV: aggregated once, pinned — downstream must not re-derive
    base = rollup(ev.filter(F.col("ts") < cutoff)).localCheckpoint(eager=False)
    # null event times are unroutable by the cutoff predicate (NULL < x is
    # NULL -> dropped by BOTH filters) — they ride the delta leg, so the
    # refresh still equals the full recompute the oracle runs
    delta = rollup(ev.filter((F.col("ts") >= cutoff) | F.col("ts").isNull()))
    return merge_agg_states(base, delta, ["user_id"])


@_q(
    "interval_overlap_sessions",
    """
    WITH l AS (
      SELECT user_id, CAST(ts AS DATE) AS l_day,
             CAST(min(epoch_us(ts)) AS BIGINT) AS l_start_us,
             CAST(max(epoch_us(ts)) AS BIGINT) AS l_end_us
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    r AS (
      SELECT user_id, CAST(ts AS DATE) AS r_day,
             CAST(min(epoch_us(ts)) AS BIGINT) AS r_start_us,
             CAST(max(epoch_us(ts)) AS BIGINT) AS r_end_us
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT l.user_id, CAST(l.l_day AS VARCHAR) AS l_day,
           CAST(r.r_day AS VARCHAR) AS r_day,
           l_start_us, l_end_us, r_start_us, r_end_us,
           least(l_end_us, r_end_us) - greatest(l_start_us, r_start_us)
             AS overlap_us
    FROM l JOIN r ON l.user_id = r.user_id
     AND l_start_us <= r_end_us AND r_start_us <= l_end_us
    """,
    "interval x interval overlap join (click bursts vs purchase bursts per "
    "user-day) via grid blocking: each interval fans out to the 6h buckets "
    "it covers, EQUI join on (user, bucket), exact predicate filter, and "
    "first-shared-bucket emission for exactly-once — O(local density), "
    "never the O(n*m) theta nested loop the oracle runs",
)
def q_interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.joins import interval_overlap_join

    ev = table(spark, sf_dir, "events")

    def bursts(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy(
                "user_id",
                F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            )
            .agg(
                F.min(F.unix_micros("ts")).alias("start_us"),
                F.max(F.unix_micros("ts")).alias("end_us"),
            )
        )

    res = interval_overlap_join(
        bursts("click"),
        bursts("purchase"),
        key="user_id",
        bucket_width_us=6 * 3_600_000_000,
    )
    return res.select(
        "user_id",
        "l_day",
        "r_day",
        F.col("l_start_us"),
        F.col("l_end_us"),
        F.col("r_start_us"),
        F.col("r_end_us"),
        "overlap_us",
    )


@_q(
    "rolling_7day_active_users",
    """
    WITH ud AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    cov AS (
      SELECT DISTINCT d.day AS as_of_day, u.user_id
      FROM ud u JOIN days d ON d.day BETWEEN u.day AND u.day + 6
    )
    SELECT CAST(as_of_day AS VARCHAR) AS as_of_day,
           CAST(count(*) AS BIGINT) AS n_active
    FROM cov GROUP BY 1
    """,
    "rolling 7-day distinct active users per observed day (the WAU "
    "denominator): (user, day) dedup first, bounded 7x fan-out of THAT "
    "frame to the as-of days each active day feeds, second pair dedup, "
    "count per day — exact sliding distinct with no per-day re-scan and "
    "no single-task window; the oracle's BETWEEN join is the O(days x "
    "users) form this replaces",
)
def q_rolling_7day_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.windows import rolling_distinct_active

    ev = table(spark, sf_dir, "events")
    res = rolling_distinct_active(ev, "ts", "user_id", window_days=7)
    return res.select(
        F.date_format("as_of_day", "yyyy-MM-dd").alias("as_of_day"), "n_active"
    )


@_q(
    "classifier_calibration",
    f"""
    WITH {_CLS_CTES},
    sc AS (
      SELECT doc_id,
             CAST(floor(CAST(s AS DOUBLE) / (CAST(32768 AS DOUBLE) * n_tokens)
                        * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
               AS si
      FROM cls_agg
    ),
    lab AS (
      SELECT sc.si,
             least(9, greatest(0, CAST(floor((CAST(sc.si AS DOUBLE) / 1000000
                                              - CAST(-1.0 AS DOUBLE)) / CAST(0.2 AS DOUBLE))
                                       AS INT))) AS bin,
             CAST(d.lang = 'en' AS INT) AS y
      FROM sc JOIN documents d USING (doc_id)
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(CAST(sum(si) AS DOUBLE) / count(*) / 1000000, 6) AS mean_score,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos
    FROM lab GROUP BY bin
    """,
    "reliability-diagram calibration bins for the hashed linear classifier "
    "(10 equal-width logit bins over [-1, 1]): per-bin count, mean score "
    "(exact bigint micro-score sum), and positive fraction — the companion "
    "read to classifier_auc; one groupBy on a 10-ary key, trivially "
    "broadcastable at any corpus size",
)
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import (
        calibration_bins,
        hashed_linear_score,
        model_weights_table,
    )

    d = table(spark, sf_dir, "documents")
    scored = hashed_linear_score(d, model_weights_table(spark)).join(
        d.select("doc_id", (F.col("lang") == "en").cast("int").alias("y")), "doc_id"
    )
    return calibration_bins(scored, "logit", "y", n_bins=10, lo=-1.0, hi=1.0)


@_q(
    "cdc_latest_state",
    """
    WITH ranked AS (
      SELECT user_id, event_type, ts, round(value * 100) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_type AS last_op,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           CAST(cents AS BIGINT) AS value_cents
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
    "CDC apply: materialize latest state from a changelog — per key the "
    "greatest (ts, event_id) row wins, delete tombstones ('error' here) "
    "erase the key. One shuffle on the key, per-key frame bounded by that "
    "key's change history; (ts, event_id) compound order so same-instant "
    "updates cannot tie-break nondeterministically",
)
def q_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import cdc_apply_latest

    ev = table(spark, sf_dir, "events")
    latest = cdc_apply_latest(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        op_col="event_type",
        delete_op="error",
    )
    return latest.select(
        "user_id",
        F.col("event_type").alias("last_op"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )


def _hex_int_sql(hx: str, start: int, n: int) -> str:
    """DuckDB SQL decoding `n` hex chars of expression `hx` (1-based
    `start`) into a BIGINT — DuckDB has no conv(); nibble-by-nibble
    strpos decode, the same trick the classifier oracle uses."""
    terms = [
        f"(strpos('0123456789abcdef', substr({hx}, {start + i}, 1)) - 1)"
        + (f" * {16 ** (n - 1 - i)}" if n - 1 - i > 0 else "")
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


_HLL_ALPHA_NUM = repr((0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 * float(1 << 52))


@_q(
    "hll_distinct_users",
    f"""
    WITH h AS (
      -- NULL keys excluded (matches the Spark side and COUNT(DISTINCT))
      SELECT sha256(CAST(user_id AS VARCHAR)) AS hx FROM events
      WHERE user_id IS NOT NULL
    ),
    rv AS (
      SELECT {_hex_int_sql('hx', 1, 2)} AS reg,
             {_hex_int_sql('hx', 3, 13)} AS v
      FROM h
    ),
    regs AS (
      -- rho capped at 52 (matches the Spark side): the v=0 register's
      -- 2^(52-53) contribution is fractional and would corrupt the exact
      -- bigint accumulator on both engines
      SELECT reg,
             max(CASE WHEN v = 0 THEN 52 ELSE 53 - length(bin(v)) END) AS M
      FROM rv GROUP BY reg
    ),
    stats AS (
      SELECT CAST(sum(CAST(1 AS BIGINT) << (52 - M)) AS BIGINT) AS zsum,
             CAST(count(*) AS BIGINT) AS nreg
      FROM regs
    ),
    est AS (
      SELECT CAST({_HLL_ALPHA_NUM} AS DOUBLE)
               / (zsum + (256 - nreg) * CAST({float(1 << 52)!r} AS DOUBLE)) AS raw,
             CAST(256 - nreg AS DOUBLE) AS zeros
      FROM stats
    ),
    fin AS (
      SELECT CASE WHEN raw < 640.0 AND zeros > 0
                  THEN 256.0 * ln(256.0 / zeros) ELSE raw END AS e
      FROM est
    )
    SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact,
           round(e, 4) AS estimate,
           round((e - (SELECT count(DISTINCT user_id) FROM events))
                 / (SELECT count(DISTINCT user_id) FROM events), 4) AS rel_error
    FROM fin
    """,
    "HyperLogLog distinct-user sketch (256 registers, sha256-derived so "
    "the oracle reproduces it bit-for-bit; production swaps xxhash64): "
    "register-wise MAX state merges across partitions/days without raw "
    "re-reads, harmonic mean on an exact bigint 2^(52-M) accumulator, "
    "linear-counting small-range correction; output pairs the estimate "
    "with the exact count for the evaluation read",
)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import hll_distinct

    ev = table(spark, sf_dir, "events")
    return hll_distinct(ev, "user_id", b=8)


@_q(
    "countmin_heavy_hitters",
    f"""
    WITH rows_ AS (
      -- NULL keys excluded on both engines: sha2(NULL) -> NULL bucket would
      -- silently drop a NULL-key top row at the probe join while the
      -- engines' NULL sort orders disagree on whether it enters the top-N
      SELECT user_id,
             {_hex_int_sql("sha256('0|' || CAST(user_id AS VARCHAR))", 1, 4)} % 1024 AS b0,
             {_hex_int_sql("sha256('1|' || CAST(user_id AS VARCHAR))", 1, 4)} % 1024 AS b1
      FROM events WHERE user_id IS NOT NULL
    ),
    s0 AS (SELECT b0, CAST(count(*) AS BIGINT) AS e0 FROM rows_ GROUP BY b0),
    s1 AS (SELECT b1, CAST(count(*) AS BIGINT) AS e1 FROM rows_ GROUP BY b1),
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact,
             arg_min(b0, user_id) AS b0, arg_min(b1, user_id) AS b1
      FROM rows_ GROUP BY user_id
    ),
    top AS (
      SELECT * FROM exact ORDER BY n_exact DESC, user_id ASC LIMIT 10
    )
    SELECT t.user_id, t.n_exact,
           least(s0.e0, s1.e1) AS estimate,
           least(s0.e0, s1.e1) - t.n_exact AS overcount
    FROM top t JOIN s0 ON t.b0 = s0.b0 JOIN s1 ON t.b1 = s1.b1
    """,
    "count-min sketch frequency estimates vs exact counts for the top-10 "
    "users: 2 x 1024 integer cells regardless of input size, cell-wise "
    "additive merge, min-over-rows point estimates that only ever "
    "overcount — the fixed-state answer when the key space outgrows a "
    "groupBy; sha256 row hashes keep the sketch oracle-reproducible",
)
def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import (
        countmin_heavy_hitters,
    )

    ev = table(spark, sf_dir, "events")
    return countmin_heavy_hitters(ev, "user_id", width=1024, depth=2, top_n=10)


@_q(
    "k_anonymity_audit",
    """
    SELECT c_mktsegment, c_nationkey,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS group_size
    FROM customer
    GROUP BY 1, 2, 3
    HAVING count(*) < 5
    """,
    "k-anonymity release audit (k=5) over the quasi-identifier tuple "
    "(segment, nation, account-balance band): every combination shared by "
    "fewer than k customers is linkable against outside data and must be "
    "suppressed/generalized before the dataset ships. Map-side-combined "
    "groupBy; output bounded by the RARE combinations only",
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.projections import k_anonymity_audit

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    return k_anonymity_audit(c, ["c_mktsegment", "c_nationkey", "bal_band"], k=5)


@_q(
    "join_size_from_histograms",
    """
    WITH a AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS na
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    b AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS nb
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT CAST(sum(a.na * b.nb) AS BIGINT) AS join_rows,
           CAST(count(*) AS BIGINT) AS matched_keys,
           CAST(max(a.na * b.nb) AS BIGINT) AS hottest_key_rows
    FROM a JOIN b USING (user_id)
    """,
    "join-size accounting from per-key histograms: |A ⋈ B| = Σ_k "
    "cntA(k)·cntB(k) computed WITHOUT materializing the join — the "
    "pre-flight a pipeline runs before an expensive equi-join to size "
    "shuffle partitions and spot the hottest key (skew salting "
    "decision). Two map-side-combined groupBys + a key-cardinality "
    "join; the oracle proves the arithmetic equals the real join",
)
def q_join_size_from_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")

    def hist(etype: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("user_id")
            .agg(F.count("*").alias(alias))
        )

    joined = hist("click", "na").join(hist("purchase", "nb"), "user_id")
    return joined.agg(
        F.sum(F.col("na") * F.col("nb")).alias("join_rows"),
        F.count("*").alias("matched_keys"),
        F.max(F.col("na") * F.col("nb")).alias("hottest_key_rows"),
    )


def _zorder_oracle() -> str:
    from wellmeet_data_pipeline_spark.operators.bucketing import (
        norm_to_grid_sql,
        zorder_bits_sql,
    )

    gx = norm_to_grid_sql("user_id", "xmin", "xmax", 8)
    gy = norm_to_grid_sql("cents", "ymin", "ymax", 8)
    z = zorder_bits_sql(gx, gy, 8)
    return f"""
    WITH e AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events
    ),
    rng AS (
      SELECT min(user_id) AS xmin, max(user_id) AS xmax,
             min(cents) AS ymin, max(cents) AS ymax
      FROM e
    )
    SELECT ({z}) >> 10 AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(user_id) AS BIGINT) AS x_min,
           CAST(max(user_id) AS BIGINT) AS x_max,
           CAST(min(cents) AS BIGINT) AS y_min,
           CAST(max(cents) AS BIGINT) AS y_max
    FROM e CROSS JOIN rng
    GROUP BY 1
    """


@_q(
    "zorder_layout_stats",
    _zorder_oracle(),
    "Z-order (Morton) layout audit over (user_id, value_cents): rows map "
    "onto a 256x256 equi-width grid (exact integer division), bits "
    "interleave into a Z value, and per Z-bucket min/max bounds show the "
    "TIGHT two-dimensional boxes that make parquet footer stats skip "
    "files under conjunctive predicates — the multi-column layout lever "
    "at 100 TB; the Spark plan and the oracle share ONE generated SQL "
    "expression for the interleave",
)
def q_zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.bucketing import zorder_bucket_stats

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return zorder_bucket_stats(ev, "user_id", "cents", bits=8, bucket_shift=10)


@_q(
    "dup_cluster_size_histogram",
    f"""
    WITH RECURSIVE {_minhash_sha_ctes()},
    e2 AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT u, u FROM e2
      UNION
      SELECT e.u, r.r FROM e2 e JOIN reach r ON e.v = r.node
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component
    )
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * (cluster_size - 1) AS BIGINT) AS removable_docs
    FROM sizes GROUP BY cluster_size
    """,
    "duplicate-cluster size distribution (the standard pre-dedup corpus "
    "report): connected components over the MinHash candidate graph → "
    "cluster sizes → histogram with per-size removable-doc counts (size-1 "
    "per cluster under keep-one) — the number that forecasts corpus "
    "shrinkage BEFORE committing the destructive pass. Star-contraction "
    "components + two tiny groupBys; oracle is the recursive-CTE fixpoint",
)
def q_dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidates_sha,
    )

    d = table(spark, sf_dir, "documents")
    comp = connected_components(minhash_lsh_candidates_sha(d))
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.count("*") * (F.col("cluster_size") - 1)).alias("removable_docs"),
    )


@_q(
    "bitext_mine_margin_ivf",
    None,
    "the SCALE tier of bitext_mine_margin: the two mutual-NN top-k passes "
    "run on two-sided IVF (index trained on each direction's candidate "
    "corpus) instead of the quadratic exact BNL — smoke-measured 26x "
    "cheaper at 64x with slope 0.55; approximate candidate source makes "
    "the pair set data-dependent (rows-only check), the margin arithmetic "
    "and the exact oracle-backed twin are unchanged.  Paired evidence: "
    "tests/test_round5_ops.py::"
    "test_bitext_margin_ivf_method_recovers_planted_pairs (IVF tier "
    "recovers the planted mutual-NN pairs the exact tier finds) next to "
    "the fully oracle-backed exact twin bitext_mine_margin",
)
def q_bitext_mine_margin_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.similarity import bitext_margin_mine

    emb = table(spark, sf_dir, "embeddings")
    side_a = emb.filter(F.col("vec_id") % 2 == 0)
    side_b = emb.filter(F.col("vec_id") % 2 == 1)
    return bitext_margin_mine(side_a, side_b, k=4, method="ivf", nprobe=4)


@_q(
    "hll_distinct_by_type",
    f"""
    WITH h AS (
      SELECT event_type, sha256(CAST(user_id AS VARCHAR)) AS hx FROM events
      WHERE user_id IS NOT NULL
    ),
    rv AS (
      SELECT event_type,
             {_hex_int_sql('hx', 1, 2)} AS reg,
             {_hex_int_sql('hx', 3, 13)} AS v
      FROM h
    ),
    regs AS (
      SELECT event_type, reg,
             max(CASE WHEN v = 0 THEN 52 ELSE 53 - length(bin(v)) END) AS M
      FROM rv GROUP BY event_type, reg
    ),
    stats AS (
      SELECT event_type,
             CAST(sum(CAST(1 AS BIGINT) << (52 - M)) AS BIGINT) AS zsum,
             CAST(count(*) AS BIGINT) AS nreg
      FROM regs GROUP BY event_type
    ),
    est AS (
      SELECT event_type,
             CAST({_HLL_ALPHA_NUM} AS DOUBLE)
               / (zsum + (256 - nreg) * CAST({float(1 << 52)!r} AS DOUBLE)) AS raw,
             CAST(256 - nreg AS DOUBLE) AS zeros
      FROM stats
    ),
    fin AS (
      SELECT event_type,
             CASE WHEN raw < 640.0 AND zeros > 0
                  THEN 256.0 * ln(256.0 / zeros) ELSE raw END AS e
      FROM est
    ),
    ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT f.event_type, ex.n_exact, round(f.e, 4) AS estimate,
           round((f.e - ex.n_exact) / ex.n_exact, 4) AS rel_error
    FROM fin f JOIN ex ON f.event_type IS NOT DISTINCT FROM ex.event_type
    """,
    "per-group HyperLogLog distinct users by event_type — the mergeable-"
    "rollup shape in action: each group's 256-register frame is the "
    "rollup unit that later MAX-merges into coarser periods without "
    "touching raw data; same exact-bigint harmonic accumulator and "
    "linear-counting correction as the global sketch",
)
def q_hll_distinct_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import hll_distinct

    ev = table(spark, sf_dir, "events")
    return hll_distinct(ev, "user_id", b=8, group_cols=["event_type"])


@_q(
    "decayed_user_value",
    """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(sum(round(value * 100)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT max(day) AS mday FROM d),
    wtd AS (
      SELECT user_id,
             cents,
             CAST(floor(pow(0.9, date_diff('day', day, mday))
                        * 1000000000 + 0.5) AS BIGINT) AS w9
      FROM d CROSS JOIN mx
    )
    SELECT user_id,
           CAST(sum(cents * w9) AS BIGINT) AS decayed_micro,
           round(CAST(sum(cents * w9) AS DOUBLE) / 1000000000 / 100, 2)
             AS decayed_value
    FROM wtd GROUP BY user_id
    """,
    "time-decayed per-user value (0.9^age_days half-life weighting — the "
    "recency-weighted LTV / hot-user score every analytics stack keeps): "
    "day-grain exact-cent sums first, then ONE decay weight per distinct "
    "age snapped to a 1e-9 integer grid, so the weighted sum is an exact "
    "bigint regardless of aggregation order; the lone pow() carries the "
    "same measure-zero 1-ulp caveat as ln()/exp() elsewhere",
)
def q_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    mx = d.agg(F.max("day").alias("mday"))
    wtd = d.crossJoin(F.broadcast(mx)).withColumn(
        "w9",
        F.floor(
            F.pow(F.lit(0.9), F.datediff(F.col("mday"), F.col("day")))
            * F.lit(1_000_000_000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    micro = F.sum(F.col("cents") * F.col("w9"))
    return wtd.groupBy("user_id").agg(
        micro.alias("decayed_micro"),
        F.round(micro / F.lit(1_000_000_000.0) / F.lit(100.0), 2).alias(
            "decayed_value"
        ),
    )


