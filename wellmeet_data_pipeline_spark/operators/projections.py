"""Projection / filter / validation operators (SURVEY.md §2.3 P1-P8).

All select/withColumn/fillna — pure narrow transformations that Catalyst
collapses into the scan projection, so every one of these is 'free' at
100 TB (no shuffle, columns pruned at the parquet reader).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.functions.text import cast_with_default, review_surrogate_id


def project_review(df: DataFrame) -> DataFrame:
    """P1 (review-crawler/naver_crawler.py:179-210): raw review fields ->
    canonical 5-column review row with the reference's defaults
    (author->'익명' :182-183, content->'' :194-195) and the sha256 surrogate
    id (:172-177)."""
    author = F.coalesce(F.col("author"), F.lit("익명"))
    content = F.coalesce(F.col("content"), F.lit(""))
    return df.select(
        review_surrogate_id(author, content, F.col("visit_date")).alias("id"),
        F.col("place_id"),
        author.alias("author"),
        content.alias("content"),
        F.col("visit_date"),
    )


def project_review_api_payload(df: DataFrame) -> DataFrame:
    """P3 (save-reviews/lambda_function.py:69-73): rename + cast projection
    {place_id->restaurantId:long, content, id->hash}; non-numeric place_id
    falls back to 0 like int(review.get('place_id', 0)) would raise->skip —
    we keep the row with the default (F5)."""
    return df.select(
        cast_with_default("place_id").alias("restaurantId"),
        F.coalesce(F.col("content"), F.lit("")).alias("content"),
        F.col("id").alias("hash"),
    )


def require_fields(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """P4 (submit-aws-batch-lambda/lambda_function.py:114-116): keep rows with
    every required field present."""
    cond: Column = F.lit(True)
    for f in fields:
        cond = cond & F.col(f).isNotNull()
    return df.filter(cond)


def fill_rds_defaults(df: DataFrame) -> DataFrame:
    """P7 (review-crawler/restaurant_save.py:94-114): null-coalescing defaults
    before the RDS insert: address->'', latitude/longitude->0; thumbnail
    stays nullable (:111-113)."""
    return df.fillna({"address": "", "latitude": 0.0, "longitude": 0.0})


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int,
) -> DataFrame:
    """Re-identification audit before a dataset release: every
    quasi-identifier combination shared by FEWER than k rows is a
    k-anonymity violation (those rows are linkable by joining the quasi
    columns against any outside table).  Returns the violating groups
    with their sizes — the rows a release pipeline must suppress or
    generalize.

    One map-side-combined groupBy on the quasi tuple; output is bounded
    by the number of RARE combinations, which is what makes the audit
    cheap at 100 TB (the frequent groups — the overwhelming mass —
    never leave the aggregation)."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count("*").alias("group_size"))
        .filter(F.col("group_size") < k)
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l: int,
) -> DataFrame:
    """The companion release audit to k_anonymity_audit: a group can be
    k-anonymous yet still leak — if every row in a quasi-identifier
    group shares the SAME sensitive value, linking any member reveals
    it.  Flags groups whose sensitive attribute carries fewer than l
    distinct (non-null) values, with group size and the distinct count.

    Same scale shape as the k audit: one groupBy on the quasi tuple
    (count-distinct adds a partial-aggregation pass), output bounded by
    the homogeneous groups only."""
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count("*").alias("group_size"),
            F.count_distinct(F.col(sensitive_col)).alias("distinct_sensitive"),
        )
        .filter(F.col("distinct_sensitive") < l)
    )


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    t_micro: int,
) -> DataFrame:
    """The third release audit after k_anonymity_audit and
    l_diversity_audit: a group can be k-anonymous AND l-diverse yet
    still leak if its sensitive-value DISTRIBUTION differs sharply from
    the table's (the attacker learns "this group skews rich").
    t-closeness (Li et al., ICDE'07) bounds the Earth Mover's Distance
    between each quasi-identifier group's sensitive distribution and
    the global one; for an ORDERED attribute over an m-value domain,

      EMD(P, Q) = sum_{i=1}^{m-1} |cumP_i - cumQ_i| / (m - 1).

    Exactness: with c_i the group's count at domain value i (n total)
    and C_i the global count (N total), |cumP - cumQ| at value i is
    |cum_c * N - cum_C * n| / (n * N) — one exact BIGINT bilinear form
    per (group, domain value); the sum closes in doubles at the final
    projection and micro-snaps.  Flags groups with emd_micro > t_micro.

    Scale shape: group histograms aggregate map-side; the cumulative
    walk runs on the (groups x domain) grid — domain is the sensitive
    attribute's distinct values, which the caller bands upstream
    (bal_band-style) exactly as for the k/l audits, so the grid is
    bounded regardless of row count."""
    gcols = [F.col(c) for c in quasi_cols]
    d = df.filter(F.col(sensitive_col).isNotNull())
    # per-(group, value) and global-(value) histograms
    gh = d.groupBy(*quasi_cols, sensitive_col).agg(
        F.count("*").cast("long").alias("__c")
    )
    dom = d.groupBy(sensitive_col).agg(F.count("*").cast("long").alias("__cg"))
    groups = d.groupBy(*quasi_cols).agg(F.count("*").cast("long").alias("__n"))
    tot = d.agg(
        F.count("*").cast("long").alias("__nn"),
        F.count_distinct(F.col(sensitive_col)).cast("long").alias("__m"),
    )
    # full (group x domain) grid so missing values contribute 0 increment
    grid = (
        groups.crossJoin(F.broadcast(dom))
        .join(gh, [*quasi_cols, sensitive_col], "left")
        .na.fill({"__c": 0})
    )
    wcum = (
        Window.partitionBy(*gcols)
        .orderBy(F.col(sensitive_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        *quasi_cols,
        sensitive_col,
        "__n",
        F.sum("__c").over(wcum).cast("long").alias("__cum_c"),
        F.sum("__cg").over(wcum).cast("long").alias("__cum_g"),
    ).crossJoin(F.broadcast(tot))
    # drop the last domain value: both cumulatives are 1 there by
    # construction (the EMD sum runs to m-1)
    steps = (
        cum.withColumn("__r", F.row_number().over(
            Window.partitionBy(*gcols).orderBy(F.col(sensitive_col).asc())
        ))
        .filter(F.col("__r") < F.col("__m"))
        .select(
            *quasi_cols,
            "__n",
            "__nn",
            "__m",
            F.abs(
                F.col("__cum_c") * F.col("__nn") - F.col("__cum_g") * F.col("__n")
            ).cast("long").alias("__num"),
        )
    )
    return (
        steps.groupBy(*quasi_cols, "__n", "__nn", "__m")
        .agg(F.sum("__num").cast("long").alias("__s"))
        .select(
            *quasi_cols,
            F.col("__n").alias("group_size"),
            F.floor(
                F.col("__s").cast("double")
                / (F.col("__n").cast("double") * F.col("__nn").cast("double"))
                / (F.col("__m").cast("double") - F.lit(1.0))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("long").alias("emd_micro"),
        )
        .filter(F.col("emd_micro") > t_micro)
    )
