"""Adversarial oracle-parity regression: build the hostile fixture
(vertical tabs, empty/whitespace-only/NULL text, null lang/source/
user_id, negative and zero money, zero vectors) and require the queries
that have EVER diverged on it to still hash-match their oracles.

The full hostile sweep lives in tools/hostile_fixture.py (run it after
oracle-surface changes); this test pins the historical failure set at
pytest cost."""

from __future__ import annotations

import math

import duckdb
import pytest

from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

# every query that failed a hostile run during round 5, plus the two
# round-4 driver casualties
SENTINELS = [
    "pack_sequences",
    "corpus_end_to_end",
    "weighted_sample_docs",
    "corpus_datacard",
    "text_token_stats",
    "text_quality_score",
    "gopher_quality_rules",
    "line_dedup_global",
    "dup_line_stats",
    "tokenizer_fertility",
    "semdedup_survivors",
    "embedding_label_outliers",
    "length_curriculum",
    # round-10 text-normalization-heavy additions: never failed, but they
    # sit on the exact surfaces (\s-class whitespace, empty/NULL text,
    # token-count guards) that every historical hostile failure came from
    "ttr_lexical_diversity",
    "winnowing_fingerprints",
    "span_corruption_plan",
    "min_k_prob_score",
    # round-12 degenerate-group injection (fixture now forces a 1-row
    # group, a zero-variance group, and an all-NULL-value group into
    # events.event_type): the one-way k-sample tests passed on first
    # contact, pinned here so the edges stay exercised at pytest cost
    "event_anova_f",
    "event_levene_bf",
    "event_kruskal_wallis",
    "event_winsorized_mean",
    # failed the r12 hostile sweep: the zero-variance '__constval__'
    # group made the bare (x - mu)/sigma an ANSI DIVIDE_BY_ZERO; fixed
    # with try_divide/nullif (NULL z for zero-sd groups) and pinned
    "zscore_by_type",
    # round-13 time-series corner injection (fixture now forces a
    # constant daily series, a 1-day series, a gap-heavy series, and a
    # 4-day series shorter than the 7-lag ACF window into the daily
    # event_type frame): event_acf_portmanteau failed on first contact
    # (zero-variance Pearson denominator = ANSI DIVIDE_BY_ZERO; fixed
    # with try_divide matching DuckDB's NULL-on-zero-divide), the trend
    # trio passed — all five pinned so the edges stay exercised
    "daily_revenue_mann_kendall",
    "daily_revenue_theil_sen",
    "daily_revenue_runs_test",
    "event_acf_portmanteau",
    "daily_revenue_acf",
    # the injected all-zero vectors score 0/0 against every neighbor:
    # the oracle ranks those NULL scores last (ties by id), and the tile
    # kernel used to cut every query's list short at them
    "cosine_topk_bruteforce",
    "hybrid_rrf_topk",
]


def test_degenerate_groups_present(hostile_dir):
    """The r12 degenerate-group injection must survive fixture edits:
    exactly one '__singleton__' row, '__constval__' all one value,
    '__allnull__' with zero valid values."""
    con = duckdb.connect()
    rows = dict(
        (r[0], r[1:])
        for r in con.execute(
            f"""SELECT event_type, count(*), count(value),
                       count(DISTINCT value)
                FROM '{hostile_dir}/events.parquet'
                WHERE event_type IN ('__singleton__', '__constval__',
                                     '__allnull__')
                GROUP BY 1"""
        ).fetchall()
    )
    assert rows["__singleton__"][0] == 1
    assert rows["__constval__"][0] > 1 and rows["__constval__"][2] == 1
    assert rows["__allnull__"][0] > 1 and rows["__allnull__"][1] == 0


def test_timeseries_corners_present(hostile_dir):
    """The r13 time-series corner injection must survive fixture edits:
    __constdaily__ has one event per unique day and ONE distinct daily
    total; __oneday__ sits on a single calendar day; __gappy__ spans
    multi-year gaps with every pair gap under Theil-Sen's documented
    di < 4096 floor-exactness bound; __shortdense__ is dense but
    shorter than the 7-lag ACF window."""
    con = duckdb.connect()
    daily = con.execute(
        f"""SELECT event_type,
                   count(DISTINCT CAST(ts AS DATE)) AS n_days,
                   count(DISTINCT dv) AS n_totals,
                   max(CAST(ts AS DATE)) - min(CAST(ts AS DATE)) AS span
            FROM (SELECT event_type, ts,
                         sum(CAST(round(value * 100) AS BIGINT))
                           OVER (PARTITION BY event_type, CAST(ts AS DATE))
                           AS dv
                  FROM '{hostile_dir}/events.parquet'
                  WHERE ts IS NOT NULL AND value IS NOT NULL)
            WHERE event_type IN ('__constdaily__', '__oneday__',
                                 '__gappy__', '__shortdense__')
            GROUP BY 1"""
    ).fetchall()
    rows = {r[0]: r[1:] for r in daily}
    n_days, n_totals, _ = rows["__constdaily__"]
    assert n_days > 2 and n_totals == 1
    assert rows["__oneday__"][0] == 1
    g_days, _, g_span = rows["__gappy__"]
    assert g_days > 2 and g_span > 365 and g_span < 4096
    s_days, _, s_span = rows["__shortdense__"]
    assert 1 < s_days <= 4 and s_span <= 3


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    from tools.hostile_fixture import build

    out = str(tmp_path_factory.mktemp("hostile"))
    build("/root/testdata/sf0.001", out)
    return out


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.9g}"
    return str(v)


@pytest.mark.parametrize("name", SENTINELS)
def test_hostile_oracle_parity(spark, hostile_dir, name):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{hostile_dir}/{t}.parquet'"
        )
    spec = REGISTRY[name]
    sp = spec.fn(spark, hostile_dir).toPandas()
    op = con.execute(spec.oracle).df()
    cols = sorted(sp.columns)
    assert cols == sorted(op.columns)
    a = sorted(
        tuple(_norm(v) for v in r)
        for r in sp[cols].itertuples(index=False, name=None)
    )
    b = sorted(
        tuple(_norm(v) for v in r)
        for r in op[cols].itertuples(index=False, name=None)
    )
    assert a == b, f"{name}: first diffs {[x for x in zip(a, b) if x[0] != x[1]][:3]}"
