"""Registry queries, round-12 wave: time-series trend/randomness tests
(Mann-Kendall, Theil-Sen, Wald-Wolfowitz runs), session-path Markov
transitions, Neyman stratified-sampling allocation, the t-closeness
release audit (completing the k-anonymity / l-diversity family),
integer PageRank over the near-dup graph, query-likelihood Dirichlet
retrieval (the LM sibling of BM25), and the SFT loss-mask budget plan.

See the package facade plans/queries.py for the registry contract and
queries_core.py's header for the exactness conventions every oracle
pair here follows (micro-grid snaps, BIGINT moments, no raw \\s)."""

from __future__ import annotations

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.plans.queries_core import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _NORM_SQL,
    _minhash_sha_ctes,
    _q,
    table,
)
from wellmeet_data_pipeline_spark.plans.queries_retrieval import (  # noqa: F401
    _CONV_SQL,
    _RETRIEVAL_QT_VALUES,
    _RETRIEVAL_QUERIES,
    _conv_frame,
)
from wellmeet_data_pipeline_spark.plans.queries_stats import _EVENT_CENTS_SQL


# ---------------------------------------------------------------------------
# Daily event-type cents series (the daily_revenue_acf frame, shared by
# the three time-series tests below).  Rows with NULL type/ts/value are
# dropped BEFORE the day aggregation on both sides, so a day whose every
# value is NULL vanishes rather than carrying a NULL total.
# ---------------------------------------------------------------------------

_DAILY_SQL = f"""
    d AS (
      SELECT event_type AS g,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS di,
             CAST(sum({_EVENT_CENTS_SQL}) AS BIGINT) AS v
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2
    )"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    return ev.groupBy(
        F.col("event_type"), F.unix_date(F.to_date("ts")).cast("long").alias("di")
    ).agg(F.sum(F.round(F.col("value") * 100, 0)).cast("long").alias("v"))


@_q(
    "daily_revenue_mann_kendall",
    f"""
    WITH {_DAILY_SQL},
    p AS (
      SELECT a.g,
             CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
      FROM d a JOIN d b ON b.g = a.g AND b.di > a.di
    ),
    s AS (SELECT g, CAST(sum(sgn) AS BIGINT) AS s FROM p GROUP BY 1),
    n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
    t AS (
      SELECT g, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tv
      FROM (SELECT g, v, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT n.g AS event_type, n.n AS n_periods, s.s AS s_stat,
           CAST(floor(CAST(s.s AS DOUBLE)
                / nullif(sqrt((CAST(n.n * (n.n - 1) // 2 AS DOUBLE)
                               - CAST(t.n1 AS DOUBLE))
                              * CAST(n.n * (n.n - 1) // 2 AS DOUBLE)), 0)
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
             AS tau_b_micro,
           CAST(floor((CASE WHEN s.s > 0 THEN CAST(s.s AS DOUBLE) - 1
                            WHEN s.s < 0 THEN CAST(s.s AS DOUBLE) + 1
                            ELSE CAST(0 AS DOUBLE) END)
                / nullif(sqrt((CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1)
                               * (2 * CAST(n.n AS DOUBLE) + 5)
                               - CAST(t.tv AS DOUBLE)) / 18), 0)
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
             AS z_micro
    FROM n JOIN s ON s.g = n.g JOIN t ON t.g = n.g
    """,
    "tie-corrected Mann-Kendall monotone-trend test of each event "
    "type's daily cents total (S from exact pairwise sign sums over the "
    "calendar-bounded day-pair frame, tau-b and the continuity-corrected "
    "z closed in doubles from BIGINT tie sums and micro-snapped) — the "
    "'is this metric drifting' read next to cusum_changepoint's 'where "
    "did it jump'.  Single-day groups drop on both sides (no pairs)",
)
def q_daily_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.stats import mann_kendall_by_group

    return mann_kendall_by_group(
        _daily_cents(spark, sf_dir), "event_type", "di", "v"
    )


@_q(
    "daily_revenue_theil_sen",
    f"""
    WITH {_DAILY_SQL},
    p AS (
      SELECT a.g,
             CAST(floor(CAST((b.v - a.v) * 1000000 AS DOUBLE)
                        / CAST(b.di - a.di AS DOUBLE)) AS BIGINT) AS sl
      FROM d a JOIN d b ON b.g = a.g AND b.di > a.di
    ),
    r AS (
      SELECT g, sl,
             row_number() OVER (PARTITION BY g ORDER BY sl ASC) AS rk,
             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS np
      FROM p
    )
    SELECT g AS event_type, np AS n_pairs, sl AS slope_micro
    FROM r WHERE rk = (np + 1) // 2
    """,
    "Theil-Sen robust trend slope per event type: the lower median of "
    "all pairwise day-slopes (cents/day on the micro grid; each slope "
    "one exact floor — the quotient sits >= 1/365 from integer "
    "boundaries while the double error is ~1e-4 ulp, so both engines "
    "floor identically).  The outlier-proof companion to "
    "brand_price_regression's OLS slope",
)
def q_daily_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.stats import theil_sen_by_group

    return theil_sen_by_group(_daily_cents(spark, sf_dir), "event_type", "di", "v")


@_q(
    "daily_revenue_runs_test",
    f"""
    WITH {_DAILY_SQL},
    h AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
    cw AS (
      SELECT g, v, c,
             sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS cum,
             sum(c) OVER (PARTITION BY g) AS n
      FROM h
    ),
    med AS (SELECT g, min(v) AS med FROM cw WHERE cum >= (n + 1) // 2 GROUP BY 1),
    sg AS (
      SELECT d.g, d.di, CASE WHEN d.v > m.med THEN 1 ELSE -1 END AS sgn
      FROM d JOIN med m ON m.g = d.g WHERE d.v <> m.med
    ),
    rn AS (
      SELECT g, sgn,
             CASE WHEN lag(sgn) OVER (PARTITION BY g ORDER BY di ASC)
                       IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS new_run
      FROM sg
    ),
    m2 AS (
      SELECT g,
             CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
             CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
             CAST(sum(new_run) AS BIGINT) AS n_runs
      FROM rn GROUP BY 1
    )
    SELECT g AS event_type, n_above, n_below, n_runs,
           CAST(floor((CAST(n_runs AS DOUBLE)
                 - (2 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                    / nullif(CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE), 0)
                    + 1))
                / nullif(sqrt(
                    2 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                    * (2 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                       - CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE))
                    / nullif((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                             * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                             * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)
                                - 1), 0)), 0)
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
             AS z_micro
    FROM m2
    """,
    "Wald-Wolfowitz runs test of each event type's daily cents series: "
    "above/below-median signs (exact lower median off the value "
    "histogram, equal-to-median days dropped — the standard convention), "
    "runs counted with one calendar-bounded lag, z from the exact "
    "(n_above, n_below, n_runs) integers.  Catches streaky/oscillating "
    "residuals the mean-level tests miss",
)
def q_daily_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.stats import runs_test_by_group

    return runs_test_by_group(_daily_cents(spark, sf_dir), "event_type", "di", "v")


@_q(
    "event_markov_transitions",
    """
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS o, event_id, event_type
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    ),
    t AS (
      SELECT event_type AS from_state,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY o ASC, event_id ASC) AS to_state
      FROM s
    ),
    c AS (
      SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n_trans
      FROM t WHERE to_state IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_state, to_state, n_trans,
           CAST(n_trans * 1000000
                // sum(n_trans) OVER (PARTITION BY from_state) AS BIGINT)
             AS p_micro
    FROM c
    """,
    "first-order Markov transition matrix over per-user event "
    "sequences ('after a click, what happens next' — the session-path "
    "read behind funnel design): per-user lead() ordered by microsecond "
    "timestamp with event_id tie-break (Spark reads the nanos parquet "
    "truncated to micros, so the oracle orders by epoch_us too), counts "
    "row-normalized on the exact integer grid.  Transition matrix is "
    "|states|^2-bounded; the ordering window is per-user-bounded",
)
def q_event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.stats import markov_transition_probs

    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    return markov_transition_probs(
        ev, "user_id", F.unix_micros(F.col("ts")), "event_type", tiebreak_col="event_id"
    )


@_q(
    "stratified_sample_plan",
    f"""
    WITH m AS (
      SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
      FROM (SELECT event_type, {_EVENT_CENTS_SQL} AS c FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL)
      GROUP BY 1
    ),
    w AS (
      SELECT g, n,
             coalesce(CAST(floor(CAST(n AS DOUBLE)
               * sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / nullif(CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) - 1), 0))
               + CAST(0.5 AS DOUBLE)) AS BIGINT), 0) AS w
      FROM m
    ),
    t AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM w)
    SELECT g AS event_type, n AS n_rows, w AS weight_scaled,
           CAST(CAST(1000 AS BIGINT) * w // greatest(wt, 1) AS BIGINT) AS alloc_n
    FROM w CROSS JOIN t
    """,
    "Neyman-optimal stratified sampling allocation of a 1000-row "
    "labeling budget across event types (n_h proportional to N_h * S_h "
    "from exact BIGINT moments; the per-stratum weight micro-snapped "
    "BEFORE the cross-stratum sum so summation order cannot move it; "
    "the allocation closes on the integer grid with floor division) — "
    "the sample-design planner next to ab_sample_size_plan",
)
def q_stratified_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.stats import neyman_allocation_plan

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    return neyman_allocation_plan(
        ev, "event_type", F.round(F.col("value") * 100, 0).cast("long"), 1000
    )


@_q(
    "t_closeness_audit",
    """
    WITH c0 AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS sv
      FROM customer WHERE c_acctbal IS NOT NULL
    ),
    gh AS (SELECT c_mktsegment, c_nationkey, sv, CAST(count(*) AS BIGINT) AS c
           FROM c0 GROUP BY 1, 2, 3),
    dom AS (SELECT sv, CAST(count(*) AS BIGINT) AS cg FROM c0 GROUP BY 1),
    grp AS (SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS n
            FROM c0 GROUP BY 1, 2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
                   CAST(count(DISTINCT sv) AS BIGINT) AS m FROM c0),
    grid AS (
      SELECT g.c_mktsegment, g.c_nationkey, g.n, d.sv, d.cg,
             coalesce(h.c, 0) AS c
      FROM grp g CROSS JOIN dom d
      LEFT JOIN gh h ON h.c_mktsegment = g.c_mktsegment
                    AND h.c_nationkey = g.c_nationkey AND h.sv = d.sv
    ),
    cum AS (
      SELECT c_mktsegment, c_nationkey, n,
             sum(c) OVER (PARTITION BY c_mktsegment, c_nationkey
                          ORDER BY sv ROWS UNBOUNDED PRECEDING) AS cum_c,
             sum(cg) OVER (PARTITION BY c_mktsegment, c_nationkey
                           ORDER BY sv ROWS UNBOUNDED PRECEDING) AS cum_g,
             row_number() OVER (PARTITION BY c_mktsegment, c_nationkey
                                ORDER BY sv ASC) AS r
      FROM grid
    ),
    st AS (
      SELECT c_mktsegment, c_nationkey, n, nn, m,
             CAST(abs(cum_c * nn - cum_g * n) AS BIGINT) AS num
      FROM cum CROSS JOIN tot WHERE r < m
    ),
    e AS (
      SELECT c_mktsegment, c_nationkey, n, nn, m, CAST(sum(num) AS BIGINT) AS s
      FROM st GROUP BY 1, 2, 3, 4, 5
    ),
    f AS (
      SELECT c_mktsegment, c_nationkey, n AS group_size,
             CAST(floor(CAST(s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE))
                  / (CAST(m AS DOUBLE) - CAST(1.0 AS DOUBLE))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
               AS emd_micro
      FROM e
    )
    SELECT * FROM f WHERE emd_micro > 50000
    """,
    "t-closeness release audit (t=0.05) over the (segment, nation) "
    "quasi-identifier groups vs the balance-band sensitive attribute — "
    "the third privacy gate after k_anonymity_audit and "
    "l_diversity_audit: ordered-attribute Earth Mover's Distance as the "
    "mean |cumP - cumQ| over the banded domain, every step one exact "
    "BIGINT bilinear form, one double close + micro snap per group.  "
    "Grid is (groups x domain)-bounded, never row-bounded",
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.projections import t_closeness_audit

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    return t_closeness_audit(
        c, ["c_mktsegment", "c_nationkey"], "bal_band", t_micro=50_000
    )


def _pagerank_oracle(iters: int) -> str:
    g = 1_000_000_000_000
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""it{k} AS MATERIALIZED (
      SELECT e.v AS u, CAST(sum((85 * p.pr) // (100 * p.deg)) AS BIGINT) AS im
      FROM e2 e JOIN pr{k - 1} p ON p.u = e.u GROUP BY 1
    ),
    pr{k} AS MATERIALIZED (
      SELECT p.u, p.deg, p.n,
             CAST((15 * CAST({g} AS BIGINT)) // (100 * p.n)
                  + coalesce(i.im, 0) AS BIGINT) AS pr
      FROM pr{k - 1} p LEFT JOIN it{k} i ON i.u = p.u
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_minhash_sha_ctes()},
    e2 AS MATERIALIZED (
      SELECT id_a AS u, id_b AS v FROM pairs WHERE id_a <> id_b
      UNION ALL
      SELECT id_b, id_a FROM pairs WHERE id_a <> id_b
    ),
    deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e2 GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    pr0 AS MATERIALIZED (
      SELECT u, deg, n, CAST(CAST({g} AS BIGINT) // n AS BIGINT) AS pr
      FROM deg CROSS JOIN nn
    ),
    {chain}
    SELECT u AS node, pr AS pr_micro12 FROM pr{iters}
    """


@_q(
    "dup_graph_pagerank",
    _pagerank_oracle(4),
    "4-iteration PageRank over the MinHash-LSH near-dup graph, computed "
    "entirely on a 1e-12 BIGINT grid (damping 85/100 by integer floor "
    "division, which Spark div and DuckDB // evaluate identically on "
    "non-negative operands) so the SQL oracle unrolls the IDENTICAL "
    "iterations — centrality ranks template/boilerplate hubs the "
    "cluster-survivor logic should not crown canonical.  Joins the "
    "dup-graph family on the shared sha edge frame; per-iteration cost "
    "is one edge join + one groupBy, shuffle-linear in edges",
)
def q_dup_graph_pagerank(
    spark: SparkSession, sf_dir: str, shared_lsh_edges: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates_sha,
        pagerank_integer,
    )

    d = table(spark, sf_dir, "documents")
    edges = (
        shared_lsh_edges
        if shared_lsh_edges is not None
        else minhash_lsh_candidates_sha(d)
    )
    return pagerank_integer(edges, iters=4)


@_q(
    "qld_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term FROM documents
    ),
    tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tk GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    qt(query_id, term) AS (VALUES {_RETRIEVAL_QT_VALUES}),
    cf AS (
      SELECT term, CAST(sum(tf) AS BIGINT) AS cf
      FROM tf JOIN (SELECT DISTINCT term FROM qt) USING (term) GROUP BY 1
    ),
    tot AS (SELECT CAST(coalesce(sum(dl), 0) AS BIGINT) AS total_tok FROM dl),
    nq AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_q
      FROM qt JOIN cf USING (term) GROUP BY 1
    ),
    mt AS (
      SELECT qt.query_id, tf.doc_id,
             CAST(floor(ln(CAST(1 AS DOUBLE)
                   + CAST(tf.tf * t.total_tok AS DOUBLE)
                     / CAST(2000 * cf.cf AS DOUBLE))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
               AS mi
      FROM qt JOIN tf USING (term) JOIN cf USING (term) CROSS JOIN tot t
    ),
    ms AS (SELECT query_id, doc_id, CAST(sum(mi) AS BIGINT) AS mtc
           FROM mt GROUP BY 1, 2),
    sc AS (
      SELECT ms.query_id, ms.doc_id,
             CAST(ms.mtc + nq.n_q
                  * CAST(floor(ln(CAST(2000 AS DOUBLE)
                                  / CAST(dl.dl + 2000 AS DOUBLE))
                       * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                    AS BIGINT) AS BIGINT) AS score_int
      FROM ms JOIN dl USING (doc_id) JOIN nq USING (query_id)
    )
    SELECT CAST(query_id AS INTEGER) AS query_id, doc_id,
           CAST(score_int AS DOUBLE) / CAST(1000000 AS DOUBLE) AS score,
           CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT query_id, doc_id, score_int,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_int DESC, doc_id ASC) AS rnk
      FROM sc)
    WHERE rnk <= 10
    """,
    "query-likelihood Dirichlet-smoothed retrieval top-10 (Zhai-"
    "Lafferty, mu=2000) — the language-modeling ranking tier next to "
    "bm25_topk, from the SAME one-pass token index: sparse matched "
    "term-likelihoods plus a length-only Dirichlet term, each ln "
    "micro-snapped BEFORE the BIGINT sum (the bm25 idf discipline), "
    "candidates = docs sharing >= 1 query term",
)
def q_qld_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.retrieval import qld_topk

    return qld_topk(table(spark, sf_dir, "documents"), _RETRIEVAL_QUERIES, k=10)


@_q(
    "sft_loss_masking_plan",
    f"""
    WITH {_CONV_SQL},
    tc AS (
      SELECT doc_id, t,
             list_transform(t, x -> CAST(len(list_filter(
               string_split(coalesce(x.content, ''), ' '), w -> w <> ''))
               AS BIGINT)) AS tcs,
             list_transform(t, x -> CAST(CASE WHEN x.role = 'assistant'
               THEN 1 ELSE 0 END AS BIGINT)) AS mk
      FROM parsed
    )
    SELECT doc_id,
           CASE WHEN t IS NULL THEN NULL
                ELSE CAST(coalesce(list_sum(tcs), 0) AS BIGINT) END
             AS n_total_tokens,
           CASE WHEN t IS NULL THEN NULL
                ELSE CAST(coalesce(list_sum(list_transform(
                       range(1, len(t) + 1), i -> tcs[i] * mk[i])), 0) AS BIGINT)
           END AS n_loss_tokens,
           CASE WHEN t IS NULL THEN NULL
                ELSE CAST(coalesce(list_sum(list_transform(
                       range(1, len(t) + 1),
                       i -> CASE WHEN mk[i] = 1 AND (i = 1 OR mk[i - 1] = 0)
                                 THEN 1 ELSE 0 END)), 0) AS BIGINT)
           END AS n_spans,
           CASE WHEN t IS NULL THEN NULL
                WHEN coalesce(list_position(mk, CAST(1 AS BIGINT)), 0) = 0
                  THEN NULL
                ELSE CAST(coalesce(list_sum(
                       tcs[1:list_position(mk, CAST(1 AS BIGINT)) - 1]), 0)
                     AS BIGINT)
           END AS first_loss_start,
           CASE WHEN t IS NULL THEN NULL
                WHEN coalesce(list_sum(tcs), 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(coalesce(list_sum(list_transform(
                       range(1, len(t) + 1), i -> tcs[i] * mk[i])), 0)
                     * 1000000 // list_sum(tcs) AS BIGINT)
           END AS mask_ratio_micro
    FROM tc
    """,
    "per-conversation SFT loss-mask budget: trainable (assistant) token "
    "count, first trainable span's token offset (the prompt-prefix "
    "cost), contiguous-span count (multi-span convs can't be truncated "
    "at one cut), and the trainable fraction on the exact integer grid "
    "— the packing pre-pass every instruction tuner runs after "
    "sft_turn_stats' structure gate.  Array lambdas over one typed "
    "parse, zero explode; malformed JSON propagates NULL (errors-as-"
    "data)",
)
def q_sft_loss_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.sft import loss_masking_plan

    return loss_masking_plan(_conv_frame(spark, sf_dir), "conv")


# ---------------------------------------------------------------------------
# Round-12 second wave: integer spectral read, warehouse ABC classes,
# cycle-time percentiles, term burstiness.
# ---------------------------------------------------------------------------


def _pca_oracle(dims: int, iters: int) -> str:
    steps = []
    for t in range(1, iters + 1):
        steps.append(
            f"""w{t} AS (
      SELECT cn.j, CAST(sum(cn.cn * v.v) AS BIGINT) AS w
      FROM cn JOIN v{t - 1} v ON v.j = cn.k GROUP BY 1
    ),
    m{t} AS (SELECT CAST(max(abs(w)) AS BIGINT) AS mw FROM w{t}),
    v{t} AS (
      SELECT j, CAST((w * 1000000) // greatest(mw, 1) AS BIGINT) AS v
      FROM w{t} CROSS JOIN m{t}
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH ex AS (
      SELECT vec_id, i AS j,
             CAST(floor(CAST(embedding[i] AS DOUBLE)
                        * CAST(1000000 AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
      FROM embeddings, range(1, {dims + 1}) t(i)
      WHERE embedding IS NOT NULL
    ),
    cm AS (
      SELECT a.j, b.j AS k, CAST(sum(a.c * b.c) AS BIGINT) AS cv
      FROM ex a JOIN ex b ON b.vec_id = a.vec_id GROUP BY 1, 2
    ),
    mx AS (SELECT CAST(max(abs(cv)) AS BIGINT) AS m FROM cm),
    cn AS (
      SELECT j, k, CAST(cv // greatest(m // 100000, 1) AS BIGINT) AS cn
      FROM cm CROSS JOIN mx
    ),
    v0 AS (SELECT DISTINCT j, CAST(1000000 AS BIGINT) AS v FROM cn),
    {chain}
    SELECT CAST(j AS BIGINT) AS dim, v AS loading_micro FROM v{iters}
    """


@_q(
    "embedding_pca_power",
    _pca_oracle(16, 4),
    "top principal direction of the embedding corpus (16-dim prefix) by "
    "4 integer power iterations — components snapped to a 1e6 grid, the "
    "covariance an exact BIGINT bilinear form, every iteration a "
    "re-scaled signed integer matvec (Spark div and DuckDB // truncate "
    "identically on signed operands, verified) so the SQL oracle "
    "unrolls the IDENTICAL spectral computation.  The whitening / "
    "embedding-drift / dimension-audit read, with cost linear in rows "
    "at fixed dims; covariance build is one map-side-combined "
    "(rows x dims^2) aggregation, iterations are dims-row joins, the "
    "driver never collects",
)
def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.similarity import pca_power_integer

    return pca_power_integer(table(spark, sf_dir, "embeddings"), dims=16, iters=4)


@_q(
    "lineitem_pareto_abc",
    """
    WITH pr AS (
      SELECT l_partkey,
             CAST(sum(round(l_extendedprice * 100)
                      * (100 - round(l_discount * 100))) AS BIGINT) AS rev
      FROM lineitem GROUP BY 1
    ),
    t AS (SELECT CAST(sum(rev) AS BIGINT) AS tot FROM pr),
    c AS (
      SELECT l_partkey, rev,
             sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM pr
    ),
    k AS (
      SELECT rev,
             CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                  WHEN cum * 100 <= tot * 95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM c CROSS JOIN t
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS class_rev_e4,
           CAST(sum(rev) // greatest((SELECT tot FROM t) // 1000000, 1)
                AS BIGINT) AS share_micro
    FROM k GROUP BY 1
    """,
    "ABC / Pareto classification of parts by discounted revenue (A = "
    "parts covering the first 80% of revenue, B to 95%, C the tail) — "
    "the inventory-priority read every warehouse runs.  Revenue exact "
    "on the cents x pct e4 grid; the cumulative ranking goes through "
    "global_rank_cumsum (range-partitioned two-pass prefix sum), so no "
    "unpartitioned WindowExec appears over the part-cardinality frame; "
    "class thresholds compare exact integer cross-products",
)
def q_lineitem_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.windows import global_rank_cumsum

    li = table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0)
            * (F.lit(100) - F.round(F.col("l_discount") * 100, 0))
        )
        .cast("long")
        .alias("rev")
    )
    ranked = global_rank_cumsum(
        pr,
        [F.col("rev").desc(), F.col("l_partkey").asc()],
        sum_col="rev",
        cum_col="cum",
    )
    tot = pr.agg(F.sum("rev").cast("long").alias("tot"))
    k = ranked.crossJoin(F.broadcast(tot)).select(
        "rev",
        "tot",
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, F.lit("A"))
        .when(F.col("cum") * 100 <= F.col("tot") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return (
        k.groupBy("abc_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev").cast("long").alias("class_rev_e4"),
            F.max("tot").alias("__tot"),
        )
        .select(
            "abc_class",
            "n_parts",
            "class_rev_e4",
            F.expr("class_rev_e4 div greatest(__tot div 1000000, 1L)")
            .cast("long")
            .alias("share_micro"),
        )
    )


@_q(
    "order_cycle_percentiles",
    """
    WITH d AS (
      SELECT o.o_orderpriority AS g,
             CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) AS BIGINT) AS v
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
    ),
    h AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
    cw AS (
      SELECT g, v, c,
             sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS cum,
             sum(c) OVER (PARTITION BY g) AS n
      FROM h
    )
    SELECT g AS o_orderpriority, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum >= (90 * n + 99) // 100 THEN v END)
                AS BIGINT) AS p90,
           CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN v END)
                AS BIGINT) AS p99
    FROM cw GROUP BY 1
    """,
    "order-to-ship cycle-time percentiles (p50/p90/p99 days) per "
    "order priority — the fulfillment-SLA read: exact lower-percentile "
    "order statistics off the per-priority day-delay histogram (the "
    "winsorized-cut discipline, ceil(p*n/100) as (p*n+99) div 100 — no "
    "interpolation doubles).  Histogram grain: the window runs over "
    "(priority x distinct day counts), never row grain",
)
def q_order_cycle_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.stats import (
        exact_percentiles_by_group,
    )

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate").isNotNull())
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    d = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("delay"),
    )
    return exact_percentiles_by_group(
        d, "o_orderpriority", F.col("delay"), pcts=(50, 90, 99)
    )


@_q(
    "term_burstiness_top_df",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term FROM documents
    ),
    tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tk GROUP BY 1, 2),
    m AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS s, CAST(sum(tf * tf) AS BIGINT) AS q
      FROM tf GROUP BY 1
    ),
    top AS (SELECT * FROM m ORDER BY df DESC, term ASC LIMIT 20)
    SELECT term, df,
           CAST(floor(CAST(s AS DOUBLE) / CAST(df AS DOUBLE)
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
             AS mean_tf_micro,
           CAST(floor((CAST(df AS DOUBLE) * CAST(q AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                / nullif((CAST(df AS DOUBLE) - 1) * CAST(s AS DOUBLE), 0)
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
             AS fano_micro
    FROM top
    """,
    "term burstiness (Fano factor: within-document tf variance over "
    "mean, among documents containing the term) for the corpus's 20 "
    "highest-df terms — the Church-Gale content-vs-function-word signal "
    "(bursty terms are topical, fano ~ 1 is Poisson/functional) next to "
    "token_pmi_collocations.  BIGINT (df, s, q) moments, ratios closed "
    "in doubles at the final projection and micro-snapped; the top-20 "
    "cut is a bounded TakeOrdered over the vocab-grain aggregate",
)
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.retrieval import _doc_tokens

    d = table(spark, sf_dir, "documents")
    tf = _doc_tokens(d, "text", "doc_id").groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    m = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("s"),
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("q"),
    )
    top = m.orderBy(F.col("df").desc(), F.col("term").asc()).limit(20)
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    from wellmeet_data_pipeline_spark.operators.stats import snap_micro

    return top.select(
        "term",
        "df",
        snap_micro(dd("s") / dd("df")).alias("mean_tf_micro"),
        snap_micro(
            F.try_divide(
                dd("df") * dd("q") - dd("s") * dd("s"),
                (dd("df") - F.lit(1.0)) * dd("s"),
            )
        ).alias("fano_micro"),
    )


# ---------------------------------------------------------------------------
# Round-12 third wave: r x c independence, LSH operating curve, the
# portmanteau whiteness read over the daily ACF.
# ---------------------------------------------------------------------------


@_q(
    "returnflag_status_chi2",
    """
    WITH d0 AS (
      SELECT l_returnflag AS a, l_linestatus AS b FROM lineitem
      WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
    ),
    cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS nij FROM d0 GROUP BY 1, 2),
    r AS (SELECT a, CAST(count(*) AS BIGINT) AS r FROM d0 GROUP BY 1),
    c AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM d0 GROUP BY 1),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT a) AS BIGINT) AS nr,
                 CAST(count(DISTINCT b) AS BIGINT) AS nc FROM d0),
    grid AS (
      SELECT r.a, c.b, r.r, c.c, coalesce(cells.nij, 0) AS nij, t.n, t.nr, t.nc
      FROM r CROSS JOIN c LEFT JOIN cells ON cells.a = r.a AND cells.b = c.b
      CROSS JOIN t
    ),
    pc AS (
      SELECT n, nr, nc,
             CAST(floor(CAST(n * nij - r * c AS DOUBLE)
                        * CAST(n * nij - r * c AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
               AS chi
      FROM grid
    ),
    ag AS (SELECT n, nr, nc, CAST(sum(chi) AS BIGINT) AS chi2
           FROM pc GROUP BY 1, 2, 3)
    SELECT n, nr AS n_rows, nc AS n_cols,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           chi2 AS chi2_micro,
           CAST(floor(sqrt((CAST(chi2 AS DOUBLE) / CAST(1000000 AS DOUBLE))
                / nullif(CAST(n AS DOUBLE)
                         * CAST(least(nr - 1, nc - 1) AS DOUBLE), 0))
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
             AS cramers_v_micro
    FROM ag
    """,
    "chi-square independence test + Cramér's V between return flag and "
    "line status — the r x c contingency read ('are these labelings "
    "related') behind every stratification decision; full-grid expected "
    "mass (zero cells included), each cell's exact cross-multiplied "
    "statistic micro-snapped BEFORE the BIGINT sum so cell order cannot "
    "move the total.  Category-bounded grid, two margin aggregations",
)
def q_returnflag_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.stats import chi2_independence

    return chi2_independence(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus"
    )


_SWEEP_THRESHOLDS = [400000, 500000, 600000, 700000, 800000]
_SWEEP_VALUES = ", ".join(f"({t})" for t in _SWEEP_THRESHOLDS)


@_q(
    "dedup_threshold_sweep",
    f"""
    WITH {_minhash_sha_ctes()},
    agree AS (
      SELECT p.id_a, p.id_b,
             CAST(({" + ".join(f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(16))})
               AS BIGINT) AS agree
      FROM pairs p JOIN sig a ON p.id_a = a.doc_id JOIN sig b ON p.id_b = b.doc_id
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS i
      FROM pairs p
      JOIN sh a ON a.doc_id = p.id_a
      JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
      GROUP BY p.id_a, p.id_b
    ),
    pairsx AS (
      SELECT ag.id_a, ag.id_b, ag.agree, sa.n AS na, sb.n AS nb,
             coalesce(i.i, 0) AS i
      FROM agree ag
      JOIN sizes sa ON sa.doc_id = ag.id_a
      JOIN sizes sb ON sb.doc_id = ag.id_b
      LEFT JOIN inter i ON i.id_a = ag.id_a AND i.id_b = ag.id_b
    ),
    th(t_micro) AS (VALUES {_SWEEP_VALUES}),
    judged AS (
      SELECT th.t_micro,
             CAST(p.agree * 1000000 >= th.t_micro * 16 AS INT) AS est_pos,
             CAST(p.i * 1000000 >= th.t_micro * (p.na + p.nb - p.i) AS INT)
               AS true_pos
      FROM pairsx p CROSS JOIN th
    )
    SELECT CAST(t_micro AS BIGINT) AS t_micro,
           CAST(sum(est_pos * true_pos) AS BIGINT) AS n_tp,
           CAST(sum(est_pos * (1 - true_pos)) AS BIGINT) AS n_fp,
           CAST(sum((1 - est_pos) * true_pos) AS BIGINT) AS n_fn,
           CAST(CASE WHEN sum(est_pos) = 0 THEN NULL
                ELSE sum(est_pos * true_pos) * 1000000 // sum(est_pos) END
             AS BIGINT) AS precision_micro,
           CAST(CASE WHEN sum(true_pos) = 0 THEN NULL
                ELSE sum(est_pos * true_pos) * 1000000 // sum(true_pos) END
             AS BIGINT) AS recall_micro
    FROM judged GROUP BY 1
    """,
    "LSH threshold operating curve: for Jaccard cutoffs 0.4-0.8, how the "
    "MinHash signature estimate's keep/drop decision agrees with the "
    "exact shingle Jaccard over the candidate pairs (TP/FP/FN + "
    "precision/recall WITHIN the banded candidate set — the tuning read "
    "for picking a verify threshold).  Every comparison is an exact "
    "BIGINT cross-multiplication (agree*1e6 >= t*k; i*1e6 >= t*(union)) "
    "— no ratio is ever materialized, so no snap boundary exists at all",
)
def q_dedup_threshold_sweep(
    spark: SparkSession, sf_dir: str, shared_verify_counts: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import minhash_verify_sha

    # bench shared_verify_counts: consume the session-shared raw-counts frame
    # when provided (shared == standalone pinned by
    # tests/test_shared_verify_counts.py)
    if shared_verify_counts is not None:
        counts = shared_verify_counts
    else:
        d = table(spark, sf_dir, "documents")
        counts = minhash_verify_sha(d, raw_counts=True)
    th = local_frame(spark, [(t,) for t in _SWEEP_THRESHOLDS], "t_micro long")
    judged = counts.crossJoin(F.broadcast(th)).select(
        "t_micro",
        (F.col("agree") * 1_000_000 >= F.col("t_micro") * 16)
        .cast("int")
        .alias("est_pos"),
        (
            F.col("i") * 1_000_000
            >= F.col("t_micro") * (F.col("na") + F.col("nb") - F.col("i"))
        )
        .cast("int")
        .alias("true_pos"),
    )
    agg = judged.groupBy("t_micro").agg(
        F.sum(F.col("est_pos") * F.col("true_pos")).cast("long").alias("n_tp"),
        F.sum(F.col("est_pos") * (1 - F.col("true_pos"))).cast("long").alias("n_fp"),
        F.sum((1 - F.col("est_pos")) * F.col("true_pos")).cast("long").alias("n_fn"),
        F.sum("est_pos").cast("long").alias("__ep"),
        F.sum("true_pos").cast("long").alias("__tp"),
    )
    return agg.select(
        "t_micro",
        "n_tp",
        "n_fp",
        "n_fn",
        F.when(F.col("__ep") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("n_tp * 1000000 div __ep"))
        .cast("long")
        .alias("precision_micro"),
        F.when(F.col("__tp") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("n_tp * 1000000 div __tp"))
        .cast("long")
        .alias("recall_micro"),
    )


@_q(
    "event_acf_portmanteau",
    f"""
    WITH {_DAILY_SQL},
    lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag),
    p AS (
      SELECT a.g, l.lag, a.v AS xa, b.v AS xb
      FROM d a CROSS JOIN lags l
      JOIN d b ON b.g = a.g AND b.di = a.di + l.lag
    ),
    m AS (
      SELECT g, lag, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(xa) AS BIGINT) AS sa, CAST(sum(xb) AS BIGINT) AS sb,
             CAST(sum(xa * xa) AS BIGINT) AS saa,
             CAST(sum(xb * xb) AS BIGINT) AS sbb,
             CAST(sum(xa * xb) AS BIGINT) AS sab
      FROM p GROUP BY 1, 2
    ),
    acf AS (
      SELECT g, lag,
             CAST(floor((CAST(n_pairs AS DOUBLE) * CAST(sab AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                  / sqrt((CAST(n_pairs AS DOUBLE) * CAST(saa AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                         * (CAST(n_pairs AS DOUBLE) * CAST(sbb AS DOUBLE)
                            - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
               AS rho_micro
      FROM m
    ),
    nn AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1)
    SELECT nn.g AS event_type, nn.n AS n_periods,
           CAST(count(acf.rho_micro) AS BIGINT) AS m_lags,
           CAST((nn.n * (nn.n + 2)
                 * sum(acf.rho_micro * acf.rho_micro // (nn.n - acf.lag)))
                // 1000000 AS BIGINT) AS q_micro
    FROM nn JOIN acf ON acf.g = nn.g AND acf.lag < nn.n
    GROUP BY 1, 2
    """,
    "Ljung-Box-form portmanteau whiteness statistic over the daily "
    "cents series per event type: Q = n(n+2) * sum_k rho_k^2/(n-k) for "
    "lags 1..7, computed from the SAME micro-snapped lagged-pair Pearson "
    "correlations daily_revenue_acf reports (so the omnibus read and the "
    "per-lag read can never disagree) — and from the snap onward Q is "
    "PURE integer arithmetic (rho_micro^2 div (n-k), BIGINT-summed, one "
    "final div): no doubles, no summation-order exposure.  The 'is there "
    "ANY autocorrelation' gate run before trusting i.i.d.-assuming tests",
)
def q_event_acf_portmanteau(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_cents(spark, sf_dir)
    lags = local_frame(spark, [(k,) for k in range(1, 8)], "lag long")
    a = d.select("event_type", "di", F.col("v").alias("xa")).crossJoin(
        F.broadcast(lags)
    )
    b = d.select(
        F.col("event_type").alias("__et"),
        F.col("di").alias("__dib"),
        F.col("v").alias("xb"),
    )
    p = a.join(
        b,
        (F.col("__et") == F.col("event_type"))
        & (F.col("__dib") == F.col("di") + F.col("lag")),
    )
    m = p.groupBy("event_type", "lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("xa").cast("long").alias("sa"),
        F.sum("xb").cast("long").alias("sb"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("sbb"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sab"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    # try_divide, not bare /: a zero-variance (constant) series has
    # Pearson denominator 0 — ANSI Spark errors on the division while
    # DuckDB's / yields NULL, so the guard is both a crash fix and the
    # cross-engine agreement (rho NULL -> the lag drops from m_lags and
    # the Q sum on BOTH sides; caught by the r13 hostile __constdaily__
    # injection, the daily_revenue_acf guard pattern applied here)
    acf = m.select(
        "event_type",
        "lag",
        F.floor(
            F.try_divide(
                dd("n_pairs") * dd("sab") - dd("sa") * dd("sb"),
                F.sqrt(
                    (dd("n_pairs") * dd("saa") - dd("sa") * dd("sa"))
                    * (dd("n_pairs") * dd("sbb") - dd("sb") * dd("sb"))
                ),
            )
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("rho_micro"),
    )
    nn = d.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    return (
        nn.join(acf, "event_type")
        .filter(F.col("lag") < F.col("n"))
        .groupBy("event_type", "n")
        .agg(
            F.count("rho_micro").cast("long").alias("m_lags"),
            F.expr(
                "(n * (n + 2) * sum(rho_micro * rho_micro div (n - lag)))"
                " div 1000000"
            )
            .cast("long")
            .alias("q_micro"),
        )
        .select(
            "event_type",
            F.col("n").alias("n_periods"),
            "m_lags",
            "q_micro",
        )
    )


# ---------------------------------------------------------------------------
# Round-12 fourth wave: quantizer clip planning, cohort LTV, salt planning.
# ---------------------------------------------------------------------------


@_q(
    "embedding_quantile_clip_plan",
    """
    WITH ex AS (
      SELECT i AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE)
                        * CAST(1000000 AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
      FROM embeddings, range(1, 65) t(i)
      WHERE embedding IS NOT NULL
    ),
    h AS (SELECT dim, c, CAST(count(*) AS BIGINT) AS cnt FROM ex GROUP BY 1, 2),
    cw AS (
      SELECT dim, c, cnt,
             sum(cnt) OVER (PARTITION BY dim ORDER BY c ROWS UNBOUNDED PRECEDING)
               AS cum,
             sum(cnt) OVER (PARTITION BY dim) AS n
      FROM h
    )
    SELECT CAST(dim AS BIGINT) AS dim, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum >= (1 * n + 99) // 100 THEN c END)
                AS BIGINT) AS p1,
           CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN c END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN c END)
                AS BIGINT) AS p99
    FROM cw GROUP BY 1
    """,
    "per-dimension p1/p50/p99 clip bounds for the int8 quantizer (the "
    "robust alternative to embedding_int8_stats' raw min/max, which one "
    "outlier component stretches until every code collapses onto a few "
    "buckets — percentile clipping is the standard fix before affine "
    "quantization).  Components micro-snapped, exact lower-percentile "
    "order statistics off the per-dim histogram, the winsorized-cut "
    "discipline; (dim x distinct values) grain, never row grain",
)
def q_embedding_quantile_clip_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.stats import (
        exact_percentiles_by_group,
    )

    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    ex = e.select(F.posexplode("embedding").alias("__p", "__x")).select(
        (F.col("__p") + 1).cast("long").alias("dim"),
        F.floor(F.col("__x").cast("double") * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("c"),
    )
    return exact_percentiles_by_group(ex, "dim", F.col("c"), pcts=(1, 50, 99))


@_q(
    "weekly_cohort_ltv",
    f"""
    WITH ev AS (
      SELECT user_id, (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk,
             {_EVENT_CENTS_SQL} AS cents
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    ),
    coh AS (SELECT user_id, CAST(min(wk) AS BIGINT) AS cohort FROM ev GROUP BY 1),
    sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort FROM coh GROUP BY 1),
    rev AS (
      SELECT c.cohort, CAST(e.wk - c.cohort AS BIGINT) AS week_offset,
             CAST(sum(e.cents) AS BIGINT) AS cents
      FROM ev e JOIN coh c USING (user_id) GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort, week_offset,
             CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY week_offset
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      FROM rev
    )
    SELECT cum.cohort, cum.week_offset, s.n_cohort, cum.cum_cents,
           CAST(cum.cum_cents // s.n_cohort AS BIGINT) AS cum_per_user_cents
    FROM cum JOIN sizes s USING (cohort)
    """,
    "weekly cohort LTV curve: cumulative cents per signup cohort by week "
    "offset, absolute and per cohort member — the value companion to "
    "user_retention_cohorts' activity triangle (retention says who came "
    "back; this says what they were worth).  Exact cents throughout, "
    "per-user division one floor at the end; windows partition by "
    "cohort over the calendar-bounded offset axis",
)
def q_weekly_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            "user_id",
            F.expr("unix_date(to_date(ts)) div 7").cast("long").alias("wk"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    coh = ev.groupBy("user_id").agg(F.min("wk").cast("long").alias("cohort"))
    sizes = coh.groupBy("cohort").agg(F.count("*").cast("long").alias("n_cohort"))
    rev = (
        ev.join(coh, "user_id")
        .groupBy("cohort", (F.col("wk") - F.col("cohort")).cast("long").alias("week_offset"))
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy(F.col("week_offset").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cohort",
        "week_offset",
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
    )
    return cum.join(F.broadcast(sizes), "cohort").select(
        "cohort",
        "week_offset",
        "n_cohort",
        "cum_cents",
        F.expr("cum_cents div n_cohort").cast("long").alias("cum_per_user_cents"),
    )


@_q(
    "hot_key_salt_plan",
    """
    WITH kc AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT user_id, n_rows,
           CAST((n_rows + 63) // 64 AS BIGINT) AS salt_n,
           CAST((n_rows + ((n_rows + 63) // 64) - 1)
                // ((n_rows + 63) // 64) AS BIGINT) AS post_salt_max
    FROM kc WHERE n_rows > 64
    """,
    "skew salting planner: for every key exceeding the rows-per-task "
    "target (64 here — sized to the test corpus' per-user distribution; "
    "a cluster run sets it from bytes-per-task), the salt fan-out "
    "ceil(n/target) and the resulting "
    "post-salt worst slice ceil(n/salt_n) — the pre-flight that turns "
    "heavy_hitter_users' 'which keys are hot' into 'what salt factor to "
    "apply' before a skewed join (the decision skew_split_join_revenue "
    "then executes).  Pure integer ceilings; output bounded by the hot "
    "keys only",
)
def q_hot_key_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    kc = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n_rows"))
    return kc.filter(F.col("n_rows") > 64).select(
        "user_id",
        "n_rows",
        F.expr("(n_rows + 63) div 64").cast("long").alias("salt_n"),
        F.expr(
            "(n_rows + ((n_rows + 63) div 64) - 1) div ((n_rows + 63) div 64)"
        )
        .cast("long")
        .alias("post_salt_max"),
    )
