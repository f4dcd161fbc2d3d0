"""Experimentation & metric-monitoring operators (round 13).

The reference pipeline stops at ingest + enrichment; a production
analytics engine also has to ANSWER the questions those metrics exist
for — "did the experiment move the metric" (CUPED), "is the forecast
calibrated" (Brier decomposition), "is this series drifting out of
control" (EWMA chart), "are these two daily metrics associated"
(Kendall tau-b), "is the count process noisier than Poisson"
(overdispersion index).  Everything follows the repo's exactness
discipline (queries_core.py header): moments accumulate as exact
BIGINTs on integer-cents grids, doubles appear only in final closes
restricted to IEEE-exact ops (+ - * / sqrt), and every emitted double
is floor-snapped to a micro grid so the DuckDB oracle reproduces it
bit-for-bit.

Scale shape notes per operator are on the docstrings; none of these
materializes anything row-proportional on the driver.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.catalog import local_frame


def _micro(c: Column) -> Column:
    """floor(x * 1e6 + 0.5) as BIGINT — the repo-wide double→grid snap."""
    return F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")


# ---------------------------------------------------------------------------
# EWMA control chart
# ---------------------------------------------------------------------------

EWMA_LAMBDA_PCT = 20  # lambda = 0.20
EWMA_WINDOW = 60  # (1-lambda)^60 < 1.6e-6: truncation below grid resolution
EWMA_WEIGHT_GRID = 1_000_000_000  # 1e9 integer weight grid
EWMA_L = 3.0  # control-limit width in EWMA sigmas


def ewma_weights() -> list[int]:
    """w_j = floor((1-lambda)^j * 1e9) for j = 0..window-1, computed once
    in Python so the Spark literal frame and the oracle's VALUES list are
    generated from the SAME doubles — pow() never runs inside either
    engine (transcendentals are the one double class that differs
    cross-engine at the last ulp)."""
    lam = EWMA_LAMBDA_PCT / 100.0
    return [int((1.0 - lam) ** j * EWMA_WEIGHT_GRID) for j in range(EWMA_WINDOW)]


def ewma_control_chart(
    daily: DataFrame,
    group_col: str = "event_type",
    idx_col: str = "di",
    val_col: str = "v",
) -> DataFrame:
    """EWMA control chart over a per-group integer series (daily cents
    totals): for each observation t (in observation order, gaps
    compressed — the chart watches the PROCESS, not the calendar),

      ewma_t = sum_j w_j * v_{t-j} / sum_j w_j,   w_j = floor(0.8^j 1e9)

    with the window truncated at 60 terms (weights < 1.6e-6 of mass).
    Control limits are the group mean ± 3 * sigma * sqrt(lam/(2-lam))
    with mean/sigma closed from exact BIGINT moments.  Numerator and
    denominator are exact BIGINTs (bound: |v| * 1e9 * 60 < 2^63 ⇒
    |v| ≤ ~1.5e11 cents per period; coarsen EWMA_WEIGHT_GRID for
    larger periods), the ewma itself is ONE IEEE division, and every
    emitted double is micro-snapped.

    Scale: the weight join is a 60-row broadcast; the lag band is a
    self-join banded on row_number within group — day-pair-bounded like
    the Mann-Kendall frame (calendar periods, not raw rows).  Output one
    row per (group, idx): value, ewma, limits, breach flag."""
    d = daily.select(
        F.col(group_col).alias("g"),
        F.col(idx_col).alias("di"),
        F.col(val_col).cast("long").alias("v"),
    ).withColumn("rn", F.row_number().over(Window.partitionBy("g").orderBy("di")))
    spark = daily.sparkSession
    wt = local_frame(
        spark, [(j, wj) for j, wj in enumerate(ewma_weights())], "j int, w long"
    )
    # band self-join: partner rn_p = rn - j for j in [0, W)
    lagged = (
        d.alias("a")
        .join(
            d.select(
                F.col("g").alias("g2"),
                F.col("rn").alias("rn2"),
                F.col("v").alias("v2"),
            ).alias("b"),
            (F.col("a.g") == F.col("b.g2"))
            & (F.col("b.rn2") <= F.col("a.rn"))
            & (F.col("b.rn2") > F.col("a.rn") - EWMA_WINDOW),
        )
        .join(F.broadcast(wt), F.col("a.rn") - F.col("b.rn2") == F.col("j"))
        .groupBy("a.g", "a.di", "a.rn", "a.v")
        .agg(
            F.sum(F.col("v2") * F.col("w")).cast("long").alias("num"),
            F.sum("w").cast("long").alias("den"),
        )
    )
    mom = daily.groupBy(F.col(group_col).alias("g")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col(val_col).cast("long")).cast("long").alias("s1"),
        F.sum(F.col(val_col).cast("long") * F.col(val_col).cast("long"))
        .cast("long")
        .alias("s2"),
    )
    lam = EWMA_LAMBDA_PCT / 100.0
    sig_factor = (lam / (2.0 - lam)) ** 0.5  # python double, shared w/ oracle
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = (
        F.col("s2").cast("double") / F.col("n").cast("double") - mean * mean
    )
    stats = mom.select(
        "g",
        mean.alias("mu"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("sigma"),
    )
    ewma = F.col("num").cast("double") / F.col("den").cast("double")
    half = F.lit(EWMA_L * sig_factor) * F.col("sigma")
    return (
        lagged.join(stats, "g")
        .select(
            F.col("g").alias(group_col),
            "di",
            "v",
            _micro(ewma).alias("ewma_micro"),
            _micro(F.col("mu") + half).alias("ucl_micro"),
            _micro(F.col("mu") - half).alias("lcl_micro"),
            (
                (ewma > F.col("mu") + half) | (ewma < F.col("mu") - half)
            ).cast("int").alias("breach"),
        )
    )


# ---------------------------------------------------------------------------
# Kendall tau-b between two per-period metrics
# ---------------------------------------------------------------------------


def kendall_tau_b(
    series: DataFrame,
    group_col: str,
    idx_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact Kendall tau-b association between two integer metrics
    observed on the same period grid, per group: enumerate period pairs
    (i < j by idx), classify each by (sign(Δx), sign(Δy)) into
    concordant / discordant / x-tied / y-tied BIGINT counts, close

      tau_b = (C - D) / sqrt((n0 - tx)(n0 - ty)),  n0 = n(n-1)/2

    in doubles (sqrt is IEEE-exact) and micro-snap.  The rank-based
    sibling of Pearson (stats_correlation) and Spearman
    (quality_length_spearman); pairs are calendar-bounded exactly like
    the Mann-Kendall frame (periods², not rows²).  Degenerate groups
    (all-tied in either metric) emit NULL tau_b via nullif."""
    d = series.select(
        F.col(group_col).alias("g"),
        F.col(idx_col).alias("di"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    a, b = d.alias("a"), d.alias("b")
    sx = F.signum((F.col("b.x") - F.col("a.x")).cast("double")).cast("int")
    sy = F.signum((F.col("b.y") - F.col("a.y")).cast("double")).cast("int")
    pairs = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g")) & (F.col("b.di") > F.col("a.di")),
        )
        .select(F.col("a.g").alias("g"), sx.alias("sx"), sy.alias("sy"))
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n0"),
            F.sum(((F.col("sx") * F.col("sy")) == 1).cast("long"))
            .cast("long")
            .alias("nc"),
            F.sum(((F.col("sx") * F.col("sy")) == -1).cast("long"))
            .cast("long")
            .alias("nd"),
            F.sum((F.col("sx") == 0).cast("long")).cast("long").alias("tx"),
            F.sum((F.col("sy") == 0).cast("long")).cast("long").alias("ty"),
        )
    )
    denom = F.sqrt(
        (F.col("n0") - F.col("tx")).cast("double")
        * (F.col("n0") - F.col("ty")).cast("double")
    )
    return pairs.select(
        F.col("g").alias(group_col),
        "n0",
        "nc",
        "nd",
        _micro(
            (F.col("nc") - F.col("nd")).cast("double") / F.nullif(denom, F.lit(0.0))
        ).alias("tau_b_micro"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction
# ---------------------------------------------------------------------------


def cuped_adjusted(
    per_user: DataFrame,
    arm_col: str = "arm",
    pre_col: str = "x",
    post_col: str = "y",
) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. WSDM'13): adjust each unit's post-period metric by its
    pre-period covariate, Y' = Y - theta (X - mean(X)) with theta =
    cov(X,Y)/var(X) pooled over all units, then report per-arm means and
    the variance-reduction ratio 1 - var(Y')/var(Y).

    All moments (sum x, sum y, sum xy, sum x², sum y², n) accumulate as
    exact BIGINTs — one shuffle each at user grain, map-side combined —
    and theta / the adjusted means close in IEEE-exact doubles.  Bound:
    sum x² ≤ n * max_cents² must stay < 2^63 (at 1e8 users of ≤ $10k
    pre-period spend: 1e8 * 1e12 = 1e20 — rescale the grid to whole
    dollars at that size; documented trade like pca_power_integer).
    Output: one row per arm (n, mean_y_micro, mean_yadj_micro,
    var_reduction_micro)."""
    u = per_user.select(
        F.col(arm_col).alias("arm"),
        F.col(pre_col).cast("long").alias("x"),
        F.col(post_col).cast("long").alias("y"),
    )
    pooled = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    nD = F.col("n").cast("double")
    cov = F.col("sxy").cast("double") / nD - (
        F.col("sx").cast("double") / nD
    ) * (F.col("sy").cast("double") / nD)
    varx = F.col("sxx").cast("double") / nD - (
        F.col("sx").cast("double") / nD
    ) * (F.col("sx").cast("double") / nD)
    g = pooled.select(
        (cov / F.nullif(varx, F.lit(0.0))).alias("theta"),
        (F.col("sx").cast("double") / nD).alias("xbar"),
    )
    # per-arm moments of y and of the adjusted metric.  y' = y - theta
    # (x - xbar) is affine in (x, y), so var(y') closes from the same
    # BIGINT moment set — no second pass over the data
    arm = u.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nA = F.col("n").cast("double")
    my = F.col("sy").cast("double") / nA
    mx = F.col("sx").cast("double") / nA
    vy = F.col("syy").cast("double") / nA - my * my
    vx = F.col("sxx").cast("double") / nA - mx * mx
    cxy = F.col("sxy").cast("double") / nA - mx * my
    th = F.col("theta")
    myadj = my - th * (mx - F.col("xbar"))
    vyadj = vy - F.lit(2.0) * th * cxy + th * th * vx
    return (
        arm.crossJoin(F.broadcast(g))
        .select(
            "arm",
            "n",
            _micro(my).alias("mean_y_micro"),
            _micro(myadj).alias("mean_yadj_micro"),
            _micro(
                F.lit(1.0) - vyadj / F.nullif(vy, F.lit(0.0))
            ).alias("var_reduction_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Brier score decomposition
# ---------------------------------------------------------------------------

BRIER_BINS = 10


def brier_decomposition(
    scored: DataFrame, p_micro_col: str = "p_micro", label_col: str = "y"
) -> DataFrame:
    """Murphy decomposition of the Brier score of a probabilistic
    classifier: REL - RES + UNC over BRIER_BINS fixed-width probability
    bins,

      REL = sum_k n_k (pbar_k - obar_k)² / n     (miscalibration)
      RES = sum_k n_k (obar_k - obar)² / n       (discrimination)
      UNC = obar (1 - obar)                      (label entropy)

    plus the exact unbinned Brier sum (p - y)²/n for reference (the
    binned identity holds exactly only when forecasts are constant
    within bins).  Input: per-example micro-grid probability (BIGINT
    0..1e6) and 0/1 label; all bin moments are exact BIGINT sums (p² ≤
    1e12 per row), closes are IEEE doubles, outputs micro-snapped.  One
    groupBy(bin) + one scalar agg — calibration_ece's decomposition-
    grade sibling."""
    b = scored.select(
        F.least(
            F.lit(BRIER_BINS - 1),
            F.floor(
                F.col(p_micro_col) * BRIER_BINS / 1_000_000
            ).cast("int"),
        ).alias("bin"),
        F.col(p_micro_col).cast("long").alias("p"),
        F.col(label_col).cast("long").alias("y"),
    )
    binned = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("nk"),
        F.sum("p").cast("long").alias("sp"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("p") * F.col("p")).cast("long").alias("spp"),
        F.sum(F.col("p") * F.col("y")).cast("long").alias("spy"),
    )
    tot = binned.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("sy").cast("long").alias("sy_all"),
        F.sum("sp").cast("long").alias("sp_all"),
        F.sum("spp").cast("long").alias("spp_all"),
        F.sum("spy").cast("long").alias("spy_all"),
    )
    nk = F.col("nk").cast("double")
    pbar = F.col("sp").cast("double") / nk / 1e6
    obar_k = F.col("sy").cast("double") / nk
    # per-bin terms snap to the micro grid BEFORE summing: a sum of
    # doubles is partition-order-dependent (float addition doesn't
    # associate); a sum of snapped BIGINTs is exact and order-free —
    # the repo-wide moment discipline applied to the decomposition
    per_bin = binned.crossJoin(F.broadcast(tot)).select(
        "bin",
        "nk",
        _micro(nk * (pbar - obar_k) * (pbar - obar_k)).alias("rel_term_micro"),
        _micro(
            nk
            * (obar_k - F.col("sy_all").cast("double") / F.col("n").cast("double"))
            * (obar_k - F.col("sy_all").cast("double") / F.col("n").cast("double"))
        ).alias("res_term_micro"),
    )
    terms = per_bin.agg(
        F.sum("rel_term_micro").cast("long").alias("rel_sum_micro"),
        F.sum("res_term_micro").cast("long").alias("res_sum_micro"),
    )
    nD = F.col("n").cast("double")
    obar = F.col("sy_all").cast("double") / nD
    # exact unbinned Brier: sum (p/1e6 - y)² = (spp - 2e6 spy + 1e12 sy)/1e12
    brier = (
        F.col("spp_all").cast("double")
        - F.lit(2_000_000.0) * F.col("spy_all").cast("double")
        + F.lit(1e12) * F.col("sy_all").cast("double")
    ) / F.lit(1e12) / nD
    return (
        tot.crossJoin(F.broadcast(terms))
        .select(
            F.col("n"),
            F.expr("rel_sum_micro div n").cast("long").alias("reliability_micro"),
            F.expr("res_sum_micro div n").cast("long").alias("resolution_micro"),
            _micro(obar * (F.lit(1.0) - obar)).alias("uncertainty_micro"),
            _micro(brier).alias("brier_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Overdispersion (variance-to-mean) index of per-period counts
# ---------------------------------------------------------------------------


def overdispersion_index(
    counts: DataFrame,
    group_col: str = "event_type",
    count_col: str = "c",
) -> DataFrame:
    """Index of dispersion D = s²/mean of per-period counts per group,
    with the chi-square statistic (n-1) * D that tests the Poisson
    hypothesis (D ≈ 1 under Poisson; D >> 1 = burst/contagion, D << 1 =
    rate limiting).  The standard first look at whether event arrivals
    can be modeled Poisson before alerting thresholds are set.  Exact
    BIGINT moments (counts are small integers), IEEE closes, micro
    snaps; sample variance uses the n-1 divisor.  Groups with n < 2 or
    zero mean emit NULLs via nullif."""
    mom = counts.groupBy(F.col(group_col).alias("g")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col(count_col).cast("long")).cast("long").alias("s1"),
        F.sum(F.col(count_col).cast("long") * F.col(count_col).cast("long"))
        .cast("long")
        .alias("s2"),
    )
    nD = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nD
    # sample variance: (s2 - n*mean²) / (n-1)
    var = (F.col("s2").cast("double") - nD * mean * mean) / F.nullif(
        nD - F.lit(1.0), F.lit(0.0)
    )
    disp = var / F.nullif(mean, F.lit(0.0))
    return mom.select(
        F.col("g").alias(group_col),
        "n",
        _micro(mean).alias("mean_micro"),
        _micro(var).alias("var_micro"),
        _micro(disp).alias("dispersion_micro"),
        _micro((nD - F.lit(1.0)) * disp).alias("chi2_micro"),
    )


# ---------------------------------------------------------------------------
# Touch attribution (first / last) for conversions
# ---------------------------------------------------------------------------


def touch_attribution(
    touches: DataFrame,
    conversions: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
    channel_col: str = "channel",
    value_col: str = "cents",
    lookback_days: int = 7,
) -> DataFrame:
    """First-touch vs last-touch revenue attribution: every conversion
    credits its value to ONE touch channel — the user's earliest
    (first-touch) or latest (last-touch) touch inside the lookback
    window ending at the conversion; conversions with no touch in
    window credit 'direct'.  The two bookends of the attribution-model
    family (position/time-decay models interpolate between them), and
    the read that decides channel budgets downstream of the funnel
    queries.

    One banded equi-join on user (touch.ts in (conv.ts - lookback,
    conv.ts]) — pair volume is per-user touch density within the
    window, never |touches| x |conversions|; then one window per
    conversion (frame = that conversion's in-window touches) picks each
    bookend with the deterministic (ts, tie) order.  Value stays on the
    integer-cents grid end-to-end.

    Returns (model, channel, n_conversions, attributed_cents), model in
    ('first', 'last')."""
    conv = conversions.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("cts"),
        F.col(tie_col).alias("cid"),
        F.col(value_col).cast("long").alias("v"),
    )
    tch = touches.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("tts"),
        F.col(tie_col).alias("tid"),
        F.col(channel_col).alias("channel"),
    )
    window_lo = F.col("cts") - F.expr(f"INTERVAL {lookback_days} DAYS")
    joined = conv.join(
        tch,
        (conv["u"] == tch["u"])
        & (F.col("tts") <= F.col("cts"))
        & (F.col("tts") > window_lo),
        "left",
    ).select("cts", "cid", "v", "tts", "tid", "channel")
    w_first = Window.partitionBy("cid").orderBy(
        F.col("tts").asc_nulls_last(), F.col("tid").asc_nulls_last()
    )
    w_last = Window.partitionBy("cid").orderBy(
        F.col("tts").desc_nulls_last(), F.col("tid").desc_nulls_last()
    )
    picked = (
        joined.withColumn("rf", F.row_number().over(w_first))
        .withColumn("rl", F.row_number().over(w_last))
        .filter((F.col("rf") == 1) | (F.col("rl") == 1))
    )
    first = picked.filter(F.col("rf") == 1).select(
        F.lit("first").alias("model"),
        F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
        "cid",
        "v",
    )
    last = picked.filter(F.col("rl") == 1).select(
        F.lit("last").alias("model"),
        F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
        "cid",
        "v",
    )
    return (
        first.unionAll(last)
        .groupBy("model", "channel")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.sum("v").cast("long").alias("attributed_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Ratio-metric delta-method CI + sample-ratio-mismatch gate
# ---------------------------------------------------------------------------


def ratio_metric_delta_ci(
    per_unit: DataFrame,
    arm_col: str = "arm",
    num_col: str = "x",
    den_col: str = "y",
    z_times_1000: int = 1960,
) -> DataFrame:
    """Per-arm ratio metric R = sum(x)/sum(y) (revenue per session,
    CTR, items per order — the metric class where unit-level averaging
    is WRONG because units contribute unequal denominators) with its
    delta-method standard error:

      var(R) ≈ (var_x - 2 R cov_xy + R² var_y) / (n ȳ²)

    closed from ONE exact BIGINT moment set per arm (sums of x, y, x²,
    y², xy — map-side combined, one shuffle at arm grain), then a
    z-interval at z_times_1000/1000 sigma.  The experimentation-family
    companion of cuped_adjusted (which adjusts unit-level metrics;
    this handles the ratio class CUPED alone can't).  Degenerate arms
    (zero denominator, n < 2) emit NULLs via nullif.

    Returns per arm: (arm, n, ratio_micro, se_micro, lo_micro,
    hi_micro)."""
    u = per_unit.select(
        F.col(arm_col).alias("arm"),
        F.col(num_col).cast("long").alias("x"),
        F.col(den_col).cast("long").alias("y"),
    )
    m = u.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nD = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nD
    my = F.col("sy").cast("double") / nD
    vx = F.col("sxx").cast("double") / nD - mx * mx
    vy = F.col("syy").cast("double") / nD - my * my
    cxy = F.col("sxy").cast("double") / nD - mx * my
    r = F.col("sx").cast("double") / F.nullif(F.col("sy").cast("double"), F.lit(0.0))
    var_r = (vx - F.lit(2.0) * r * cxy + r * r * vy) / F.nullif(
        nD * my * my, F.lit(0.0)
    )
    se = F.sqrt(F.greatest(var_r, F.lit(0.0)))
    z = z_times_1000 / 1000.0
    return m.select(
        "arm",
        "n",
        _micro(r).alias("ratio_micro"),
        _micro(se).alias("se_micro"),
        _micro(r - F.lit(z) * se).alias("lo_micro"),
        _micro(r + F.lit(z) * se).alias("hi_micro"),
    )


def srm_check(
    assignments: DataFrame,
    arm_col: str = "arm",
    expected_micro: dict[int, int] | None = None,
    threshold_chi2_micro: int = 3_841_459,
) -> DataFrame:
    """Sample-ratio-mismatch gate: chi-square of observed arm counts
    against the designed split (default 50/50) — THE first validity
    check on any experiment readout (a biased assignment invalidates
    every downstream metric; Kohavi's trustworthy-experiments rule).
    Default threshold is the exact chi-square(1) 95% critical value on
    the micro grid.

    One arm-grain count aggregate; expected shares arrive as micro-grid
    integers so the per-arm statistic (obs - exp)²/exp closes from
    exact BIGINTs with ONE IEEE division per arm, snapped before the
    cross-arm sum (snap-before-sum).  Returns per arm: (arm, n_obs,
    expected_micro_share, chi2_term_micro, chi2_total_micro,
    srm_flag)."""
    counts = assignments.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count("*").cast("long").alias("n_obs")
    )
    spark = assignments.sparkSession
    exp = expected_micro or {0: 500_000, 1: 500_000}
    exp_df = local_frame(
        spark, [(a, m) for a, m in sorted(exp.items())], "arm long, exp_share_micro long"
    )
    tot = counts.agg(F.sum("n_obs").cast("long").alias("n_tot"))
    per_arm = (
        # no broadcast hint: Spark can't build-right a FULL join and
        # logs a HintErrorLogger warning; the frame is |arms| rows anyway
        counts.join(exp_df, "arm", "full")
        .crossJoin(F.broadcast(tot))
        .select(
            "arm",
            F.coalesce(F.col("n_obs"), F.lit(0).cast("long")).alias("n_obs"),
            F.coalesce(F.col("exp_share_micro"), F.lit(0).cast("long")).alias(
                "exp_share_micro"
            ),
            "n_tot",
        )
        .withColumn(
            "chi2_term_micro",
            # (obs - exp)^2 / exp on the micro grid: exp_n = n_tot *
            # share / 1e6 (double), one division, snap
            _micro(
                (
                    F.col("n_obs").cast("double")
                    - F.col("n_tot").cast("double")
                    * F.col("exp_share_micro").cast("double")
                    / F.lit(1_000_000.0)
                )
                * (
                    F.col("n_obs").cast("double")
                    - F.col("n_tot").cast("double")
                    * F.col("exp_share_micro").cast("double")
                    / F.lit(1_000_000.0)
                )
                / F.nullif(
                    F.col("n_tot").cast("double")
                    * F.col("exp_share_micro").cast("double")
                    / F.lit(1_000_000.0),
                    F.lit(0.0),
                )
            ),
        )
    )
    total = per_arm.agg(
        F.sum("chi2_term_micro").cast("long").alias("chi2_total_micro")
    )
    return per_arm.crossJoin(F.broadcast(total)).select(
        "arm",
        "n_obs",
        "exp_share_micro",
        "chi2_term_micro",
        "chi2_total_micro",
        (F.col("chi2_total_micro") > threshold_chi2_micro).cast("int").alias(
            "srm_flag"
        ),
    )
