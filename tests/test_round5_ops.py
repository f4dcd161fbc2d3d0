"""Round-5 operators: exact AUC, margin-based bitext mining, incremental
aggregate refresh."""

import pytest
from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.operators.aggregations import merge_agg_states
from wellmeet_data_pipeline_spark.operators.scoring import exact_auc
from wellmeet_data_pipeline_spark.operators.similarity import bitext_margin_mine


def _auc(spark, rows):
    df = spark.createDataFrame(rows, ["score", "y"])
    return exact_auc(df, "score", "y").collect()[0]


def test_auc_perfect_separation(spark):
    rows = [(s, 0) for s in (1, 2, 3)] + [(s, 1) for s in (4, 5, 6)]
    r = _auc(spark, rows)
    assert r["auc"] == 1.0 and r["n_pos"] == 3 and r["n_neg"] == 3


def test_auc_inverted(spark):
    rows = [(s, 1) for s in (1, 2, 3)] + [(s, 0) for s in (4, 5, 6)]
    assert _auc(spark, rows)["auc"] == 0.0


def test_auc_ties_half_credit(spark):
    # all scores identical -> every pos/neg pair ties -> AUC 0.5
    rows = [(7, 1)] * 4 + [(7, 0)] * 6
    assert _auc(spark, rows)["auc"] == 0.5


def test_auc_hand_computed_mixed(spark):
    # scores: neg {1, 3}, pos {2, 3}. Pairs (pos, neg):
    # (2,1) win, (2,3) loss, (3,1) win, (3,3) tie -> (2 + 0.5) / 4 = 0.625
    rows = [(1, 0), (3, 0), (2, 1), (3, 1)]
    assert _auc(spark, rows)["auc"] == 0.625


def test_bitext_margin_planted_pairs(spark):
    # side A ids 0,2,4..; side B ids 1,3,5.. — B vec 2i+1 duplicates A vec 2i,
    # so every (2i, 2i+1) is a mutual best match with cosine 1.0
    import random

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(6)]
    a = [(2 * i, [float(x) for x in v]) for i, v in enumerate(base)]
    b = [(2 * i + 1, [float(x) for x in v]) for i, v in enumerate(base)]
    side_a = spark.createDataFrame(a, ["vec_id", "embedding"])
    side_b = spark.createDataFrame(b, ["vec_id", "embedding"])
    got = bitext_margin_mine(side_a, side_b, k=3).collect()
    pairs = {(r["src_id"], r["tgt_id"]) for r in got}
    assert pairs == {(2 * i, 2 * i + 1) for i in range(6)}
    for r in got:
        assert r["cosine_sim"] == pytest.approx(1.0)
        # the true pair's cosine (1.0) strictly exceeds the top-k mean
        assert r["margin"] > 1.0


def test_bitext_margin_requires_mutual(spark):
    # B contains a "hub" near both A vectors; A0's best is the hub, but the
    # hub's best is A1 -> (A0, hub) must NOT be emitted
    side_a = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.05]), (2, [0.9, 0.1, 0.0])], ["vec_id", "embedding"]
    )
    side_b = spark.createDataFrame(
        [(1, [0.92, 0.08, 0.0])], ["vec_id", "embedding"]
    )
    got = bitext_margin_mine(side_a, side_b, k=1).collect()
    assert len(got) == 1  # only the mutual pair survives
    (r,) = got
    assert r["tgt_id"] == 1 and r["src_id"] in (0, 2)


def test_merge_agg_states_equals_full_recompute(spark):
    import random

    rng = random.Random(11)
    rows = [(rng.randrange(5), rng.randrange(100)) for _ in range(300)]
    df = spark.createDataFrame(rows, ["k", "v"])

    def rollup(d):
        return d.groupBy("k").agg(
            F.count("*").alias("n_events"), F.sum("v").alias("value_cents")
        )

    base = rollup(df.filter(F.col("v") < 40))
    delta = rollup(df.filter(F.col("v") >= 40))
    merged = {
        r["k"]: (r["n_events"], r["value_cents"])
        for r in merge_agg_states(base, delta, ["k"]).collect()
    }
    full = {
        r["k"]: (r["n_events"], r["value_cents"]) for r in rollup(df).collect()
    }
    assert merged == full


def test_interval_overlap_join_exact_pairs(spark):
    from wellmeet_data_pipeline_spark.operators.joins import interval_overlap_join

    # key 1: [0, 100] overlaps [50, 150] and touches [100, 200] (closed),
    # not [101, 300]; key 2 never matches key 1
    left = spark.createDataFrame(
        [(1, 0, 100, "a"), (2, 0, 100, "b")], ["k", "start_us", "end_us", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 50, 150, "x"), (1, 100, 200, "y"), (1, 101, 300, "z")],
        ["k", "start_us", "end_us", "tag"],
    )
    got = interval_overlap_join(
        left, right, key="k", bucket_width_us=40
    ).collect()
    pairs = {(r["l_tag"], r["r_tag"]) for r in got}
    assert pairs == {("a", "x"), ("a", "y")}
    # exactly-once despite intervals sharing several 40us buckets
    assert len(got) == 2
    ov = {(r["l_tag"], r["r_tag"]): r["overlap_us"] for r in got}
    assert ov[("a", "x")] == 50 and ov[("a", "y")] == 0


def test_interval_overlap_join_wide_bucket(spark):
    from wellmeet_data_pipeline_spark.operators.joins import interval_overlap_join

    # bucket far wider than intervals: both land in bucket 0, still exact
    left = spark.createDataFrame([(1, 10, 20)], ["k", "start_us", "end_us"])
    right = spark.createDataFrame(
        [(1, 15, 30), (1, 21, 25)], ["k", "start_us", "end_us"]
    )
    got = interval_overlap_join(
        left, right, key="k", bucket_width_us=10_000
    ).collect()
    assert len(got) == 1 and got[0]["overlap_us"] == 5


def test_rolling_distinct_active_hand_case(spark):
    import datetime

    from wellmeet_data_pipeline_spark.operators.windows import (
        rolling_distinct_active,
    )

    def t(day, h=12):
        return datetime.datetime(2024, 3, day, h, 0, 0)

    # u1 active d1 and d2 (counts once per window), u2 active d1 only,
    # u3 active d9 (outside u1/u2's 7-day reach)
    rows = [(t(1), 1), (t(1, 13), 1), (t(2), 1), (t(1), 2), (t(9), 3)]
    df = spark.createDataFrame(rows, ["ts", "user_id"])
    got = {
        str(r["as_of_day"]): r["n_active"]
        for r in rolling_distinct_active(df, window_days=7).collect()
    }
    # observed days: 1, 2, 9.  day1: {u1,u2}=2; day2: {u1,u2}=2;
    # day9: u3 only (d2+6=d8 < d9)
    assert got == {"2024-03-01": 2, "2024-03-02": 2, "2024-03-09": 1}


def test_calibration_bins_edges_and_means(spark):
    from wellmeet_data_pipeline_spark.operators.scoring import calibration_bins

    rows = [
        (-1.0, 0),   # clamps into bin 0
        (-0.95, 1),  # bin 0
        (0.0, 1),    # bin 5 ([0, 0.2))
        (0.1, 0),    # bin 5
        (1.0, 1),    # clamps into bin 9
    ]
    df = spark.createDataFrame(rows, ["score", "y"])
    got = {r["bin"]: r for r in calibration_bins(df, "score", "y").collect()}
    assert set(got) == {0, 5, 9}
    assert got[0]["n"] == 2 and got[0]["n_pos"] == 1
    assert got[0]["mean_score"] == pytest.approx(-0.975)
    assert got[5]["frac_pos"] == 0.5 and got[5]["mean_score"] == pytest.approx(0.05)
    assert got[9]["n"] == 1 and got[9]["frac_pos"] == 1.0


def test_cdc_apply_latest_tombstones_and_order(spark):
    import datetime

    from wellmeet_data_pipeline_spark.operators.dedup import cdc_apply_latest

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # key 1: insert then update -> survives with v=20
        (1, t0, 1, "I", 10),
        (1, t0, 2, "U", 20),          # same ts: event_id breaks the tie
        # key 2: update then delete -> gone
        (2, t0, 3, "U", 30),
        (2, datetime.datetime(2024, 1, 2), 4, "D", 0),
        # key 3: delete then REINSERT -> survives with v=50
        (3, t0, 5, "D", 0),
        (3, datetime.datetime(2024, 1, 3), 6, "I", 50),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "seq", "op", "v"])
    got = {
        r["k"]: (r["op"], r["v"])
        for r in cdc_apply_latest(df, ["k"], ["ts", "seq"], "op", "D").collect()
    }
    assert got == {1: ("U", 20), 3: ("I", 50)}


def test_hll_distinct_reasonable_estimate(spark):
    from wellmeet_data_pipeline_spark.operators.aggregations import hll_distinct

    df = spark.range(2000).select((F.col("id") % 700).alias("k"))
    r = hll_distinct(df, "k", b=8).collect()[0]
    assert r["n_exact"] == 700
    # 256 registers -> standard error ~1.04/16 = 6.5%; allow 3 sigma
    assert abs(r["rel_error"]) < 0.2
    assert r["estimate"] == pytest.approx(
        r["n_exact"] * (1 + r["rel_error"]), rel=1e-3
    )


def test_hll_distinct_small_range_linear_counting(spark):
    from wellmeet_data_pipeline_spark.operators.aggregations import hll_distinct

    df = spark.range(100).select((F.col("id") % 10).alias("k"))
    r = hll_distinct(df, "k", b=8).collect()[0]
    # 10 distinct over 256 registers: linear counting is near-exact
    assert r["n_exact"] == 10 and abs(r["rel_error"]) < 0.05


def test_countmin_never_undercounts(spark):
    from wellmeet_data_pipeline_spark.operators.aggregations import (
        countmin_heavy_hitters,
    )

    rows = [(i % 7,) for i in range(500)] + [(99,)] * 50
    df = spark.createDataFrame(rows, ["k"])
    got = countmin_heavy_hitters(df, "k", width=1024, depth=2, top_n=5).collect()
    assert len(got) == 5
    for r in got:
        assert r["overcount"] >= 0
        assert r["estimate"] == r["n_exact"] + r["overcount"]
    # 8 distinct keys in 1024 buckets: no collisions, estimates exact
    assert all(r["overcount"] == 0 for r in got)


def test_bitext_margin_ivf_method_recovers_planted_pairs(spark):
    import random

    from wellmeet_data_pipeline_spark.operators.similarity import (
        bitext_margin_mine,
    )

    rng = random.Random(3)
    # 4 well-separated cluster centers, 10 vectors each; side B duplicates
    # side A so every (2i, 2i+1) is a planted mutual pair
    centers = [[rng.gauss(0, 1) * 5 for _ in range(16)] for _ in range(4)]
    base = []
    for ci, c in enumerate(centers):
        for _ in range(10):
            base.append([x + rng.gauss(0, 0.05) for x in c])
    a = [(2 * i, [float(x) for x in v]) for i, v in enumerate(base)]
    b = [(2 * i + 1, [float(x) for x in v]) for i, v in enumerate(base)]
    side_a = spark.createDataFrame(a, ["vec_id", "embedding"])
    side_b = spark.createDataFrame(b, ["vec_id", "embedding"])
    got = bitext_margin_mine(
        side_a, side_b, k=3, method="ivf", nprobe=2, n_centroids=4
    ).collect()
    pairs = {(r["src_id"], r["tgt_id"]) for r in got}
    assert {(2 * i, 2 * i + 1) for i in range(len(base))} <= pairs
    for r in got:
        if (r["src_id"], r["tgt_id"]) in {(2 * i, 2 * i + 1) for i in range(len(base))}:
            assert r["cosine_sim"] == pytest.approx(1.0, abs=1e-3)


def test_ivf_cross_top_k_contract_matches_bruteforce_on_clusters(spark):
    import random

    from wellmeet_data_pipeline_spark.operators.similarity import (
        brute_force_top_k,
        ivf_cross_top_k,
    )

    rng = random.Random(9)
    centers = [[rng.gauss(0, 1) * 5 for _ in range(12)] for _ in range(3)]
    mk = lambda off: [
        (off + i, [float(x + rng.gauss(0, 0.05)) for x in centers[i % 3]])
        for i in range(30)
    ]
    q = spark.createDataFrame(mk(0), ["vec_id", "embedding"])
    c_rows = mk(1000)
    c = spark.createDataFrame(c_rows, ["vec_id", "embedding"])
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_top_k(q, c, 3).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_cross_top_k(q, c, 3, n_centroids=3, nprobe=2).collect()
    }
    agree = sum(1 for k_ in exact if approx.get(k_) == exact[k_])
    assert agree / len(exact) >= 0.95

    # full probe (nprobe == n_centroids): every query meets every
    # candidate's bucket, so the result is row-identical to brute force —
    # same rounding, same tie order (the duplicated candidates tie
    # exactly and must break on the lower id)
    dups = spark.createDataFrame(
        [(2000 + i, v) for i, (_, v) in enumerate(c_rows[:6])], ["vec_id", "embedding"]
    )
    c_full = c.unionByName(dups)
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(
        ivf_cross_top_k(q, c_full, 5, n_centroids=8, nprobe=8, round_digits=4)
    ) == rows(brute_force_top_k(q, c_full, 5, round_digits=4))


def test_k_anonymity_audit_flags_rare_groups(spark):
    from wellmeet_data_pipeline_spark.operators.projections import k_anonymity_audit

    rows = [("a", 1)] * 10 + [("b", 2)] * 3 + [("c", 3)]
    df = spark.createDataFrame(rows, ["seg", "nat"])
    got = {
        (r["seg"], r["nat"]): r["group_size"]
        for r in k_anonymity_audit(df, ["seg", "nat"], k=5).collect()
    }
    assert got == {("b", 2): 3, ("c", 3): 1}


def test_zorder_buckets_are_tight_boxes(spark):
    from wellmeet_data_pipeline_spark.operators.bucketing import (
        zorder_bucket_stats,
    )

    # uniform 2-d grid: Z-bucket boxes must be dramatically tighter than
    # the full domain (that tightness IS the file-skipping win)
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = zorder_bucket_stats(df, "x", "y", bits=8, bucket_shift=10).collect()
    assert sum(r["n_rows"] for r in got) == 64 * 64
    full_area = 64 * 64
    for r in got:
        span = (r["x_max"] - r["x_min"] + 1) * (r["y_max"] - r["y_min"] + 1)
        # each of the 64 buckets covers ~1/64 of the area; allow 4x slack
        # for boundary-straddling boxes
        assert span <= full_area / 16


def test_hll_distinct_grouped_matches_per_group(spark):
    from wellmeet_data_pipeline_spark.operators.aggregations import hll_distinct

    df = spark.createDataFrame(
        [("a", i % 40) for i in range(200)] + [("b", i % 7) for i in range(50)],
        ["g", "k"],
    )
    got = {r["g"]: r for r in hll_distinct(df, "k", group_cols=["g"]).collect()}
    assert got["a"]["n_exact"] == 40 and got["b"]["n_exact"] == 7
    # each group's sketch must equal the sketch of that group alone
    for g in ("a", "b"):
        solo = hll_distinct(df.filter(F.col("g") == g), "k").collect()[0]
        assert got[g]["estimate"] == solo["estimate"]
