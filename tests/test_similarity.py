import pytest

from wellmeet_data_pipeline_spark.operators.similarity import (
    brute_force_top_k,
    ivf_cross_top_k,
    ivf_pq_top_k,
    ivf_top_k,
    semantic_dedup,
)


def _vecs(spark):
    # two tight clusters + one outlier
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.95, 0.05, 0.0]),
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.9, 0.1]),
        (99, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_top1_finds_cluster_mate(spark):
    df = _vecs(spark)
    got = {r["query_id"]: r["neighbor_id"] for r in brute_force_top_k(df, df, k=1).collect()}
    # v3=(0.95,.05) sits between v1=(1,0) and v2=(0.9,.1): nearest to v3 is v1
    assert got[2] == 3 and got[3] == 1
    assert got[10] == 11 and got[11] == 10


def test_brute_force_excludes_self_and_ranks(spark):
    df = _vecs(spark)
    rows = brute_force_top_k(df, df, k=3).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_ivf_matches_bruteforce_on_separated_clusters(spark):
    df = _vecs(spark)
    # centroids: ids % 1 == 0 → all candidates, capped at 3 lowest ids
    ivf = ivf_top_k(df, k=1, n_centroids=3, nprobe=3, seed_mod=1)
    bf = brute_force_top_k(df, df, k=1)
    got_ivf = {r["query_id"]: r["neighbor_id"] for r in ivf.collect()}
    got_bf = {r["query_id"]: r["neighbor_id"] for r in bf.collect()}
    assert got_ivf == got_bf


def test_ivf_kmeans_refinement_matches_bruteforce(spark):
    from wellmeet_data_pipeline_spark.operators.similarity import brute_force_top_k, ivf_top_k

    df = _vecs(spark)
    ivf = ivf_top_k(df, k=1, n_centroids=3, nprobe=2, seed_mod=1, kmeans_iters=2)
    bf = brute_force_top_k(df, df, k=1)
    got_ivf = {r["query_id"]: r["neighbor_id"] for r in ivf.collect()}
    got_bf = {r["query_id"]: r["neighbor_id"] for r in bf.collect()}
    assert got_ivf == got_bf


def test_exact_similarity_never_collects_to_driver(spark, monkeypatch):
    """Scale regression: brute_force_top_k / embedding_near_dup_pairs must
    not pull the candidate table to the driver (toPandas/collect) — the
    block-nested-loop runs entirely as cogrouped tasks."""
    import pyspark.sql as pssql

    from wellmeet_data_pipeline_spark.operators.similarity import embedding_near_dup_pairs

    df = _vecs(spark)

    def boom(self, *a, **k):  # pragma: no cover - should never fire
        raise AssertionError("driver-side collect in exact similarity lineage")

    monkeypatch.setattr(pssql.DataFrame, "toPandas", boom)
    monkeypatch.setattr(pssql.DataFrame, "collect", boom)
    topk = brute_force_top_k(df, df, k=2)
    pairs = embedding_near_dup_pairs(df, threshold=0.95)
    monkeypatch.undo()
    # evaluating the plans must also stay collect-free on the driver side
    assert topk.count() > 0
    assert pairs.count() > 0


def test_near_dup_pairs_each_pair_once_and_blocked_matches_unblocked(spark):
    from wellmeet_data_pipeline_spark.operators.similarity import embedding_near_dup_pairs

    df = _vecs(spark)
    got = embedding_near_dup_pairs(df, threshold=0.9, n_blocks=3).collect()
    seen = {(r["id_a"], r["id_b"]) for r in got}
    assert len(seen) == len(got)  # no pair emitted twice across tiles
    assert all(a < b for a, b in seen)
    one_block = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.9, n_blocks=1).collect()
    }
    assert seen == one_block


def test_blocked_topk_matches_single_block(spark):
    df = _vecs(spark)
    blocked = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_top_k(df, df, k=3, n_blocks=4).collect()
    )
    single = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_top_k(df, df, k=3, n_blocks=1).collect()
    )
    assert blocked == single


def test_round_half_away_matches_oracle_mode():
    import numpy as np

    from wellmeet_data_pipeline_spark.operators.similarity import _round_half_away

    x = np.array([0.00005, -0.00005, 0.12345, 0.5, -0.5])
    got = _round_half_away(x, 4)
    # np.round would give 0.0 / 0.1234 on the .xxxx5 boundaries (half-to-even)
    assert got[0] == 0.0001 and got[1] == -0.0001
    assert got[2] == 0.1235 or abs(0.12345 * 1e4 - 1234.5) > 1e-9  # repr-dependent boundary
    assert got[3] == 0.5 and got[4] == -0.5


def test_topk_select_raw_matches_round_first_reference():
    """The r13 select-then-round kernel (_topk_select on RAW scores with
    the rounding-slack threshold) must return byte-identical output to
    the round-everything-first per-row reference, including on
    manufactured .xxxx5 boundary ties and rows with fewer than k allowed
    candidates."""
    import numpy as np
    import pandas as pd

    from wellmeet_data_pipeline_spark.operators.similarity import (
        _round_half_away,
        _topk_select,
    )

    rng = np.random.default_rng(42)
    for trial in range(8):
        m, n, k, d = 37, 53, 5, 4
        S = rng.normal(size=(m, n))
        # manufacture heavy tie mass: snap a third of entries to the
        # 1e-4 grid (exact ties after rounding) and put some exactly on
        # .xxxx5 rounding boundaries
        snap = rng.random(size=(m, n)) < 0.33
        S = np.where(snap, np.round(S, 4), S)
        bnd = rng.random(size=(m, n)) < 0.1
        S = np.where(bnd, np.floor(S * 1e4) / 1e4 + 0.00005, S)
        allow = rng.random(size=(m, n)) < (0.9 if trial % 2 else 0.05)
        qids = np.arange(m) * 3
        cids = rng.permutation(n) * 7

        got = _topk_select(qids, cids, S, allow, k, 4)

        # reference: round EVERYTHING first, then per-row lexsort cut
        R = _round_half_away(S, 4)
        rows = []
        for i in range(m):
            ok = np.flatnonzero(allow[i])
            order = ok[np.lexsort((cids[ok], -R[i, ok]))][:k]
            for rk, j in enumerate(order, 1):
                rows.append((qids[i], cids[j], R[i, j], rk))
        want = pd.DataFrame(
            rows, columns=["query_id", "neighbor_id", "cosine_sim", "rank"]
        )
        got_t = sorted(map(tuple, got.to_numpy().tolist()))
        want_t = sorted(map(tuple, want.to_numpy().tolist()))
        assert got_t == want_t, f"trial {trial} diverged"


def test_adc_shortlist_matches_per_row_reference():
    """The r14 vectorized ADC shortlist (_adc_shortlist) must select the
    exact per-row lexsort((ids, -adc))[:pre] SET (downstream re-ranks by
    exact cosine, so only the set matters), including on bit-equal ADC
    ties (identical PQ codes make exact float ties COMMON) and rows with
    fewer than pre allowed candidates."""
    import numpy as np

    from wellmeet_data_pipeline_spark.operators.similarity import _adc_shortlist

    rng = np.random.default_rng(14)
    for trial in range(8):
        m, n, pre = 29, 61, 7
        adc = rng.normal(size=(m, n))
        # manufacture heavy EXACT-tie mass: snap half the entries to a
        # coarse grid so many candidates share bit-equal ADC values,
        # exactly like identical-code candidates do
        snap = rng.random(size=(m, n)) < 0.5
        adc = np.where(snap, np.round(adc, 1), adc)
        allow = rng.random(size=(m, n)) < (0.9 if trial % 2 else 0.08)
        cand_ids = rng.permutation(n) * 13

        mask = _adc_shortlist(adc, allow, cand_ids, pre)

        for i in range(m):
            ok = np.flatnonzero(allow[i])
            want = sorted(ok[np.lexsort((cand_ids[ok], -adc[i, ok]))][:pre].tolist())
            got = sorted(np.flatnonzero(mask[i]).tolist())
            assert got == want, f"trial {trial} row {i}"


def test_blocked_topk_matches_numpy_at_scale(spark):
    """Full cross-check against numpy on enough rows that a co-partitioning
    bug can't hide (the cogroup key-type mismatch passed every toy-sized
    test and the sf0.01 oracle, and only diverged at thousands of rows)."""
    import numpy as np

    rng = np.random.default_rng(7)
    X = rng.normal(size=(600, 16)).astype(np.float32)
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(600)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(8)

    got = {}
    for r in brute_force_top_k(df, df, k=3, n_blocks=4, round_digits=6).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine_sim"]))

    Xd = X.astype(np.float64)
    Xn = Xd / np.linalg.norm(Xd, axis=1, keepdims=True)
    S = Xn @ Xn.T
    p = 1e6
    Sr = np.sign(S) * np.floor(np.abs(S) * p + 0.5) / p
    ids = np.arange(600)
    bad = 0
    for q in range(600):
        s = Sr[q].copy()
        s[q] = -2
        order = np.lexsort((ids, -s))[:3]
        expect = [(rk + 1, int(ids[j]), s[j]) for rk, j in enumerate(order)]
        if sorted(got[q]) != expect:
            bad += 1
    assert bad == 0


def test_clustered_embeddings_creates_cosine_structure(spark):
    """The clustered fixture must (a) be deterministic, (b) give in-label
    pairs higher cosine than cross-label pairs — the property that makes
    it a fair IVF demonstration corpus."""
    import math

    from wellmeet_data_pipeline_spark.operators.similarity import clustered_embeddings

    # pseudo-random base vectors (hash-style — a plain sinusoid family
    # spans a 2-D subspace and can't separate); labels carry NO structure
    def h(i, d):
        return (math.sin(i * 12.9898 + d * 78.233) * 43758.5453) % 1.0 * 2 - 1

    rows = [(i, [h(i, d) for d in range(16)], i % 4) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    a = {r["vec_id"]: r["embedding"] for r in clustered_embeddings(df).collect()}
    b = {r["vec_id"]: r["embedding"] for r in clustered_embeddings(df).collect()}
    assert a == b  # deterministic, no RNG

    import numpy as np

    ids = sorted(a)
    X = np.array([a[i] for i in ids])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    lab = np.array([i % 4 for i in ids])
    same = S[(lab[:, None] == lab[None, :]) & ~np.eye(len(ids), dtype=bool)]
    diff = S[lab[:, None] != lab[None, :]]
    assert same.min() > diff.max()  # clusters are separated in cosine space


def test_ivf_low_probe_high_recall_on_clustered_fixture(spark):
    """The registry operating point in miniature: on clustered data IVF
    probing 25% of buckets must reproduce (almost) the exact top-k —
    here exactly, since the clusters are tight."""
    import math

    from wellmeet_data_pipeline_spark.operators.similarity import (
        brute_force_top_k,
        clustered_embeddings,
        ivf_top_k,
    )

    def h(i, d):
        return (math.sin(i * 12.9898 + d * 78.233) * 43758.5453) % 1.0 * 2 - 1

    rows = [(i, [h(i, d) for d in range(16)], i % 4) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    e = clustered_embeddings(df)
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_top_k(e, k=3, n_centroids=8, nprobe=2, round_digits=4).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_top_k(e, e, k=3, round_digits=4).collect()
    }
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.9


def test_ivf_sparse_id_space_falls_back_to_hash_sample(spark):
    """(id % seed_mod == 0) assumes dense ids; with a sparse/hashed id
    space the modulus sample can yield almost no centroids.  The operator
    must fall back to a hash-order sample and still return correct
    results rather than silently degrading to one giant bucket."""
    rows = [(1_000_003 + i * 7919, [float((i * 13 + d * 5) % 11) for d in range(6)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ivf = ivf_top_k(df, k=2, n_centroids=4, nprobe=4, round_digits=4)
    bf = brute_force_top_k(df, df, k=2, round_digits=4)
    got_ivf = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in ivf.collect()}
    got_bf = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in bf.collect()}
    assert got_ivf == got_bf  # nprobe == n_centroids -> exact, if buckets exist


def test_ivfpq_recall_on_clustered_fixture(spark):
    """IVF-PQ with 25% probe + ADC preselect + exact re-rank must track
    the exact tier on clustered data (same bar as flat IVF)."""
    import math

    from wellmeet_data_pipeline_spark.operators.similarity import (
        brute_force_top_k,
        clustered_embeddings,
        ivf_pq_top_k,
    )

    def h(i, d):
        return (math.sin(i * 12.9898 + d * 78.233) * 43758.5453) % 1.0 * 2 - 1

    rows = [(i, [h(i, d) for d in range(16)], i % 4) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    e = clustered_embeddings(df)
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_top_k(
            e, k=3, n_centroids=8, nprobe=2, m_subspaces=4, n_codes=16, round_digits=4,
            oversample=8,
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_top_k(e, e, k=3, round_digits=4).collect()
    }
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.9


def test_ivfpq_deterministic_under_repartition(spark):
    """Codebooks, centroid sample, ADC shortlist, and re-rank are all
    deterministic — the result must be identical however the input is
    partitioned (ADC ties break on id, not row order)."""
    rows = [(i, [float((i * 13 + d * 5) % 11) for d in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from wellmeet_data_pipeline_spark.operators.similarity import ivf_pq_top_k

    kw = dict(k=2, n_centroids=4, nprobe=2, m_subspaces=4, n_codes=8, round_digits=4)
    one = sorted(map(tuple, ivf_pq_top_k(df, **kw).collect()))
    two = sorted(map(tuple, ivf_pq_top_k(df.repartition(7), **kw).collect()))
    assert one == two


def test_ivfpq_full_probe_matches_bruteforce(spark):
    """nprobe == n_centroids and a generous oversample: the ADC stage may
    only reorder the shortlist, the exact re-rank must recover the true
    top-k exactly."""
    df = _vecs(spark)
    from wellmeet_data_pipeline_spark.operators.similarity import ivf_pq_top_k

    pq = ivf_pq_top_k(
        df, k=1, n_centroids=3, nprobe=3, seed_mod=1, m_subspaces=3, n_codes=4,
        oversample=10,
    )
    bf = brute_force_top_k(df, df, k=1)
    got_pq = {r["query_id"]: r["neighbor_id"] for r in pq.collect()}
    got_bf = {r["query_id"]: r["neighbor_id"] for r in bf.collect()}
    assert got_pq == got_bf


@pytest.mark.parametrize(
    "call, match",
    [
        pytest.param(
            lambda df: ivf_pq_top_k(
                df, k=1, n_centroids=2, seed_mod=1, m_subspaces=2
            ).collect(),
            "not divisible",
            id="ivf_pq_top_k-m_subspaces",
        ),
        pytest.param(
            lambda df: ivf_pq_top_k(
                df, k=1, n_centroids=2, seed_mod=1, m_subspaces=3, n_codes=300
            ),
            "n_codes",
            id="ivf_pq_top_k-n_codes",
        ),
        pytest.param(
            lambda df: ivf_pq_top_k(df, k=1, n_centroids=2, nprobe=0, m_subspaces=3),
            "nprobe",
            id="ivf_pq_top_k-nprobe",
        ),
        pytest.param(
            lambda df: ivf_top_k(df, 5, n_centroids=0),
            "n_centroids",
            id="ivf_top_k-n_centroids",
        ),
        pytest.param(
            lambda df: ivf_top_k(df, 5, nprobe=0), "nprobe", id="ivf_top_k-nprobe"
        ),
        pytest.param(
            lambda df: ivf_cross_top_k(df, df, 5, n_centroids=0),
            "n_centroids",
            id="ivf_cross_top_k-n_centroids",
        ),
        pytest.param(
            lambda df: ivf_cross_top_k(df, df, 5, nprobe=0),
            "nprobe",
            id="ivf_cross_top_k-nprobe",
        ),
        pytest.param(
            lambda df: semantic_dedup(df, 0.9, n_centroids=0),
            "n_centroids",
            id="semantic_dedup-n_centroids",
        ),
    ],
)
def test_ivfpq_parameter_validation(spark, call, match):
    """Invalid index sizes fail with a ValueError naming the parameter
    (n_centroids=0 used to divide by zero; nprobe=0 returned no rows)."""
    with pytest.raises(ValueError, match=match):
        call(_vecs(spark))


def test_ivfpq_survives_zero_vector_rows(spark):
    """A zero-norm vector must not poison the PQ codebooks (NaN rows in
    the training sample would NaN every Lloyd mean) nor crash encoding;
    results for the normal rows stay correct."""
    from wellmeet_data_pipeline_spark.operators.similarity import ivf_pq_top_k

    rows = [(i, [float((i * 13 + d * 5) % 11) for d in range(8)]) for i in range(40)]
    rows.append((999, [0.0] * 8))  # zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = ivf_pq_top_k(
        df, k=2, n_centroids=4, nprobe=4, seed_mod=1, m_subspaces=4, n_codes=8,
        oversample=10,
    ).collect()
    import math

    assert all(not math.isnan(r["cosine_sim"]) for r in got)
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
    assert len(per_q) >= 40  # normal rows all got neighbors


def test_hard_negative_top_k_excludes_same_label_and_self(spark):
    """Hard negatives: nearest DIFFERENT-label neighbors only — same-label
    near-dups (the easy positives) never appear."""
    from wellmeet_data_pipeline_spark.operators.similarity import hard_negative_top_k

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.99, 0.1, 0.0], 0),   # same label as 1, nearly identical
        (3, [0.9, 0.2, 0.0], 1),    # different label, close to 1
        (4, [0.0, 1.0, 0.0], 1),
        (5, [0.0, 0.95, 0.1], 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {}
    labels = {r[0]: r[2] for r in rows}
    for r in hard_negative_top_k(df, k=2).collect():
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
        assert labels[r["query_id"]] != labels[r["neighbor_id"]]
        assert r["query_id"] != r["neighbor_id"]
    # 1's hardest negative is 3 (cos ~0.975), NOT its same-label twin 2
    assert got[1][0] == 3
    # 4's hardest negative is 5 (different label, cos ~0.99)
    assert got[4][0] == 5


def test_ivf_tiers_empty_input_returns_empty(spark):
    """An empty (e.g. fully-filtered micro-batch) input must yield an
    empty result frame from both approximate tiers, matching the exact
    tiers — not an np.vstack crash in the centroid sample."""
    from wellmeet_data_pipeline_spark.operators.similarity import (
        ivf_pq_top_k,
        ivf_top_k,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert ivf_top_k(empty, k=3, n_centroids=4, seed_mod=1).count() == 0
    assert ivf_pq_top_k(empty, k=3, n_centroids=4, seed_mod=1).count() == 0


def test_semantic_dedup_keeps_least_central_per_group(spark):
    from wellmeet_data_pipeline_spark.operators.similarity import semantic_dedup

    # one tight duplicate group (1,2,3), a looser pair (10,11) below the
    # threshold, and an isolated vector (99)
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0]),
        (3, [0.998, 0.002, 0.0]),
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.8, 0.6]),
        (99, [0.0, 0.0, 1.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(e, threshold=0.999, n_centroids=3, seed_mod=1).toPandas()
    assert len(out) == 6
    by_id = out.set_index("vec_id")
    # 1,2,3 form one duplicate group; survivor = least similar to the
    # cluster centroid (tie-break lowest id); the rest of that group drops
    grp = by_id.loc[[1, 2, 3]]
    assert grp["kept"].sum() == 1
    survivor = grp[grp["kept"]].index[0]
    assert survivor == grp["centroid_sim"].idxmin()
    # vectors never in a >=threshold pair all survive
    assert bool(by_id.loc[10, "kept"]) and bool(by_id.loc[11, "kept"])
    assert bool(by_id.loc[99, "kept"])


def test_semantic_dedup_one_survivor_per_component_and_empty_input(spark):
    from wellmeet_data_pipeline_spark.operators.similarity import semantic_dedup

    # chain a~b, b~c across one cluster: transitive closure must keep ONE
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9999, 0.0001]),
        (3, [0.9998, 0.0002]),
        (4, [-1.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(e, threshold=0.9999, n_centroids=2, seed_mod=1).toPandas()
    assert out[out.vec_id.isin([1, 2, 3])]["kept"].sum() == 1
    assert bool(out[out.vec_id == 4]["kept"].iloc[0])

    empty = e.filter("vec_id < 0")
    out2 = semantic_dedup(empty, threshold=0.9, n_centroids=2, seed_mod=1)
    assert out2.count() == 0


def test_embedding_label_outliers_finds_planted_outlier(spark):
    from wellmeet_data_pipeline_spark.operators.similarity import (
        embedding_label_outliers,
    )

    # label 0: tight cluster around e1 plus one vector pointing elsewhere;
    # label 1: two agreeing vectors
    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [0.99, 0.01, 0.0]),
        (3, 0, [0.98, 0.02, 0.0]),
        (4, 0, [0.0, 0.0, 1.0]),  # the planted mislabeled point
        (10, 1, [0.0, 1.0, 0.0]),
        (11, 1, [0.0, 0.95, 0.05]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = embedding_label_outliers(e, k=1).collect()
    by_label = {r["label"]: r for r in out}
    assert by_label[0]["vec_id"] == 4  # farthest from the label-0 centroid
    assert by_label[0]["rank"] == 1
    assert by_label[0]["centroid_sim"] < by_label[1]["centroid_sim"]


def test_kmeans_assign_step_hand_computed(spark):
    from wellmeet_data_pipeline_spark.operators.similarity import kmeans_assign_step

    # seeds = two lowest ids: (0,0) and (10,0).  Points 3/4 sit nearer
    # seed 1, point 5 nearer seed 2; tie point (5,0) -> lower seed id.
    rows = [
        (1, [0.0, 0.0]),
        (2, [10.0, 0.0]),
        (3, [1.0, 0.0]),
        (4, [0.0, 2.0]),
        (5, [9.0, 0.0]),
        (6, [5.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["cluster_id"]: r for r in kmeans_assign_step(df, k=2).collect()}
    assert {c: r["n_members"] for c, r in got.items()} == {1: 4, 2: 2}
    # cluster 1 members: dists 0, 1, 4, 25 -> mean 7.5; cluster 2: 0, 1 -> 0.5
    assert got[1]["mean_dist"] == 7.5
    assert got[2]["mean_dist"] == 0.5


def test_embedding_int8_stats_hand_computed(spark):
    from wellmeet_data_pipeline_spark.operators.similarity import embedding_int8_stats

    # dim 0: values 0..10 -> span 10, q = round(x/10*255); dim 1 constant
    rows = [(1, [0.0, 5.0]), (2, [10.0, 5.0]), (3, [3.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["pos"]: r for r in embedding_int8_stats(df).collect()}
    assert (got[0]["vmin"], got[0]["vmax"]) == (0.0, 10.0)
    # x=3: q=floor(76.5+.5)=77 -> deq=77*10/255=3.019607843.. err≈0.019608
    import math
    err3 = math.floor(abs(3.0 - 77 * 10.0 / 255.0) * 1e6 + 0.5)
    assert got[0]["max_abs_err"] == err3 / 1e6
    assert got[0]["mean_abs_err"] == round(err3 / 3 / 1e6, 6)
    # constant dim: span 0 -> q 0, zero error by convention
    assert (got[1]["mean_abs_err"], got[1]["max_abs_err"]) == (0.0, 0.0)


def test_ivf_index_merge_drift_semantics(spark):
    from wellmeet_data_pipeline_spark.operators.similarity import ivf_index_merge

    # two well-separated buckets seeded by vec 1 (x-axis) and vec 2 (y-axis)
    old = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.9, 0.1, 0.0]),   # joins bucket 1
            (4, [0.1, 0.9, 0.0]),   # joins bucket 2
        ],
        "vec_id long, embedding array<double>",
    )
    # batch A: same directions -> no drift anywhere
    same = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["centroid_id"]: r
        for r in ivf_index_merge(old, same, k=2).collect()
    }
    assert got[1]["n_before"] == 2 and got[1]["n_added"] == 1
    assert got[2]["n_before"] == 2 and got[2]["n_added"] == 1
    assert got[1]["mean_shift_cos"] > 0.999
    assert got[2]["mean_shift_cos"] > 0.999

    # batch B: z-axis newcomers land somewhere and DRAG the mean off-axis
    drift = spark.createDataFrame(
        [(20, [0.6, 0.0, 0.8]), (21, [0.0, 0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    got2 = {
        r["centroid_id"]: r for r in ivf_index_merge(old, drift, k=2).collect()
    }
    assert got2[1]["mean_shift_cos"] < 0.99  # retrain trigger fires
    assert got2[2]["mean_shift_cos"] < 0.99
    # empty new batch: index unchanged, drift exactly 1.0
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    got3 = {
        r["centroid_id"]: r for r in ivf_index_merge(old, empty, k=2).collect()
    }
    assert all(r["n_added"] == 0 for r in got3.values())
    assert all(r["mean_shift_cos"] == 1.0 for r in got3.values())


def test_ivf_index_merge_drops_short_vectors(spark):
    # ragged-dim contract: dim = max length across both inputs; a short
    # vector must be dropped, not silently mis-assigned via NULL cosine
    from wellmeet_data_pipeline_spark.operators.similarity import ivf_index_merge

    old = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    new = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.5, 0.5])],  # 11 is short -> dropped
        "vec_id long, embedding array<double>",
    )
    got = {r["centroid_id"]: r for r in ivf_index_merge(old, new, k=2).collect()}
    assert got[1]["n_added"] == 1 and got[2]["n_added"] == 0


def test_matryoshka_recall_identity_at_full_dim(spark):
    """Slicing the full dimensionality is a no-op: prefix top-k == full
    top-k, so every query reports recall exactly 1e6 — pins the join/
    accounting logic of matryoshka_prefix_recall independent of any
    truncation effect."""
    from wellmeet_data_pipeline_spark.operators.similarity import brute_force_top_k
    from pyspark.sql import functions as F

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    ).limit(60).localCheckpoint(eager=True)
    dim = len(e.first()["embedding"])
    full = brute_force_top_k(e, e, k=5, round_digits=4).select("query_id", "neighbor_id")
    pre_src = e.select("vec_id", F.expr(f"slice(embedding, 1, {dim})").alias("embedding"))
    pre = brute_force_top_k(pre_src, pre_src, k=5, round_digits=4).select(
        "query_id", "neighbor_id"
    )
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, pre.collect()))


def test_shared_assignment_frame_undersized_nprobe_raises(spark):
    """r9 advice: passing a shared ivf_assignments frame built at a
    SMALLER nprobe than the consumer's must raise, not silently degrade
    recall by probing fewer buckets."""
    import pytest as _pytest

    from wellmeet_data_pipeline_spark.operators.similarity import (
        ivf_assignments,
        ivf_top_k,
    )

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(64)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    shared = ivf_assignments(e, n_centroids=8, nprobe=2, seed_mod=8)
    with _pytest.raises(Exception, match="probe targets"):
        ivf_top_k(
            e, k=3, n_centroids=8, nprobe=4, seed_mod=8, shared=shared
        ).collect()
    # built wide enough -> serves a smaller nprobe fine
    shared4 = ivf_assignments(e, n_centroids=8, nprobe=4, seed_mod=8)
    assert ivf_top_k(
        e, k=3, n_centroids=8, nprobe=2, seed_mod=8, shared=shared4
    ).count() > 0
