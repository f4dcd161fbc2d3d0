from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.operators.dedup import (
    dedup_keep_first,
    exact_dedup_documents,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_df,
    shingles_df,
)
from wellmeet_data_pipeline_spark.operators.joins import (
    high_water_mark_filter,
    insert_if_absent,
)
from wellmeet_data_pipeline_spark.operators.projections import (
    project_review,
    project_review_api_payload,
)
from wellmeet_data_pipeline_spark.operators.setops import union_all
from wellmeet_data_pipeline_spark.sources.ingest import incremental_ingest


def test_dedup_keep_first_is_deterministic(spark):
    df = spark.createDataFrame(
        [(3, "k1", "late"), (1, "k1", "first"), (2, "k2", "only")],
        "seq int, key string, val string",
    )
    out = {r["key"]: r["val"] for r in dedup_keep_first(df, "key", "seq").collect()}
    assert out == {"k1": "first", "k2": "only"}


def test_anti_new_rows(spark):
    # the J1 anti join of new places: incremental_ingest on a named key column
    new = spark.createDataFrame([("a",), ("b",), ("c",)], "place_id string")
    seen = spark.createDataFrame([("b",)], "place_id string")
    got = {r["place_id"] for r in incremental_ingest(new, seen, "place_id").collect()}
    assert got == {"a", "c"}


def test_insert_if_absent_dedups_batch_then_filters(spark):
    incoming = spark.createDataFrame(
        [("r1", "addr1", 1), ("r1", "addr1", 2), ("r2", "addr2", 3)],
        "name string, address string, seq int",
    )
    existing = spark.createDataFrame([("r2", "addr2")], "name string, address string")
    got = insert_if_absent(incoming.orderBy("seq"), existing, ["name", "address"]).collect()
    assert len(got) == 1 and got[0]["name"] == "r1"


def test_high_water_mark_filter(spark):
    df = spark.createDataFrame([(1,), (5,), (9,)], "ts int")
    assert high_water_mark_filter(df, "ts", 4).count() == 2


def test_project_review_defaults(spark):
    # naver_crawler.py:182-183 (author default), :194-195 (content default)
    raw = spark.createDataFrame(
        [(None, None, "7.25.금", "123")], "author string, content string, visit_date string, place_id string"
    )
    row = project_review(raw).collect()[0]
    assert row["author"] == "익명" and row["content"] == ""
    assert len(row["id"]) == 64


def test_project_api_payload_cast_default(spark):
    # save-reviews/lambda_function.py:70 — int(place_id) with default
    raw = spark.createDataFrame(
        [("notanumber", "text", "h1"), ("42", "t2", "h2")], "place_id string, content string, id string"
    )
    rows = {r["hash"]: r["restaurantId"] for r in project_review_api_payload(raw).collect()}
    assert rows == {"h1": 0, "h2": 42}


def test_union_all_allow_missing(spark):
    a = spark.createDataFrame([(1, "x")], "id int, extra string")
    b = spark.createDataFrame([(2,)], "id int")
    got = union_all([a, b], allow_missing=True)
    assert got.count() == 2 and set(got.columns) == {"id", "extra"}


_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
    (3, "the quick brown fox jumps over the lazy cat again and again"),  # near dup
    (4, "completely different words about spark query engines at scale"),
]


def _docs_df(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def test_exact_dedup_documents(spark):
    kept = {r["doc_id"] for r in exact_dedup_documents(_docs_df(spark)).collect()}
    assert kept == {1, 3, 4}


def test_minhash_finds_near_dups(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(_docs_df(spark)).collect()}
    assert (1, 2) in pairs
    assert all(p != (1, 4) and p != (2, 4) for p in pairs)


def test_ngram_jaccard(spark):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs_df(spark), threshold=0.5).collect()
    }
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got  # near dup above 0.5
    assert (1, 4) not in got


def test_simhash_exact_dup_collides(spark):
    h = {r["doc_id"]: r["simhash"] for r in simhash_df(_docs_df(spark)).collect()}
    assert h[1] == h[2]
    assert h[1] != h[4]


def test_shingles_df(spark):
    df = spark.createDataFrame([(1, "A b, c d")], "doc_id long, text string")
    got = [r["shingle"] for r in shingles_df(df, n=3).orderBy("shingle").collect()]
    assert got == ["a b c", "b c d"]


def test_custom_minhash_agrees_with_spark_ml_lsh(spark):
    # cross-validate our LSH against spark.ml's MinHashLSH on the same
    # shingle sets: the extreme near-dup pair (1,2) must be a candidate in
    # both, and the unrelated doc 4 must pair with nothing under a tight
    # distance threshold
    from pyspark.ml.feature import CountVectorizer, MinHashLSH
    from pyspark.sql import functions as F

    from wellmeet_data_pipeline_spark.operators.dedup import shingles_df

    docs = _docs_df(spark)
    shingle_sets = (
        shingles_df(docs, n=3)
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shingles"))
    )
    cv = CountVectorizer(inputCol="shingles", outputCol="features", binary=True)
    model = cv.fit(shingle_sets)
    feats = model.transform(shingle_sets)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    lsh_model = lsh.fit(feats)
    sim = lsh_model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    ml_pairs = {
        (r["datasetA"]["doc_id"], r["datasetB"]["doc_id"])
        for r in sim.collect()
        if r["datasetA"]["doc_id"] < r["datasetB"]["doc_id"]
    }
    assert (1, 2) in ml_pairs
    assert all(4 not in p for p in ml_pairs)

    from wellmeet_data_pipeline_spark.operators.dedup import minhash_lsh_candidates

    ours = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs).collect()}
    assert (1, 2) in ours
    assert all(4 not in p for p in ours)


def test_simhash_near_dup_pairs_hamming_ball(spark):
    from wellmeet_data_pipeline_spark.operators.dedup import simhash_near_dup_pairs

    base = 0b1010_1100_0011_0101
    rows = [
        (1, base),
        (2, base ^ 0b101),          # hamming 2 -> pair
        (3, base - (1 << 63)),      # sign bit flipped (two's complement): hamming 1 -> pair
        (4, ~base),                 # hamming 64 -> no pair
    ]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dup_pairs(df).collect()}
    assert got[(1, 2)] == 2
    assert got[(1, 3)] == 1
    assert (2, 3) in got  # hamming 3
    assert all(4 not in pair for pair in got)


def test_http_sink_retry_and_rate(spark):
    from wellmeet_data_pipeline_spark.sinks.http import post_partitioned, post_report

    df = spark.createDataFrame([("1", "flaky"), ("2", "ok"), ("3", "dead")], "id string, content string")

    # counts shared per-partition worker; coalesce(1) keeps one worker
    def make_poster():
        attempts = {}

        def poster(rec):
            n = attempts.get(rec["id"], 0) + 1
            attempts[rec["id"]] = n
            if rec["content"] == "dead":
                raise RuntimeError("永 fails")
            if rec["content"] == "flaky" and n < 3:
                raise RuntimeError("transient")

        return poster

    results = post_partitioned(
        df.coalesce(1), make_poster(), max_retries=2, sleeper=lambda s: None
    )
    report = post_report(results)
    assert report["success"] == 2          # flaky succeeds on 3rd attempt
    assert report["failed"] == 1           # dead exhausts retries
    assert "RuntimeError" in report["errors"][0]

def test_ngram_jaccard_df_cap_bounds_hot_shingle(spark):
    """A stop-shingle shared by every doc must not blow up the inverted
    index: with the DF cap it is dropped from the index AND the set
    sizes, so pair counts stay bounded by the rare shingles only."""
    hot = "the quick fox"  # one shared 3-gram across all docs
    rows = [(i, f"{hot} unique{i} tail{i} end{i}") for i in range(1, 21)]
    # docs 1/2 share their rare shingles too -> true near-dups
    rows[1] = (2, f"{hot} unique1 tail1 end1")
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(df, threshold=0.1, max_shingle_df=5).collect()
    # hot shingle dropped: only the doc1/doc2 rare-shingle overlap survives
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(1, 2)}
    assert capped[0]["jaccard"] == 1.0  # jaccard over the capped universe

    uncapped = ngram_jaccard_pairs(df, threshold=0.1, max_shingle_df=None).collect()
    # without the cap every doc pair meets through the hot shingle: 20*19/2
    assert len(uncapped) == 190

    # cap high enough to be inert -> identical to exact uncapped semantics
    inert = ngram_jaccard_pairs(df, threshold=0.1, max_shingle_df=10_000).collect()
    assert sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in inert) == sorted(
        (r["id_a"], r["id_b"], r["jaccard"]) for r in uncapped
    )


def test_connected_components_multi_hop_chain(spark):
    """A chain a-b-c-d must collapse to one component (min id) even though
    a and d never share an edge — requires real propagation, not one hop."""
    from wellmeet_data_pipeline_spark.operators.dedup import (
        connected_components,
        dedup_cluster_survivors,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame([(i, f"d{i}") for i in [1, 2, 3, 4, 10, 11, 50]],
                                 "doc_id long, text string")
    kept = {r["doc_id"] for r in dedup_cluster_survivors(docs, edges).collect()}
    assert kept == {1, 10, 50}  # one survivor per cluster + untouched singleton


def test_connected_components_long_chain_converges(spark):
    """A 1000-link chain (diameter 999) must converge within the default
    round budget — the large/small-star alternation is O(log n) rounds,
    independent of diameter, unlike min-label propagation which would
    need ~1000 rounds and previously aborted at 20."""
    from pyspark.sql import functions as F

    from wellmeet_data_pipeline_spark.operators.dedup import connected_components

    chain = spark.range(1, 1000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    got = connected_components(chain).agg(
        F.countDistinct("component").alias("n_comp"),
        F.count("*").alias("n_nodes"),
        F.max("component").alias("max_label"),
    ).collect()[0]
    assert (got["n_comp"], got["n_nodes"], got["max_label"]) == (1, 1000, 1)


def test_dedup_against_reference_drops_only_cross_corpus_near_dups(spark):
    """Cross-corpus dedup: a new doc sharing (near-)identical text with
    the REFERENCE corpus is dropped; unrelated new docs and new-vs-new
    duplicates survive (only cross-corpus hits count)."""
    from wellmeet_data_pipeline_spark.operators.dedup import (
        cross_corpus_near_dup_ids_sha,
        dedup_against_reference_sha,
    )

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),  # in ref
            (2, "the quick brown fox jumps over the lazy cat again and again"),  # near ref
            (3, "completely different words about spark query engines at scale"),
            (4, "completely different words about spark query engines at scale"),  # dup of 3, NOT of ref
        ],
        "doc_id long, text string",
    )
    hits = {r["doc_id"] for r in cross_corpus_near_dup_ids_sha(new, ref).collect()}
    assert 1 in hits and 3 not in hits and 4 not in hits
    kept = {r["doc_id"] for r in dedup_against_reference_sha(new, ref).collect()}
    assert kept == {1, 2, 3, 4} - hits
    assert {3, 4} <= kept  # new-vs-new dups are NOT cross-corpus hits


def test_global_rank_cumsum_matches_single_partition_window(spark):
    from pyspark.sql import Window

    from wellmeet_data_pipeline_spark.operators.windows import global_rank_cumsum

    rows = [(f"k{i:03d}", (i * 37) % 101 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "key string, n int")
    order = [F.col("n").desc(), F.col("key").asc()]
    got = {
        r["key"]: (r["rank"], r["cum"])
        for r in global_rank_cumsum(df, order, sum_col="n", num_partitions=7).collect()
    }
    w = Window.orderBy(*order)
    want = {
        r["key"]: (r["rank"], r["cum"])
        for r in df.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum", F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .collect()
    }
    assert got == want


def test_global_rank_cumsum_rank_only_and_single_row(spark):
    from wellmeet_data_pipeline_spark.operators.windows import global_rank_cumsum

    df = spark.createDataFrame([("a", 5)], "key string, n int")
    out = global_rank_cumsum(df, [F.col("n").asc()], num_partitions=4).collect()
    assert len(out) == 1 and out[0]["rank"] == 1 and "cum" not in out[0].asDict()


def test_registry_driver_window_is_oracle_backed(spark):
    """The driver snapshots the first 50 REGISTRY entries; the rotation must
    keep that window exactly _DRIVER_WINDOW and never waste a slot on a
    rows-only (oracle=None) query — EXCEPT the explicitly allowlisted
    entries (r12 verdict item 5 spends 4 slots so the only
    zero-driver-evidence rows-only queries get a rows>0 driver row)."""
    from wellmeet_data_pipeline_spark.plans.queries import (
        _DRIVER_WINDOW,
        _ROWS_ONLY_WINDOW_ALLOWLIST,
        REGISTRY,
    )

    names = list(REGISTRY)
    assert names[: len(_DRIVER_WINDOW)] == _DRIVER_WINDOW
    assert len(_DRIVER_WINDOW) == 50
    assert all(
        REGISTRY[n].oracle is not None
        for n in _DRIVER_WINDOW
        if n not in _ROWS_ONLY_WINDOW_ALLOWLIST
    )
    # the allowlist itself must stay small and name only rows-only entries
    assert len(_ROWS_ONLY_WINDOW_ALLOWLIST) <= 4
    assert all(
        REGISTRY[n].oracle is None for n in _ROWS_ONLY_WINDOW_ALLOWLIST
    )
    assert len(names) == len(set(names))


def test_cross_doc_spans_finds_maximal_shared_spans(spark):
    from wellmeet_data_pipeline_spark.operators.dedup import cross_doc_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, f"intro one two three {shared} tail xx yy"),
            (2, f"{shared} completely different ending here now"),
            (3, "no overlap with anything else at all in this document"),
        ],
        "doc_id long, text string",
    )
    out = cross_doc_spans(docs, min_tokens=8).collect()
    # exactly one maximal span between docs 1 and 2 — the 10 shared words;
    # sub-spans of it must have been merged, doc 3 appears nowhere
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["span_tokens"] == 10
    assert r["start_a"] == 4 and r["start_b"] == 0


def test_cross_doc_spans_df_cap_drops_boilerplate_grams(spark):
    from wellmeet_data_pipeline_spark.operators.dedup import cross_doc_spans

    boiler = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(i, f"doc {i} says {boiler}") for i in range(1, 6)],
        "doc_id long, text string",
    )
    uncapped = cross_doc_spans(docs, min_tokens=8).collect()
    assert len(uncapped) == 10  # all C(5,2) pairs share the span
    capped = cross_doc_spans(docs, min_tokens=8, max_gram_df=3).collect()
    assert capped == []  # gram df=5 exceeds the cap


def test_graph_pagerank_star_center_ranks_highest(spark):
    from wellmeet_data_pipeline_spark.operators.dedup import graph_pagerank

    # star: 0 connected to 1..4, plus an isolated pair (10, 11)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r["node"]: r for r in graph_pagerank(edges, iters=3).collect()}
    assert out[0]["degree"] == 4
    # the hub dominates every leaf; the symmetric pair members tie
    assert all(out[0]["pagerank"] > out[v]["pagerank"] for v in (1, 2, 3, 4))
    assert out[10]["pagerank"] == out[11]["pagerank"]
    assert out[1]["pagerank"] == out[2]["pagerank"] == out[3]["pagerank"]
    # rank mass is conserved across the whole graph (no dangling nodes)
    assert abs(sum(r["pagerank"] for r in out.values()) - 1.0) < 1e-4

    empty = edges.filter("id_a < 0")
    assert graph_pagerank(empty).count() == 0


def test_heavy_hitters_exact_threshold_and_bound(spark):
    from wellmeet_data_pipeline_spark.operators.aggregations import heavy_hitters

    # 20 rows: key "hot" 10x (share .5), "warm" 5x (.25), 5 singletons
    rows = [("hot",)] * 10 + [("warm",)] * 5 + [(f"u{i}",) for i in range(5)]
    df = spark.createDataFrame(rows, "k string")
    got = {r["k"]: (r["n"], r["share"]) for r in heavy_hitters(df, "k", 0.25).collect()}
    assert got == {"hot": (10, 0.5), "warm": (5, 0.25)}  # >= is inclusive
    assert heavy_hitters(df, "k", 0.251).count() == 1


def test_table_checksum_detects_content_change_not_order(spark):
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY
    from pyspark.sql import functions as F

    hv = lambda c: F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast("long")
    mk = lambda rows: (
        spark.createDataFrame(rows, "g string, v string")
        .select("g", hv(F.col("v")).alias("h"))
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.bit_xor("h").alias("cs"))
    )
    base = [("m", "row1"), ("m", "row2"), ("m", "row3")]
    a = {r["g"]: (r["n"], r["cs"]) for r in mk(base).collect()}
    b = {r["g"]: (r["n"], r["cs"]) for r in mk(list(reversed(base))).collect()}
    assert a == b  # xor-fold is order-independent
    c = {r["g"]: (r["n"], r["cs"]) for r in mk(base[:2] + [("m", "row3x")]).collect()}
    assert a != c  # a single changed row flips the checksum


def test_equi_depth_buckets_hand_computed(spark):
    from wellmeet_data_pipeline_spark.operators.windows import equi_depth_buckets
    from pyspark.sql import functions as F

    # 8 rows, values 1..8 -> 4 buckets of exactly 2; plus a tie-heavy
    # group where value 5 holds half the mass and must stay in ONE bucket
    rows = [("u", v) for v in range(1, 9)] + [("t", 5)] * 4 + [("t", 1), ("t", 2), ("t", 9), ("t", 10)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {(r["g"], r["bucket"]): r for r in
           equi_depth_buckets(df, "g", "v", n_buckets=4).collect()}
    for b in range(4):
        r = got[("u", b)]
        assert r["n_rows"] == 2
        assert (r["lo_value"], r["hi_value"]) == (2 * b + 1, 2 * b + 2)
    # tie group: N=8, boundaries b1=2 (cum 2), b2=5 (cum 6), b3=5 -> no
    # bucket 2; the tie mass lands wholly in bucket 1
    assert got[("t", 1)]["n_rows"] == 4 and got[("t", 1)]["lo_value"] == 5
    assert ("t", 2) not in got
    assert got[("t", 3)]["n_rows"] == 2  # 9, 10


def test_daily_anomaly_exact_integer_z_test(spark):
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY
    from pyspark.sql import functions as F, Window

    # stable baseline of 10/day, then a 100-count spike day and a
    # back-to-normal day; first days lack history -> NULL
    rows = []
    for i, n in enumerate([10, 10, 10, 10, 100, 10]):
        for j in range(n):
            rows.append((f"2024-01-{i+1:02d}", j))
    df = spark.createDataFrame(rows, "day string, j long")
    d = df.groupBy("day").agg(F.count("*").alias("n"))
    w = Window.partitionBy(F.lit(1)).orderBy("day").rowsBetween(-7, -1)
    d = d.select(
        "day", "n",
        F.sum("n").over(w).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("ss"),
        F.count("n").over(w).alias("c"),
    )
    dev = F.col("c") * F.col("n") - F.col("s")
    var4 = 4 * (F.col("c") * F.col("ss") - F.col("s") * F.col("s"))
    flag = F.when(F.col("c") < 3, F.lit(None).cast("boolean")).otherwise(dev * dev > var4)
    got = {r["day"]: r["f"] for r in d.select("day", flag.alias("f")).collect()}
    assert got["2024-01-01"] is None and got["2024-01-02"] is None
    assert got["2024-01-04"] is False        # flat baseline, no anomaly
    assert got["2024-01-05"] is True         # the spike (sigma = 0 baseline)
    assert got["2024-01-06"] is False        # 10 is within 2 sigma of {10,10,10,10,100}


def test_simhash_sha_profile_finds_planted_near_dup(spark):
    # repetition-heavy docs: per-bit votes are large-magnitude, so a single
    # changed word flips ~1 bit (verified offline: hamming(base, var) = 1,
    # hamming(base, other) = 25) — SimHash's operating regime; short docs
    # with a proportionally large edit legitimately land outside hamming 3
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 20).strip()
    w = base.split()
    w[55] = "lambda"
    rows = [
        (1, base),
        (2, " ".join(w)),
        (3, ("orbital mechanics and perturbation theory for satellite "
             "constellations " * 10).strip()),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from wellmeet_data_pipeline_spark.operators.dedup import (
        simhash_sha_df,
        simhash_sha_near_dup_profile,
    )

    sig = {r["doc_id"]: r["simhash"] for r in simhash_sha_df(df).collect()}
    # 48-bit family: always-positive BIGINT fingerprints
    assert all(0 <= v < (1 << 48) for v in sig.values())
    prof = {r["doc_id"]: r["n_near_dups"] for r in
            simhash_sha_near_dup_profile(df).collect()}
    assert prof[1] >= 1 and prof[2] >= 1  # the planted pair found each other
    assert prof[3] == 0


def test_simhash_near_dup_pairs_guards_incomplete_config(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 5)], "doc_id long, simhash long")
    from wellmeet_data_pipeline_spark.operators.dedup import simhash_near_dup_pairs

    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(df, max_hamming=4, bands=4)  # pigeonhole broken
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(df, bands=5, n_bits=48)  # 5 does not divide 48
    # explicit opt-in to incomplete banding is allowed (recall/cost trade)
    out = simhash_near_dup_pairs(df, max_hamming=4, bands=4, require_complete=False)
    assert out.count() == 0  # single row -> no pairs, but no raise


def test_embedding_lsh_sha_pairs_planted_dup_and_zero_vectors(spark):
    import math

    dim = 8
    v = [0.3, -0.2, 0.9, 0.1, -0.5, 0.4, 0.05, -0.7]
    w = [-x for x in v]
    rows = [
        (1, v),
        (2, list(v)),               # exact duplicate -> hamming 0, cosine 1
        (3, w),                     # antipode -> opposite sig bits, no pair
        (4, [0.0] * dim),           # zero vector
        (5, [0.0] * dim),           # second zero vector -> pairs with 4, cos 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from wellmeet_data_pipeline_spark.operators.similarity import (
        embedding_lsh_sha_pairs,
    )

    got = {(r["id_a"], r["id_b"]): (r["hamming"], r["cosine_sim"])
           for r in embedding_lsh_sha_pairs(df).collect()}
    assert got[(1, 2)] == (0, 1.0)
    assert (1, 3) not in got  # antipodal sigs differ in every informative bit
    assert got[(4, 5)][1] == 0.0  # zero-norm guard: cosine 0 by convention
    for (a, b), (h, c) in got.items():
        assert h <= 3 and not math.isnan(c)


def test_embedding_lsh_sha_pairs_drops_short_vectors(spark):
    # Oracle contract: dim = max vector length; shorter vectors are dropped
    # on BOTH engines (a short vector would null-pad zip_with and clear
    # every sign bit on Spark while DuckDB's sum() skips NULLs).
    v = [0.3, -0.2, 0.9, 0.1, -0.5, 0.4, 0.05, -0.7]
    rows = [(1, v), (2, list(v)), (3, v[:4])]  # 3 is short -> dropped
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from wellmeet_data_pipeline_spark.operators.similarity import (
        embedding_lsh_sha_pairs,
    )

    got = {(r["id_a"], r["id_b"]) for r in embedding_lsh_sha_pairs(df).collect()}
    assert (1, 2) in got
    assert all(3 not in pair for pair in got)


def test_label_propagation_splits_barbell(spark):
    """Two triangles joined by one bridge edge: CC merges them into one
    component; synchronous LPA (3 rounds, mode labels, lowest-label
    ties) keeps each triangle its own community — hand-traced rounds."""
    from wellmeet_data_pipeline_spark.operators.dedup import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["label"] for r in label_propagation(edges, iters=3).collect()}
    # round-by-round hand trace: labels start as own ids; neighbor-mode
    # with lowest-label ties pulls each triangle to its min id; node 4
    # hears {3,5,6} (tie) -> 3 in round 1, but rounds 2-3 pull it back
    # toward its triangle's settled label
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == got[6]
    assert got[4] != got[1]


def test_label_propagation_sync_determinism(spark):
    """Synchronous updates: result is identical across repartitionings
    (no asynchronous race — the classic LPA nondeterminism is absent)."""
    from wellmeet_data_pipeline_spark.operators.dedup import label_propagation

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)] + [(5, 15), (1, 19)],
        "id_a long, id_b long",
    )
    a = sorted(map(tuple, label_propagation(edges, iters=3).collect()))
    b = sorted(map(tuple, label_propagation(edges.repartition(7), iters=3).collect()))
    assert a == b


def test_daily_anomaly_mad_hand_computed(spark, tmp_path):
    """MAD flags pinned against hand math on a fixture where the sigma
    rule and the MAD rule DISAGREE: one huge outlier day inflates sigma
    enough to hide a second, smaller anomaly — MAD still flags it."""
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY
    import statistics

    # type A: baseline 10s, one huge day (100), one mild spike (20)
    days = [10, 10, 10, 11, 9, 10, 100, 20]
    rows = []
    eid = 0
    for i, n in enumerate(days):
        for _ in range(n):
            rows.append((eid, f"2024-03-{i+1:02d}T12:00:00.000Z", 1, "A", 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type", "value")
    df.write.parquet(str(tmp_path / "events.parquet"))

    got = {
        r["day"]: r["is_anomaly"]
        for r in REGISTRY["daily_anomaly_mad"].fn(spark, str(tmp_path)).collect()
    }
    med = statistics.median(days)          # 10.0
    mad = statistics.median([abs(n - med) for n in days])  # 0.5
    mad = max(mad, 0.5)  # the query floors MAD at half a count
    for i, n in enumerate(days):
        want = abs(n - med) > 3 * mad
        assert got[f"2024-03-{i+1:02d}"] == want, (i, n)
    # both the huge and the mild spike flag under MAD
    assert got["2024-03-07"] is True and got["2024-03-08"] is True
    # ...but the mild spike HIDES under the 2-sigma rule's global sigma
    mu = statistics.mean(days)
    sigma = statistics.pstdev(days)
    assert abs(20 - mu) <= 2 * sigma  # the robustness argument, pinned


def test_dedup_best_of_cluster_picks_quality_survivor(spark):
    """Drive the REGISTERED query on real data and cross-check its
    max_by(struct(si, -node)) survivor pick against an independent
    row_number-window reference over the same components + scores
    (review catch: the first version re-implemented the rule instead of
    exercising the registered path)."""
    from wellmeet_data_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidates_sha,
    )
    from wellmeet_data_pipeline_spark.operators.scoring import (
        hashed_linear_score,
        model_weights_table,
    )
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY, table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {
        r["component"]: (r["n_members"], r["survivor_doc"], r["survivor_si"])
        for r in REGISTRY["dedup_best_of_cluster"].fn(spark, sf).collect()
    }
    assert got, "fixture corpus must contain near-dup clusters"

    d = table(spark, sf, "documents")
    comp = connected_components(minhash_lsh_candidates_sha(d))
    si = hashed_linear_score(d, model_weights_table(spark)).select(
        "doc_id",
        F.floor(F.col("logit") * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("si"),
    )
    members = comp.join(si.withColumnRenamed("doc_id", "node"), "node", "left").select(
        "component", "node", F.coalesce(F.col("si"), F.lit(0)).cast("long").alias("si")
    )
    w = Window.partitionBy("component").orderBy(F.col("si").desc(), F.col("node").asc())
    want = {
        r["component"]: (r["nm"], r["node"], r["si"])
        for r in members.withColumn("rk", F.row_number().over(w))
        .withColumn("nm", F.count("*").over(Window.partitionBy("component")))
        .filter("rk = 1")
        .collect()
    }
    assert got == want
    # at least one cluster's quality survivor differs from the min-id
    # rule, or this query would be indistinguishable from
    # dedup_cluster_survivors on this corpus
    assert any(sd != comp_id for comp_id, (_, sd, _si) in got.items())


def test_benford_expected_micro_sums_to_one(spark):
    """The snapped Benford expectations sum to exactly 1e6 (they do for
    the 9-digit ln table) and dev_micro is the signed gap."""
    import math

    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

    rows = REGISTRY["benford_first_digit"].fn(spark, "/root/testdata/sf0.001").collect()
    es = {r["digit"]: r["expected_micro"] for r in rows}
    want = {d: math.floor(math.log(1 + 1 / d) / math.log(10) * 1e6 + 0.5) for d in range(1, 10)}
    assert es == want
    assert sum(es.values()) in (999999, 1000000, 1000001)
    n = sum(r["n_obs"] for r in rows)
    for r in rows:
        raw = r["n_obs"] * 1_000_000 - n * r["expected_micro"]
        # toward-zero division on BOTH signs (Spark div == DuckDB //);
        # raw < 2^52 at this SF so float division is exact before int()
        assert r["dev_micro"] == int(raw / n), r
    assert any(r["dev_micro"] < 0 for r in rows)  # the negative side is exercised
