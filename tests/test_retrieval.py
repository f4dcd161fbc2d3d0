"""Retrieval operators: BM25 top-k, reciprocal-rank fusion, readability.

Differential strategy mirrors test_scoring.py: every score is re-derived
by an independent pure-Python implementation on a small corpus, and the
degenerate corners (NULL/empty text, missing-leg fusion, ties) are pinned
explicitly.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.operators.retrieval import (
    MICRO,
    bm25_scores,
    bm25_topk,
    readability_scores,
    rrf_fuse,
)

DOCS = [
    (0, "fast query scan fast table"),
    (1, "join hash join merge join"),
    (2, "slow scan of the big table"),
    (3, ""),
    (4, None),
    (5, "fast fast fast fast fast fast fast fast"),
]
QUERIES = {0: ["fast", "scan"], 1: ["join"]}


def _py_tokens(text):
    """The corpus normalization in Python: lowercase, strip punctuation,
    split on whitespace."""
    import re

    if text is None:
        return []
    norm = re.sub(r"\s+", " ", re.sub(r"[^\w\s]", "", text.lower())).strip()
    return [w for w in norm.split(" ") if w]


def _py_bm25(docs, queries, k1=1.2, b=0.75):
    """Independent reference: same normalization, exact micro-grid
    snapping, and the documented per-row rule: every row counts toward
    N, total_dl and df, and a repeated id sums its rows' scores."""
    rows = [(i, _py_tokens(t)) for i, t in docs]
    n_docs = len(rows)
    total_dl = sum(len(ws) for _, ws in rows)
    df = {}
    for _, ws in rows:
        for w in set(ws):
            df[w] = df.get(w, 0) + 1
    out = {}
    for q, terms in queries.items():
        for d, ws in rows:
            s = 0
            for t in terms:
                tf = ws.count(t)
                if tf == 0:
                    continue
                idf = math.floor(
                    math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5)) * MICRO + 0.5
                ) / MICRO
                dlr = (len(ws) * n_docs) / total_dl
                tfn = (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dlr))
                s += math.floor(idf * tfn * MICRO + 0.5)
            if s:
                out[(q, d)] = out.get((q, d), 0) + s
    return out


def test_bm25_matches_pure_python(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r.query_id, r.doc_id): r.score_int
        for r in bm25_scores(df, QUERIES).collect()
    }
    assert got == _py_bm25(DOCS, QUERIES)


def test_bm25_topk_rank_and_tiebreak(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    rows = bm25_topk(df, QUERIES, k=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    ref = _py_bm25(DOCS, QUERIES)
    for q, lst in by_q.items():
        want = sorted(
            [(d, s) for (qq, d), s in ref.items() if qq == q],
            key=lambda x: (-x[1], x[0]),
        )[:2]
        assert [(d, s) for _, d, s in sorted(lst)] == [(d, s / MICRO) for d, s in want]
    # doc 5 spams 'fast' but doc 0 matches two terms — both rank, scores
    # strictly ordered (saturation keeps the spam from running away)
    assert by_q[0][0][1] in (0, 5)


def test_bm25_empty_and_null_docs_excluded(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    docs_seen = {r.doc_id for r in bm25_scores(df, QUERIES).collect()}
    assert 3 not in docs_seen and 4 not in docs_seen
    # ...but they still count toward N / avgdl (parity with the oracle):
    # removing them changes scores
    df2 = spark.createDataFrame(
        [r for r in DOCS if r[0] not in (3, 4)], "doc_id long, text string"
    )
    s_all = {(r.query_id, r.doc_id): r.score_int for r in bm25_scores(df, QUERIES).collect()}
    s_sub = {(r.query_id, r.doc_id): r.score_int for r in bm25_scores(df2, QUERIES).collect()}
    assert s_all != s_sub


def test_rrf_fuse_hand_computed(spark):
    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id int, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)], "query_id int, doc_id long, rank int"
    )
    got = {r.doc_id: r for r in rrf_fuse([a, b], k=10).collect()}
    # doc 11 in both: 1/62 + 1/61; doc 10 only in a: 1/61; 13 only in b: 1/62
    assert got[11].rrf_score == pytest.approx(1 / 62 + 1 / 61, abs=0)
    assert got[10].rrf_score == pytest.approx(1 / 61, abs=0)
    assert got[13].rrf_score == pytest.approx(1 / 62, abs=0)
    assert got[11].rank == 1
    # 10 (1/61) beats 13 (1/62)
    assert got[10].rank == 2 and got[13].rank == 3
    assert got[10].rank_1 is None and got[13].rank_0 is None


def test_rrf_symmetric_tie_breaks_by_doc_id(spark):
    a = spark.createDataFrame([(0, 20, 3)], "query_id int, doc_id long, rank int")
    b = spark.createDataFrame([(0, 7, 3)], "query_id int, doc_id long, rank int")
    rows = sorted(rrf_fuse([a, b], k=10).collect(), key=lambda r: r.rank)
    assert [r.doc_id for r in rows] == [7, 20]  # equal 1/63 — id asc wins


def test_rrf_requires_two_rankings(spark):
    a = spark.createDataFrame([(0, 1, 1)], "query_id int, doc_id long, rank int")
    with pytest.raises(ValueError):
        rrf_fuse([a])


def test_readability_hand_computed(spark):
    text = "The cat sat on the mat. It was happy! Was it?"
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    r = readability_scores(df).collect()[0]
    # words: 11; sentences: 3; vowel runs of lowercased text:
    # the(1) cat(1) sat(1) on(1) the(1) mat(1) it(1) was(1) happy(2) was(1) it(1) = 12
    assert (r.n_words, r.n_sentences, r.n_syllables) == (11, 3, 12)
    wps, spw = 11 / 3, 12 / 11
    want_fl = math.floor((206.835 - 1.015 * wps - 84.6 * spw) * MICRO + 0.5) / MICRO
    want_fk = math.floor((0.39 * wps + 11.8 * spw - 15.59) * MICRO + 0.5) / MICRO
    assert r.flesch == want_fl and r.fk_grade == want_fk
    assert r.readability_band == "easy"


def test_readability_degenerate_docs(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, None), (2, "word word word")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in readability_scores(df).collect()}
    assert rows[0].n_words == 0 and rows[0].flesch is None
    assert rows[0].readability_band is None
    assert rows[1].n_words is None and rows[1].flesch is None
    assert rows[1].readability_band is None
    # no sentence punctuation -> floor at 1 sentence
    assert rows[2].n_sentences == 1 and rows[2].flesch is not None


def test_readability_plan_has_no_exchange(spark):
    df = spark.createDataFrame([(0, "a word.")], "doc_id long, text string")
    plan = readability_scores(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bm25_broadcasts_query_terms(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = bm25_topk(df, QUERIES, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_lexical_index_stream_matches_batch(spark, tmp_path):
    """Stream-built postings/doclen store scores identically to the batch
    BM25 operator on the same corpus (shared _bm25_contribution expression)."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.retrieval import (
        bm25_topk_from_store,
        run_lexical_index_pipeline,
    )

    landing = tmp_path / "lex_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "lex_store"), str(tmp_path / "lex_ckpt")
    schema = StructType.fromDDL("doc_id long, text string")

    batch1 = [{"doc_id": d, "text": t} for d, t in DOCS[:3]]
    batch2 = [{"doc_id": 3, "text": ""}, {"doc_id": 5, "text": DOCS[5][1]}]
    (landing / "b1.json").write_text(json.dumps(batch1))
    run_lexical_index_pipeline(spark, str(landing), store, ckpt, schema)
    (landing / "b2.json").write_text(json.dumps(batch2))
    run_lexical_index_pipeline(spark, str(landing), store, ckpt, schema)

    all_docs = [r for r in DOCS if r[0] != 4]  # null-text doc not landed
    df = spark.createDataFrame(all_docs, "doc_id long, text string")
    want = sorted(
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_topk(df, QUERIES, k=10).collect()
    )
    got = sorted(
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_topk_from_store(spark, store, QUERIES, k=10).collect()
    )
    assert got == want


def test_lexical_index_replay_idempotent(spark, tmp_path):
    """Re-delivering the same landing file must not change the index
    (first version wins per posting/doc)."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.sinks.merge import read_current
    from wellmeet_data_pipeline_spark.streaming.retrieval import (
        run_lexical_index_pipeline,
    )

    landing = tmp_path / "lex2_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "lex2_store"), str(tmp_path / "lex2_ckpt")
    schema = StructType.fromDDL("doc_id long, text string")

    payload = json.dumps([{"doc_id": 1, "text": "fast fast scan"}])
    (landing / "b1.json").write_text(payload)
    run_lexical_index_pipeline(spark, str(landing), store, ckpt, schema)
    before = sorted(
        (r.posting_key, r.tf)
        for r in read_current(spark, store + "/postings", id_col="posting_key").collect()
    )
    assert before == [("1:fast", 2), ("1:scan", 1)]

    (landing / "b2.json").write_text(payload)  # exact re-delivery
    run_lexical_index_pipeline(spark, str(landing), store, ckpt, schema)
    after = sorted(
        (r.posting_key, r.tf)
        for r in read_current(spark, store + "/postings", id_col="posting_key").collect()
    )
    assert after == before
    dl = read_current(spark, store + "/doclen", id_col="doc_id").collect()
    assert [(r.doc_id, r.dl) for r in dl] == [(1, 3)]


def test_lexical_index_of_token_free_docs_scores_nothing(spark, tmp_path):
    """An index whose landed documents hold no token commits no posting
    part file; scoring it returns no rows instead of failing."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.retrieval import (
        bm25_topk_from_store,
        run_lexical_index_pipeline,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b1.json").write_text(json.dumps([{"doc_id": 1, "text": " !! "}]))
    store = str(tmp_path / "store")
    run_lexical_index_pipeline(
        spark, str(landing), store, str(tmp_path / "ckpt"), StructType.fromDDL("doc_id long, text string")
    )
    assert bm25_topk_from_store(spark, store, QUERIES).collect() == []


def test_hybrid_from_stores_matches_batch(spark, tmp_path):
    """Hybrid retrieval served from the streamed lexical + embedding
    stores equals the batch BM25+cosine RRF fusion on the same corpus."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.functions.enrichment import embed_text
    from wellmeet_data_pipeline_spark.operators.similarity import brute_force_top_k
    from wellmeet_data_pipeline_spark.streaming.embedding import run_embedding_pipeline
    from wellmeet_data_pipeline_spark.streaming.retrieval import (
        hybrid_topk_from_stores,
        run_lexical_index_pipeline,
    )

    landing = tmp_path / "hyb_landing"
    landing.mkdir()
    lex, lex_ckpt = str(tmp_path / "hyb_lex"), str(tmp_path / "hyb_lex_ckpt")
    emb, emb_ckpt = str(tmp_path / "hyb_emb"), str(tmp_path / "hyb_emb_ckpt")
    schema = StructType.fromDDL("doc_id long, text string")

    docs = [r for r in DOCS if r[1]]  # non-empty, non-null
    (landing / "b1.json").write_text(
        json.dumps([{"doc_id": d, "text": t} for d, t in docs])
    )
    run_lexical_index_pipeline(spark, str(landing), lex, lex_ckpt, schema)
    run_embedding_pipeline(spark, str(landing), emb, emb_ckpt, schema,
                           text_col="text", id_col="doc_id", dim=8)

    got = sorted(
        tuple(r) for r in hybrid_topk_from_stores(
            spark, lex, emb, QUERIES, query_vec_ids=[0, 1], k=5,
            k_candidates=3, vec_id_col="doc_id",
        ).collect()
    )

    from wellmeet_data_pipeline_spark.operators.retrieval import rrf_fuse

    df = spark.createDataFrame(docs, "doc_id long, text string")
    bm = bm25_topk(df, QUERIES, k=3).select("query_id", "doc_id", "rank")
    e = embed_text(df, text_col="text", dim=8)
    qv = e.filter(F.col("doc_id").isin([0, 1]))
    cos = brute_force_top_k(e.sparkSession.createDataFrame(qv.collect(), qv.schema),
                            e, k=3, query_id="doc_id", cand_id="doc_id",
                            round_digits=4).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    want = sorted(
        tuple(r) for r in rrf_fuse([bm, cos], k=5).select(
            "query_id", "doc_id", "rrf_score",
            F.col("rank_0").alias("bm25_rank"),
            F.col("rank_1").alias("cosine_rank"), "rank",
        ).collect()
    )
    assert got == want


def test_readability_whitespace_only_and_padded_docs(spark):
    """trim() strips only spaces — tab/newline-padded and whitespace-only
    docs must still count words correctly (code-review regression pin)."""
    df = spark.createDataFrame(
        [(0, "\ta\t"), (1, "\n"), (2, "  a b  ")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in readability_scores(df).collect()}
    assert rows[0].n_words == 1
    assert rows[1].n_words == 0 and rows[1].flesch is None
    assert rows[1].readability_band is None
    assert rows[2].n_words == 2


def test_lexical_index_grown_doc_keeps_first_version(spark, tmp_path):
    """A re-crawled doc whose term set GREW must not append new postings:
    first version wins at the doc grain (code-review regression pin)."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.sinks.merge import read_current
    from wellmeet_data_pipeline_spark.streaming.retrieval import (
        run_lexical_index_pipeline,
    )

    landing = tmp_path / "lex3_landing"
    landing.mkdir()
    store, ckpt = str(tmp_path / "lex3_store"), str(tmp_path / "lex3_ckpt")
    schema = StructType.fromDDL("doc_id long, text string")

    (landing / "b1.json").write_text(json.dumps([{"doc_id": 7, "text": "fast scan"}]))
    run_lexical_index_pipeline(spark, str(landing), store, ckpt, schema)
    (landing / "b2.json").write_text(
        json.dumps([{"doc_id": 7, "text": "fast scan merge"},
                    {"doc_id": 8, "text": "merge"}])
    )
    run_lexical_index_pipeline(spark, str(landing), store, ckpt, schema)

    posts = sorted(
        r.posting_key
        for r in read_current(spark, store + "/postings", id_col="posting_key").collect()
    )
    assert posts == ["7:fast", "7:scan", "8:merge"]  # no chimera '7:merge'
    dl = {r.doc_id: r.dl for r in
          read_current(spark, store + "/doclen", id_col="doc_id").collect()}
    assert dl == {7: 2, 8: 1}


def test_trimmed_mean_rejects_bad_trim_frac(spark):
    from wellmeet_data_pipeline_spark.operators.aggregations import (
        trimmed_mean_by_group,
    )

    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    for bad in (0.5, -0.1, 1.0):
        with pytest.raises(ValueError):
            trimmed_mean_by_group(df, "g", "v", trim_frac=bad)


def test_hybrid_ivf_agrees_with_exact_on_clustered(spark):
    """The IVF-backed hybrid (100 TB form) matches the exact hybrid on
    clustered embeddings at the measured nprobe operating point."""
    from wellmeet_data_pipeline_spark.catalog import table as cat_table
    from wellmeet_data_pipeline_spark.operators.retrieval import (
        hybrid_rrf_topk_ivf,
        rrf_fuse,
    )
    from wellmeet_data_pipeline_spark.operators.similarity import (
        brute_force_top_k,
        clustered_embeddings,
    )

    sf = "/root/testdata/sf0.001"
    d = cat_table(spark, sf, "documents")
    e = clustered_embeddings(cat_table(spark, sf, "embeddings")).localCheckpoint()
    qids = [0, 1, 2, 3]
    queries = {0: ["fast", "query"], 1: ["join", "hash"],
               2: ["stream", "window"], 3: ["customer", "order"]}

    got = hybrid_rrf_topk_ivf(d, e, queries, qids, k=10, nprobe=4).collect()

    qv = e.filter(F.col("vec_id").isin(qids))
    cos = brute_force_top_k(qv, e, k=20, round_digits=4).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    bm = bm25_topk(d, queries, k=20).select("query_id", "doc_id", "rank")
    want = rrf_fuse([bm, cos], k=10).select(
        "query_id", "doc_id", "rrf_score",
        F.col("rank_0").alias("bm25_rank"),
        F.col("rank_1").alias("cosine_rank"), "rank",
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_ir_eval_metrics_hand_computed(spark):
    """recall/MRR/nDCG pinned against hand math: q0 has rel docs
    {1,2,9} with hits at ranks 1 and 3 (doc 9 missed); q1 has one rel
    doc found at rank 2; q2 has rel docs but NO hits -> zeros."""
    import math

    from wellmeet_data_pipeline_spark.operators.retrieval import ir_eval_metrics

    run = spark.createDataFrame(
        [
            (0, 1, 1), (0, 5, 2), (0, 2, 3), (0, 6, 4),
            (1, 7, 1), (1, 3, 2),
            (2, 8, 1),
        ],
        "query_id int, doc_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 9), (1, 3), (2, 4)],
        "query_id int, doc_id long",
    )
    got = {r["query_id"]: r.asDict() for r in ir_eval_metrics(run, qrels, k=10).collect()}

    def term(r):
        return math.floor(1e6 * (math.log(2.0) / math.log(r + 1.0)) + 0.5)

    # q0: hits at ranks 1, 3 of 3 relevant
    dcg0 = term(1) + term(3)
    idcg0 = term(1) + term(2) + term(3)
    assert got[0]["n_rel"] == 3 and got[0]["n_hits"] == 2
    assert got[0]["recall_micro"] == 2 * 1_000_000 // 3
    assert got[0]["mrr_micro"] == 1_000_000
    assert got[0]["ndcg_micro"] == dcg0 * 1_000_000 // idcg0
    # q1: single relevant found at rank 2
    assert got[1]["recall_micro"] == 1_000_000
    assert got[1]["mrr_micro"] == 500_000
    assert got[1]["ndcg_micro"] == term(2) * 1_000_000 // term(1)
    # q2: relevant exists, nothing found
    assert got[2] == {
        "query_id": 2, "n_rel": 1, "n_hits": 0,
        "recall_micro": 0, "mrr_micro": 0, "ndcg_micro": 0,
    }


def test_ir_eval_metrics_duplicate_qrels_invariant(spark):
    """ir_eval_metrics dedups qrels internally (ADVICE r8): replicating
    every judgment row 3x must not change a single metric (duplicates
    would otherwise double-count n_rel/n_hits/dcg while idcg stays
    capped, inflating nDCG)."""
    from wellmeet_data_pipeline_spark.operators.retrieval import ir_eval_metrics

    run = spark.createDataFrame(
        [(0, 1, 1), (0, 5, 2), (0, 2, 3), (1, 7, 1), (1, 3, 2)],
        "query_id int, doc_id long, rank int",
    )
    base = [(0, 1), (0, 2), (0, 9), (1, 3)]
    qrels = spark.createDataFrame(base, "query_id int, doc_id long")
    qrels_dup = spark.createDataFrame(base * 3, "query_id int, doc_id long")
    want = sorted(map(tuple, ir_eval_metrics(run, qrels, k=10).collect()))
    got = sorted(map(tuple, ir_eval_metrics(run, qrels_dup, k=10).collect()))
    assert got == want


def test_mmr_diversify_hand_computed(spark):
    """Greedy MMR pinned against hand math (lam=0.5, micro grid):
    q0 has a near-duplicate pair (7, 8) — after 7 is picked, 8's high
    relevance is beaten by the diverse doc 9; q1 has fewer candidates
    than k and returns them all."""
    from wellmeet_data_pipeline_spark.operators.retrieval import mmr_diversify

    cand = spark.createDataFrame(
        [
            (0, 7, 1_000_000), (0, 8, 990_000), (0, 9, 500_000),
            (1, 3, 1_000_000), (1, 4, 400_000),
        ],
        "query_id int, doc_id long, rel_norm_micro long",
    )
    pairs = spark.createDataFrame(
        [(0, 7, 8, 950_000), (0, 7, 9, 10_000), (0, 8, 9, 20_000)],
        "query_id int, a long, b long, jac_micro long",
    )
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["mmr_micro"])
        for r in mmr_diversify(cand, pairs, k=3, lam_micro=500_000).collect()
    }
    M = 1_000_000
    # q0 step 1: no picks yet -> mmr = .5*rel + .5*1.0; doc 7 wins
    assert got[(0, 1)] == (7, 500_000 * M + 500_000 * M)
    # step 2: 8 -> .5*.99 + .5*(1-.95)=0.52; 9 -> .5*.5 + .5*(1-.01)=0.745
    assert got[(0, 2)] == (9, 500_000 * 500_000 + 500_000 * (M - 10_000))
    # step 3: only 8 left; max sim to {7,9} = .95
    assert got[(0, 3)] == (8, 500_000 * 990_000 + 500_000 * (M - 950_000))
    # q1 exhausts its 2 candidates before k=3
    assert got[(1, 1)] == (3, 500_000 * M + 500_000 * M)
    assert got[(1, 2)][0] == 4 and (1, 3) not in got
    assert len(got) == 5


def test_mmr_diversify_tie_breaks_on_lowest_doc(spark):
    from wellmeet_data_pipeline_spark.operators.retrieval import mmr_diversify

    cand = spark.createDataFrame(
        [(0, 20, 800_000), (0, 10, 800_000)],
        "query_id int, doc_id long, rel_norm_micro long",
    )
    pairs = spark.createDataFrame([], "query_id int, a long, b long, jac_micro long")
    got = {r["rank"]: r["doc_id"] for r in mmr_diversify(cand, pairs, k=2).collect()}
    assert got == {1: 10, 2: 20}


def test_mmr_diversify_null_inputs(spark):
    """NULL jac_micro rows honor the 'missing pair = 0' rule; a NULL
    rel_norm_micro candidate drops instead of crashing the UDF."""
    from wellmeet_data_pipeline_spark.operators.retrieval import mmr_diversify

    cand = spark.createDataFrame(
        [(0, 1, 900_000), (0, 2, None), (0, 3, 500_000)],
        "query_id int, doc_id long, rel_norm_micro long",
    )
    pairs = spark.createDataFrame(
        [(0, 1, 3, None)], "query_id int, a long, b long, jac_micro long"
    )
    got = {r["rank"]: r["doc_id"] for r in mmr_diversify(cand, pairs, k=3).collect()}
    assert got == {1: 1, 2: 3}  # doc 2 dropped; null pair scored as 0


def test_bm25_prf_expansion_retrieves_term_disjoint_doc(spark):
    """The PRF loop's point: a document sharing NO original query term
    but rich in the feedback docs' vocabulary enters the second-pass
    top-k; and the expansion skips quasi-stopwords (df cap)."""
    from wellmeet_data_pipeline_spark.operators.retrieval import (
        bm25_prf_topk,
        bm25_topk,
    )

    # enough filler that the expansion terms clear the quasi-stopword
    # df cap (df * 10 <= n_docs)
    filler = [(100 + i, f"filler text number {i} about unrelated matters entirely")
              for i in range(40)]
    docs = spark.createDataFrame(
        [
            # feedback docs: match 'spark' and carry the expansion term 'catalyst'
            (1, "spark engine catalyst catalyst optimizer"),
            (2, "spark catalyst catalyst planning"),
            # the term-disjoint target: only reachable via expansion
            (3, "catalyst catalyst catalyst rewrite rules"),
            *filler,
        ],
        "doc_id long, text string",
    )
    q = {0: ["spark"]}
    plain = {r["doc_id"] for r in bm25_topk(docs, q, k=5).collect()}
    assert 3 not in plain  # no shared term with the raw query
    prf = {r["doc_id"]: r["rank"] for r in bm25_prf_topk(docs, q, k=5).collect()}
    assert 3 in prf  # expansion pulled it in
    # determinism under repartitioning
    again = {r["doc_id"]: r["rank"]
             for r in bm25_prf_topk(docs.repartition(7), q, k=5).collect()}
    assert again == prf


def _run_bm25_prf(spark):
    from wellmeet_data_pipeline_spark.operators.retrieval import bm25_prf_topk

    docs = spark.createDataFrame(
        [(i, f"spark catalyst doc {i}") for i in range(12)], "doc_id long, text string"
    )
    bm25_prf_topk(docs, {0: ["spark"]}, k=3).collect()


def _run_rfm_segments(spark):
    from conftest import SHARED_SF_DIR
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

    REGISTRY["customer_rfm_segments"].fn(spark, SHARED_SF_DIR).collect()


@pytest.mark.parametrize("run", [_run_bm25_prf, _run_rfm_segments])
def test_thread_pool_jobs_keep_caller_job_group(spark, run):
    """Jobs launched from an operator's thread pool run under the
    caller's job group: none of them lands among the group-less jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pool-inherit", "thread-pool job group test")
    try:
        run(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup("pool-inherit"))
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


# BM25 corner corpus: three NULL ids, NULL / empty / whitespace-
# only texts, punctuation the normalization strips; "table" is a
# feedback candidate of every query asking "fast" that also occurs in a
# NULL-id document, so its df is 2 (doc 0 and the NULL-id group)
EDGE_DOCS = [
    (0, "fast query scan fast table"),
    (1, "join hash join merge join"),
    (2, "Hash-Join! hash, JOIN."),
    (3, None),
    (4, ""),
    (5, "   \t  "),
    (6, "\x0b"),
    (None, "fast join orphan"),
    (None, "fast again"),
    (7, "fast fast fast"),
    (None, "table lamp"),
]

EDGE_QUERIES = {
    "empty_map": {},
    "blank_term": {0: ["!!!", "fast"], 1: ["   "]},
    "two_word_term": {0: ["hash join"], 1: ["hash"]},
    "absent_term": {0: ["zzzabsent"], 1: ["zzzabsent", "scan"]},
    "repeated_term": {0: ["join", "join", "hash"], 1: ["fast"]},
    "case_and_punct": {0: ["FAST", "Scan."], 3: ["orphan"]},
}


def _duck_oracle(sql, docs_parquet, queries):
    """Rows of a registry DuckDB oracle over `docs_parquet`, with its
    pinned query map replaced by `queries` normalized the way the
    operators normalize them."""
    import duckdb

    from wellmeet_data_pipeline_spark.plans.queries_core import _NORM_SQL
    from wellmeet_data_pipeline_spark.plans.queries_retrieval import _RETRIEVAL_QT_VALUES

    pinned = f"qt(query_id, term) AS (VALUES {_RETRIEVAL_QT_VALUES})"
    assert pinned in sql
    rows = [(q, t) for q, ts in sorted(queries.items()) for t in ts]
    raw = (
        "VALUES " + ", ".join(f"({q}, '{t}')" for q, t in rows)
        if rows
        else "SELECT CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR) WHERE false"
    )
    norm = _NORM_SQL.replace("lower(text)", "lower(term)")
    sql = sql.replace(
        pinned,
        f"qt AS (SELECT query_id, {norm} AS term FROM ({raw}) v(query_id, term))",
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_parquet}/*.parquet'")
    return sorted(con.execute(sql).fetchall())


def _duck_bm25(docs_parquet, queries):
    """(query_id, doc_id, score_int) from the registry's DuckDB BM25
    oracle CTEs."""
    from wellmeet_data_pipeline_spark.plans.queries_retrieval import _BM25_CTES

    return _duck_oracle(
        f"WITH {_BM25_CTES} SELECT query_id, doc_id, s FROM bs", docs_parquet, queries
    )


def _edge_docs(spark, tmp_path):
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(EDGE_DOCS, "doc_id long, text string").coalesce(1).write.parquet(path)
    return path


@pytest.mark.parametrize("case", sorted(EDGE_QUERIES))
def test_bm25_edges_match_duckdb_oracle(spark, tmp_path, case):
    """bm25_scores equals the registry oracle's scores on every corner:
    NULL ids count toward df (as one group) but are never scored."""
    path = _edge_docs(spark, tmp_path)
    queries = EDGE_QUERIES[case]
    got = sorted(
        tuple(r)
        for r in bm25_scores(spark.read.parquet(path), queries)
        .select("query_id", "doc_id", "score_int")
        .collect()
    )
    assert got == _duck_bm25(path, queries)
    if case not in ("empty_map", "absent_term"):
        assert got  # the case scores something, so equality is not vacuous


@pytest.mark.parametrize(
    "op", ["bm25_prf_topk", "qld_topk"], ids=["prf", "qld"]
)
@pytest.mark.parametrize("case", sorted(EDGE_QUERIES))
def test_prf_qld_edges_match_duckdb_oracle(spark, tmp_path, op, case):
    """bm25_prf_topk and qld_topk equal their registry oracles on the
    BM25 corner corpus: NULL-id rows count toward df and cf (the NULL
    group as one document) but are never ranked."""
    from wellmeet_data_pipeline_spark.operators import retrieval
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

    path = _edge_docs(spark, tmp_path)
    queries = EDGE_QUERIES[case]
    kwargs = {"k": 5, "fb_docs": 5, "fb_terms": 3} if op == "bm25_prf_topk" else {"k": 10}
    got = sorted(
        tuple(r)
        for r in getattr(retrieval, op)(spark.read.parquet(path), queries, **kwargs).collect()
    )
    assert got == _duck_oracle(REGISTRY[op].oracle, path, queries)
    if case not in ("empty_map", "absent_term"):
        assert got


def test_eval_bm25_judges_null_id_group_like_oracle(spark, tmp_path):
    """retrieval_eval_bm25 equals its oracle when the NULL-id rows hold
    two terms of a pinned query: the oracle judges the NULL-id group as
    one relevant document, so that query's n_rel counts it."""
    import duckdb

    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

    sf = str(tmp_path / "sf")
    docs = EDGE_DOCS + [(None, "stream window"), (8, "stream window batch")]
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(1).write.parquet(
        sf + "/documents.parquet"
    )
    spec = REGISTRY["retrieval_eval_bm25"]
    got = sorted(tuple(r) for r in spec.fn(spark, sf).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    assert got == sorted(con.execute(spec.oracle).fetchall())
    assert {r[0]: r[1] for r in got}[2] == 2  # doc 8 and the NULL-id group


# (registry query, its bound): bm25_topk runs the stats aggregate while
# the plan is built (2) and the collect (4: two shuffles, the broadcast
# and the result); the others are the counts measured on this plan
_REQUEST_JOBS = {
    "bm25_topk": 6,
    "bm25_prf_topk": 15,
    "qld_topk": 7,
    "retrieval_eval_bm25": 11,
}


@pytest.mark.parametrize("name", sorted(_REQUEST_JOBS))
def test_bm25_request_job_count(spark, name):
    """One lexical request runs at most its pinned number of Spark jobs."""
    from conftest import SHARED_SF_DIR
    from wellmeet_data_pipeline_spark.catalog import table
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

    docs = table(spark, SHARED_SF_DIR, "documents")
    queries = {0: ["fast", "query"], 1: ["join"], 2: ["stream", "window", "batch", "hash"]}
    sc = spark.sparkContext
    group = f"lexical-jobs-{name}"
    sc.setJobGroup(group, "lexical request job count")
    try:
        if name == "bm25_topk":
            rows = bm25_topk(docs, queries, k=10).collect()
        else:
            rows = REGISTRY[name].fn(spark, SHARED_SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= _REQUEST_JOBS[name]


def test_lexical_plan_is_written_once():
    """Every lexical scorer goes through bm25_scores' plan: the old
    frame-joining scorer is gone, and neither the batch nor the streamed
    scorer checkpoints or runs a thread pool."""
    import inspect

    from wellmeet_data_pipeline_spark.operators import retrieval
    from wellmeet_data_pipeline_spark.streaming import retrieval as streamed

    assert not hasattr(retrieval, "_bm25_score_frames")
    for mod in (retrieval, streamed):
        src = inspect.getsource(mod)
        assert "localCheckpoint" not in src and "ThreadPoolExecutor" not in src, mod


def test_doc_lengths_null_text_is_zero_without_ansi(spark):
    """size(NULL) is -1 with ANSI mode off; a NULL text still has dl 0,
    so total_dl (and every avgdl built on it) matches the oracle."""
    from wellmeet_data_pipeline_spark.operators.retrieval import _doc_lengths

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        dl = {r.doc_id: r.dl for r in _doc_lengths(df, "text", "doc_id").collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert dl == {0: 5, 1: 5, 2: 6, 3: 0, 4: 0, 5: 8}


# texts for the tokenizer pins: NULL, empty, whitespace-only,
# punctuation-only, repeated terms and non-ASCII letters (which the
# ASCII \w of the normalization strips)
TOKEN_TEXTS = [
    None,
    "",
    "   \t\n ",
    "!!! ... ,,,",
    "fast FAST, fast! scan",
    "café naïve Ünïcode 東京 東京",
    "\x0bword\x0b",
    "a  b   a",
]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_tokens_and_tf_match_filter_lambda_forms(spark, ansi):
    """_tokens (array_remove) and _tf (the size array_remove takes off)
    give exactly the rows of the interpreted filter-lambda forms they
    replace, with ANSI mode on and off."""
    from wellmeet_data_pipeline_spark.functions.text import normalized_text
    from wellmeet_data_pipeline_spark.operators.retrieval import _tf, _tokens

    def lambda_tokens(c):
        return F.coalesce(
            F.filter(F.split(normalized_text(F.col(c)), " "), lambda x: x != F.lit("")),
            F.array().cast("array<string>"),
        )

    def lambda_tf(term):
        return F.size(F.filter("__toks", lambda x: x == term)).cast("long")

    df = spark.createDataFrame(list(enumerate(TOKEN_TEXTS)), "doc_id long, text string")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        rows = df.select(
            "doc_id", _tokens("text").alias("new"), lambda_tokens("text").alias("old")
        ).collect()
        terms = sorted({t for r in rows for t in r.old}) + ["", "zzzabsent"]
        toks = df.select(_tokens("text").alias("__toks"))
        tfs = toks.select(
            F.array(*[_tf(F.lit(t)) for t in terms]).alias("new"),
            F.array(*[lambda_tf(F.lit(t)) for t in terms]).alias("old"),
        ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [r.new for r in rows] == [r.old for r in rows]
    assert {r.doc_id for r in rows if r.new == []} == {0, 1, 2, 3}
    assert [r.new for r in tfs] == [r.old for r in tfs]
    assert max(max(r.new) for r in tfs) == 3  # "fast" three times in one row


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lexical_plans_tokenize_once_per_scan_without_lambdas(spark, tmp_path):
    """Every lexical scorer's executed plan evaluates the tokenize
    expression once per corpus scan (no filter pushed below the tokenize
    projection re-evaluates it) and runs no interpreted lambda."""
    from conftest import SHARED_SF_DIR
    from wellmeet_data_pipeline_spark.operators.retrieval import bm25_prf_topk, qld_topk
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

    docs = spark.read.parquet(_edge_docs(spark, tmp_path))
    q = {0: ["fast", "scan"], 1: ["join"]}
    plans = {
        "bm25_scores": _executed(bm25_scores(docs, q)),
        "qld_topk": _executed(qld_topk(docs, q)),
        "bm25_prf_topk": _executed(bm25_prf_topk(docs, q)),
        "retrieval_eval_bm25": _executed(
            REGISTRY["retrieval_eval_bm25"].fn(spark, SHARED_SF_DIR)
        ),
    }
    assert plans["bm25_scores"].count("FileScan") == 1
    for name, plan in plans.items():
        assert "lambdafunction" not in plan, name
        assert plan.count("split(") == plan.count("FileScan") >= 1, name


# Py4J commands the caller's thread sends to build one bm25_topk plan,
# its stats aggregate included: 820 measured with PySpark's call-site
# capture off, 2,096 with it on (local[4], sf0.001)
_BM25_BUILD_ROUND_TRIPS = 1_000


def test_bm25_plan_build_py4j_round_trip_budget(spark, monkeypatch):
    """Building one fixed bm25_topk plan stays within its pinned Py4J
    round-trip budget, counted at the client's send_command on the
    building thread (py4j's finalizer thread sends its object releases
    asynchronously, whenever the garbage collector frees them)."""
    import threading

    from py4j.clientserver import ClientServerConnection

    from conftest import SHARED_SF_DIR
    from wellmeet_data_pipeline_spark.catalog import table

    docs = table(spark, SHARED_SF_DIR, "documents")
    queries = {0: ["fast", "query"], 1: ["join"], 2: ["stream", "window", "batch", "hash"]}
    bm25_topk(docs, queries, k=10)  # warm-up: first-call lookups are not per request
    calls = [0]
    me = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += threading.get_ident() == me
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    bm25_topk(docs, queries, k=10)
    assert 0 < calls[0] <= _BM25_BUILD_ROUND_TRIPS, calls[0]


# a corpus repeating the non-NULL id 1
REPEATED_ID_DOCS = [
    (1, "fast scan fast"),
    (1, "join fast"),
    (2, "scan table"),
    (3, "join join hash"),
]
REPEATED_ID_QUERIES = {0: ["fast", "scan"], 1: ["join", "hash"]}


def _py_qld(docs, queries, mu=2000):
    """QLD by the documented per-row rule: every row counts toward T and
    cf, each row holding a query term adds its matched terms, and a
    repeated id takes its shortest matched row's length term once."""
    rows = [(i, _py_tokens(t)) for i, t in docs]
    total = sum(len(ws) for _, ws in rows)
    cf = {}
    for _, ws in rows:
        for w in ws:
            cf[w] = cf.get(w, 0) + 1
    snap = lambda x: math.floor(x * MICRO + 0.5)  # noqa: E731
    out = {}
    for q, terms in queries.items():
        seen = [t for t in terms if t in cf]
        per_id = {}
        for d, ws in rows:
            held = [t for t in seen if t in ws]
            if d is None or not held:
                continue
            mi = sum(snap(math.log(1.0 + ws.count(t) * total / (mu * cf[t]))) for t in held)
            ln = len(seen) * snap(math.log(mu / (len(ws) + mu)))
            s, l = per_id.get(d, (0, ln))
            per_id[d] = (s + mi, max(l, ln))
        for d, (s, l) in per_id.items():
            out[(q, d)] = s + l
    return out


def test_repeated_id_follows_per_row_rule(spark):
    """bm25_scores and qld_topk score a corpus that repeats a non-NULL id
    by the documented per-row rule (each row counts toward N, df and cf
    and is matched on its own; the id's score sums its rows), against
    the pure-Python references."""
    from wellmeet_data_pipeline_spark.operators.retrieval import qld_topk

    df = spark.createDataFrame(REPEATED_ID_DOCS, "doc_id long, text string")
    bm = {
        (r.query_id, r.doc_id): r.score_int
        for r in bm25_scores(df, REPEATED_ID_QUERIES).collect()
    }
    assert bm == _py_bm25(REPEATED_ID_DOCS, REPEATED_ID_QUERIES)
    assert (0, 1) in bm and (1, 1) in bm  # both rows of id 1 are matched

    want = _py_qld(REPEATED_ID_DOCS, REPEATED_ID_QUERIES)
    got = qld_topk(df, REPEATED_ID_QUERIES, k=10).collect()
    assert {(r.query_id, r.doc_id): r.score for r in got} == {
        k: v / MICRO for k, v in want.items()
    }
    for q in REPEATED_ID_QUERIES:
        ranked = sorted((-v, d) for (qq, d), v in want.items() if qq == q)
        assert [r.doc_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == q] == [
            d for _, d in ranked
        ]
