"""Text retrieval over the document corpus: Okapi BM25 scoring / top-k,
hybrid lexical+vector reciprocal-rank fusion, and readability scoring.

The reference repo has no retrieval engine (it is a crawler feeding an
OLTP store — review-crawler/*); these operators extend the north-star
RAG/corpus surface the same way the §2.11 text-analysis families do:
BM25 is the canonical lexical ranker a 100 TB document store needs next
to the embedding ANN tier (operators/similarity.py), and reciprocal-rank
fusion (Cormack et al., SIGIR'09) is the standard way the two tiers are
combined in production retrieval stacks.

Scale/determinism notes shared by every operator here:
- tokenization is the repo-wide normalized_text() convention (lowercase,
  punctuation stripped, whitespace collapsed) so BM25, MinHash, TF-IDF
  and the dedup family all agree on what a "term" is;
- all floating-point score math follows the registry's exact-grid rule:
  per-term contributions are snapped to an integer micro grid
  (floor(x * 1e6 + 0.5) as BIGINT) and summed exactly, so scores are
  independent of row order and reproducible bit-for-bit by the DuckDB
  oracles (the only libm call, ln() in the idf, carries the documented
  1-ulp / measure-zero boundary caveat of ngram_lm_score);
- both engines COMPUTE derived constants like (k1 + 1) from the same
  literals instead of inlining a pre-evaluated sum, so IEEE
  tie-to-even on the literal addition can never split them;
- rankings are ordered by the integer score (never the float), ties
  broken by doc id — stable across partitionings and engines.

Plan shape: every lexical scorer — bm25_scores, bm25_prf_topk,
qld_topk, the registry's BM25 eval query and the streamed index's
scorer — plans a query the same way.  The corpus is read through ONE
tokenize projection (id, __toks), built from compiled array kernels
(split, then array_remove of the empty terms; a term's tf is the size
array_remove takes off) with no interpreted lambda.  Step 1,
_corpus_stats: one global aggregate over it brings N, total_dl and each
query term's statistic (df, or cf for QLD) back to the driver — a
handful of numbers.  Step 2, _matched: a lazy frame explodes
array_intersect(__toks, terms), so only the documents sharing a query
term yield rows, each matched term with tf and dl on the row.  No
filter on __toks sits above the projection, so none is pushed below it
and each scan tokenizes every document once.  Scoring fans those rows
out to the queries through a broadcast local frame, so no corpus-grain
frame ever crosses a shuffle: the shuffles carry matched (query, doc)
rows, and the final rank window partitions on query_id.  Query-side
frames are catalog.local_frame LocalRelations, which scan without a
Spark job, and nothing is checkpointed.  The streamed index
(streaming/retrieval.py) supplies the same two steps from its stores:
one aggregate, and postings ⋈ doclen as the matched frame.
"""

from __future__ import annotations

from collections import Counter
from itertools import accumulate
from typing import Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.functions.text import normalized_text

MICRO = 1_000_000


def _doc_tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term) rows under the repo-wide normalization; empty terms
    dropped (empty/whitespace-only documents contribute no rows)."""
    return docs.select(
        F.col(id_col),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")


def _doc_lengths(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, dl) document token counts as a PURE PROJECTION — no explode,
    no shuffle (r13 optimization round, guide §2.4 remove shuffles
    outright): dl is the size of the filtered split array, exactly the
    groupBy-count over _doc_tokens wherever that frame has a row.  Docs
    with ZERO tokens (NULL / empty / whitespace-only text) get a dl=0
    row here where the explode form omits them — equivalent at every
    consumer: dl is only ever (a) inner-joined against docs that matched
    a query term (those have >= 1 token, so the extra rows never match)
    and (b) summed into total_dl (+0 == absent row)."""
    return docs.select(
        F.col(id_col),
        F.size(_tokens(text_col)).cast("long").alias("dl"),
    )


def _tokens(text_col: str) -> Column:
    """The document's tokens under the repo-wide normalization, as an
    array with empty terms dropped — empty, never NULL, for NULL text:
    size(NULL) is -1 in a session with ANSI mode off."""
    return F.coalesce(
        F.array_remove(F.split(normalized_text(F.col(text_col)), " "), ""),
        F.array().cast("array<string>"),
    )


def _query_terms(spark, queries: Mapping[int, Sequence[str]]) -> list[tuple[int, str]]:
    """(query_id, term) rows of the pinned query map, each term lowercased
    through the corpus normalization so a caller-supplied 'Fast' matches
    the indexed 'fast'; terms that normalize to "" are dropped.  The
    normalization runs on a local frame, so the collect runs no job."""
    rows = [(int(q), t) for q, terms in sorted(queries.items()) for t in terms]
    qt = local_frame(spark, rows, "query_id long, term string").select(
        F.col("query_id").cast("int").alias("query_id"),
        normalized_text(F.col("term")).alias("term"),
    )
    return [(r.query_id, r.term) for r in qt.collect() if r.term]


def _token_frame(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __toks): the one tokenize projection every lexical plan reads."""
    return docs.select(F.col(id_col), _tokens(text_col).alias("__toks"))


def _tf(term: Column | str) -> Column:
    """Occurrences of `term` in the row's __toks: the elements
    array_remove takes off (a compiled kernel; a filter lambda would be
    interpreted per element)."""
    return (F.size("__toks") - F.size(F.array_remove("__toks", term))).cast("long")


def _df(term: str, id_col: str) -> Column:
    """Aggregate: the documents whose __toks hold `term`.  The NULL-id
    rows together count as one document, as a group-by on the id would."""
    has = F.array_contains("__toks", term)
    doc_id = F.col(id_col)
    return F.count_if(has & doc_id.isNotNull()) + F.coalesce(
        F.max((has & doc_id.isNull()).cast("long")), F.lit(0)
    )


def _corpus_stats(toks: DataFrame, per_term: Sequence[Column]) -> tuple[int, int, list]:
    """Step 1 of the lexical plan: ONE aggregate over the tokenize
    projection brings N (every row, NULL and empty texts included),
    total_dl and the value of each `per_term` aggregate to the driver."""
    row = toks.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.size("__toks")), F.lit(0)).alias("total_dl"),
        *per_term,
    ).first()
    return row["n_docs"], row["total_dl"], list(row[2:])


def _matched(toks: DataFrame, terms: Sequence[str], id_col: str) -> DataFrame:
    """Step 2 of the lexical plan, lazy: one (id, term, tf, dl) row per
    document and distinct term of `terms` it holds.  The explode of the
    intersection emits nothing for a document sharing no term, so no
    pre-filter on __toks is needed (the optimizer would push one below
    the tokenize projection and tokenize every document twice).  A
    NULL-id row is never matched."""
    doc_id = F.col(id_col)
    terms_arr = F.array(*[F.lit(t) for t in terms]).cast("array<string>")
    return (
        toks.filter(doc_id.isNotNull())
        .select(
            doc_id,
            "__toks",
            F.explode(F.array_intersect("__toks", terms_arr)).alias("term"),
        )
        .select(
            doc_id,
            "term",
            _tf(F.col("term")).alias("tf"),
            F.size("__toks").cast("long").alias("dl"),
        )
    )


def _bm25_score(
    matched: DataFrame,
    qt: Sequence[tuple[int, str]],
    df: Mapping[str, int],
    n_docs: int,
    total_dl: int,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """BM25 over a matched (id, term, tf, dl) frame: a broadcast local
    (query_id, term, df) frame fans the matched rows out to the queries
    that asked, N and total_dl enter as literals, and the contributions
    sum exactly per (query, id).  Returns (query_id, id, score,
    score_int, n_terms): n_terms counts the query's terms the document
    holds (a repeated query term each time); the optimizer drops it
    from the aggregate when no consumer reads it."""
    qdf = local_frame(
        matched.sparkSession,
        [(q, t, df[t]) for q, t in qt],
        "query_id int, term string, df long",
    )
    ci = _bm25_contribution(
        F.col("tf"),
        F.col("dl"),
        F.col("df"),
        F.lit(n_docs).cast("long"),
        F.lit(total_dl).cast("long"),
        k1,
        b,
    )
    per_doc = (
        matched.join(F.broadcast(qdf), "term")
        .select("query_id", F.col(id_col), ci.alias("__ci"))
        .groupBy("query_id", id_col)
        .agg(F.sum("__ci").alias("score_int"), F.count("*").alias("n_terms"))
    )
    return per_doc.select(
        "query_id",
        id_col,
        (F.col("score_int").cast("double") / F.lit(float(MICRO))).alias("score"),
        "score_int",
        "n_terms",
    )


def bm25_scores(
    docs: DataFrame,
    queries: Mapping[int, Sequence[str]],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 score of every document against every pinned query:
      idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))      (always >= 0)
      tfn(t,d)= tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
      score   = sum_t idf(t) * tfn(t, d)
    with N = total corpus documents (empty docs count toward N and
    avgdl's denominator), dl = document token count, avgdl = total
    tokens / N.  dl/avgdl is computed as (dl * N) / total_dl — one
    exact bigint product, one correctly-rounded IEEE division — so both
    engines see bit-identical inputs.

    Plan: the lexical plan's two steps (_corpus_stats for N, total_dl
    and each distinct query term's df, then the lazy _matched frame),
    scored by _bm25_score.  A NULL-id row counts toward N, total_dl and
    df but is never scored.  `id_col` is the corpus key: rows repeating
    an id count toward df, and score, once per row.

    Returns (query_id int, doc_id, score double, score_int bigint) for
    every document sharing at least one term with the query; score_int
    is the exact micro-grid sum the caller should rank on."""
    qt = _query_terms(docs.sparkSession, queries)
    terms = sorted({t for _, t in qt})
    toks = _token_frame(docs, text_col, id_col)
    n_docs, total_dl, dfs = _corpus_stats(toks, [_df(t, id_col) for t in terms])
    return _bm25_score(
        _matched(toks, terms, id_col), qt, dict(zip(terms, dfs)), n_docs, total_dl,
        id_col, k1, b,
    ).drop("n_terms")


def _bm25_contribution(
    tf: Column, dl: Column, df: Column, n_docs: Column, total_dl: Column, k1: float, b: float
) -> Column:
    """One (query term, doc) BM25 contribution on the micro grid, as a
    BIGINT column expression.  The idf is snapped to the micro grid
    BEFORE it enters the product, exactly as the oracle does, so the
    ln() 1-ulp caveat is confined to the snap boundary."""
    d = lambda c: c.cast("double")  # noqa: E731
    one = F.lit(1.0)
    idf_int = F.floor(
        F.log(one + (d(n_docs) - d(df) + F.lit(0.5)) / (d(df) + F.lit(0.5)))
        * F.lit(float(MICRO))
        + F.lit(0.5)
    ).cast("long")
    idf_d = idf_int.cast("double") / F.lit(float(MICRO))
    dlr = (dl * n_docs).cast("double") / d(total_dl)
    k1c = F.lit(k1) + one
    tfn = (d(tf) * k1c) / (d(tf) + F.lit(k1) * ((one - F.lit(b)) + F.lit(b) * dlr))
    return F.floor(idf_d * tfn * F.lit(float(MICRO)) + F.lit(0.5)).cast("long")


def bm25_topk(
    docs: DataFrame,
    queries: Mapping[int, Sequence[str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25 documents per query: rank on the exact integer score
    (desc), doc id asc on ties.  Output (query_id, doc_id, score, rank)."""
    scored = bm25_scores(docs, queries, k1=k1, b=b, text_col=text_col, id_col=id_col)
    return bm25_rank_cut(scored, id_col, k)


def bm25_rank_cut(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Per-query top-k cut over a bm25 scored frame — shared by the batch
    operator and the streamed-index scorer so ranking semantics (integer
    score desc, id asc on ties) can never diverge."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_int").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
    query_col: str = "query_id",
    item_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion over any number of per-query rankings:
      rrf(d) = sum_i 1 / (k_rrf + rank_i(d))
    over the UNION of each ranker's lists (a ranker that did not return
    d contributes 0).  Standard Cormack'09 fusion of a lexical and a
    vector tier; ties (symmetric rank combinations) break by item id.

    Determinism: each term is one correctly-rounded IEEE division of
    exact integers, and the terms are added in ranker-list order (a
    fixed-width expression, not a float aggregation) — bit-identical
    across engines.  Output keeps each source rank as rank_{i}.

    Plan shape: (len(rankings) - 1) outer joins on (query, item) — the
    inputs are top-k lists, k rows per query, so every join is
    broadcast-sized relative to the corpus that produced them."""
    if len(rankings) < 2:
        raise ValueError("rrf_fuse needs at least two rankings")
    fused = None
    rank_cols = []
    for i, r in enumerate(rankings):
        ri = r.select(
            F.col(query_col),
            F.col(item_col),
            F.col(rank_col).cast("int").alias(f"rank_{i}"),
        )
        rank_cols.append(f"rank_{i}")
        fused = ri if fused is None else fused.join(ri, [query_col, item_col], "full_outer")
    score = None
    for rc in rank_cols:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col(rc)).cast("double"), F.lit(0.0)
        )
        score = term if score is None else score + term
    w = Window.partitionBy(query_col).orderBy(F.col("rrf_score").desc(), F.col(item_col).asc())
    return (
        fused.withColumn("rrf_score", score)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_col, item_col, "rrf_score", *rank_cols, "rank")
    )


def readability_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading ease / Flesch-Kincaid grade per document, on the
    classic count proxies a regex can compute at corpus scale:
      words     = non-empty whitespace-delimited tokens
      sentences = runs of [.!?] (floored at 1 when the doc has words —
                  the standard convention for fragment text)
      syllables = vowel-group runs [aeiouy]+ of the lowercased text
                  (word boundaries split runs, so this is the per-word
                  vowel-group sum)
      flesch    = 206.835 - 1.015 * (W/S) - 84.6 * (Syl/W)
      fk_grade  = 0.39 * (W/S) + 11.8 * (Syl/W) - 15.59
    Scores snap to the micro grid (floor(x*1e6+0.5)/1e6) so both engines
    emit identical doubles; NULL text and zero-word documents emit NULL
    scores and a NULL band (division guard).  Zero shuffle: pure
    per-row codegen over the scan.

    Scale: this is the cheapest quality signal in the corpus gate —
    regexp_count over the scan, no Python, no shuffle; at 100 TB it
    fuses with whatever projection reads the text."""
    c = F.col(text_col)
    # count NON-EMPTY tokens (array_remove, not trim): trim() strips only
    # spaces, so leading/trailing tabs/newlines would otherwise mint
    # phantom empty tokens and whitespace-only docs would score
    w_cnt = F.size(F.array_remove(F.split(c, r"\s+"), "")).cast("long")
    s_raw = F.regexp_count(c, F.lit(r"[.!?]+")).cast("long")
    syl = F.regexp_count(F.lower(c), F.lit("[aeiouy]+")).cast("long")
    s_cnt = F.greatest(s_raw, F.lit(1).cast("long"))

    d = lambda col: col.cast("double")  # noqa: E731
    wps = d(F.col("n_words")) / d(F.col("n_sentences"))
    spw = d(F.col("n_syllables")) / d(F.col("n_words"))
    flesch_i = F.floor(
        (F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw) * F.lit(float(MICRO))
        + F.lit(0.5)
    ).cast("long")
    fk_i = F.floor(
        (F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)) * F.lit(float(MICRO))
        + F.lit(0.5)
    ).cast("long")

    base = docs.select(
        F.col(id_col),
        w_cnt.alias("n_words"),
        F.when(w_cnt > 0, s_cnt).otherwise(F.lit(None).cast("long")).alias("n_sentences"),
        syl.alias("n_syllables"),
    )
    scored = base.withColumn(
        "__fl", F.when(F.col("n_words") > 0, flesch_i)
    ).withColumn("__fk", F.when(F.col("n_words") > 0, fk_i))
    band = (
        F.when(F.col("__fl").isNull(), F.lit(None).cast("string"))
        .when(F.col("__fl") >= F.lit(60 * MICRO), F.lit("easy"))
        .when(F.col("__fl") >= F.lit(30 * MICRO), F.lit("standard"))
        .otherwise(F.lit("difficult"))
    )
    return scored.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        (F.col("__fl").cast("double") / F.lit(float(MICRO))).alias("flesch"),
        (F.col("__fk").cast("double") / F.lit(float(MICRO))).alias("fk_grade"),
        band.alias("readability_band"),
    )


def hybrid_rrf_topk_ivf(
    docs: DataFrame,
    embeddings: DataFrame,
    queries,
    query_vec_ids,
    k: int = 10,
    k_candidates: int = 20,
    k_rrf: int = 60,
    nprobe: int = 4,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The 100 TB serving form of hybrid retrieval: BM25 lexical leg
    fused (RRF) with an IVF-probed cosine leg instead of the exact
    blocked brute force — same output contract as the registry's
    hybrid_rrf_topk (swap freely), sub-linear vector cost.

    Approximation lives ONLY in the cosine candidate lists (missed
    neighbors simply contribute no RRF term); the BM25 leg and the
    fusion arithmetic are exact.  On clustered embeddings the IVF leg's
    agreement with exact is ~1.0 at nprobe=4 (the ivf_cross_top_k
    operating point measured in SCALESMOKE), so fused rankings match
    the exact form there — pinned by the agreement test."""
    from pyspark.sql import functions as F  # local alias for clarity

    from wellmeet_data_pipeline_spark.operators.similarity import ivf_cross_top_k

    qv = embeddings.filter(F.col(vec_id_col).isin([int(v) for v in query_vec_ids]))
    cos = ivf_cross_top_k(
        qv, embeddings, k=k_candidates, nprobe=nprobe,
        query_id=vec_id_col, cand_id=vec_id_col, vec_col=vec_col, round_digits=4,
    ).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias(id_col),
        "rank",
    )
    bm = bm25_topk(docs, queries, k=k_candidates, id_col=id_col).select(
        "query_id", id_col, "rank"
    )
    fused = rrf_fuse([bm, cos], k=k, k_rrf=k_rrf, item_col=id_col)
    return fused.select(
        "query_id",
        id_col,
        "rrf_score",
        F.col("rank_0").alias("bm25_rank"),
        F.col("rank_1").alias("cosine_rank"),
        "rank",
    )


# ---------------------------------------------------------------------------
# IR evaluation metrics (recall@k / MRR@k / nDCG@k)
# ---------------------------------------------------------------------------

def _dcg_term_micro(rank_col):
    """floor(1e6 * ln(2)/ln(rank+1) + 0.5): the binary-log DCG discount
    snapped to the micro grid — exact-integer-argument ln() is the same
    engine-stable recipe the BM25 idf and JS-divergence oracles lean on,
    and the +0.5/floor snap tolerates last-ulp libm differences (the
    only exact grid hits, rank 1 -> 1.0 and rank 3 -> 0.5, floor
    identically under any 1-ulp wobble)."""
    return F.floor(
        F.lit(1_000_000.0)
        * (F.log(F.lit(2.0)) / F.log(rank_col.cast("double") + F.lit(1.0)))
        + F.lit(0.5)
    ).cast("long")


def ir_eval_metrics(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query retrieval quality of a ranked run against binary
    relevance judgments: recall@k, MRR@k, nDCG@k — every metric an
    exact integer on the micro grid (counts, integer divisions, and
    micro-snapped log discounts), so the whole evaluation is
    hash-verifiable.

    Plan: the run is cut at k (top-k lists, tiny), hit-joined against
    qrels on (query, doc), and reduced with one map-side-combined
    aggregation per side; ideal DCG is the min(n_rel, k)-th of k prefix
    sums of the discount, computed once on the driver through a local
    frame (the same Spark ln(), no job) and looked up in-row.  Queries
    with relevant docs but no hits report zeros; queries absent from
    qrels are out of scope (recall undefined at n_rel = 0).

    Output: (query, n_rel, n_hits, recall_micro, mrr_micro,
    ndcg_micro)."""
    run_k = run.filter(F.col(rank_col) <= k).select(query_col, doc_col, rank_col)
    # qrels grain is (query, doc): dedup here rather than trusting the
    # caller — duplicate judgment rows would double-count n_hits/n_rel/
    # dcg while idcg stays capped at min(n_rel, k) terms, inflating nDCG.
    # Judgment sets are query-bounded (tiny next to the run), so the
    # distinct costs one small-side shuffle, not a corpus-grain one.
    qrels = qrels.select(query_col, doc_col).distinct()
    hits = run_k.join(qrels, [query_col, doc_col])
    hq = hits.groupBy(query_col).agg(
        F.count("*").cast("long").alias("n_hits"),
        F.min(rank_col).cast("long").alias("first_rank"),
        F.sum(_dcg_term_micro(F.col(rank_col))).cast("long").alias("dcg_micro"),
    )
    nrel = qrels.groupBy(query_col).agg(F.count("*").cast("long").alias("n_rel"))
    base = nrel.join(hq, query_col, "left").select(
        query_col,
        "n_rel",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        "first_rank",
        F.coalesce(F.col("dcg_micro"), F.lit(0)).cast("long").alias("dcg_micro"),
    )
    discounts = local_frame(run.sparkSession, [(r,) for r in range(1, k + 1)], "r int")
    ideal = accumulate(r[0] for r in discounts.select(_dcg_term_micro(F.col("r"))).collect())
    idcg = F.element_at(
        F.array(*[F.lit(v) for v in ideal]).cast("array<bigint>"),
        F.least(F.col("n_rel"), F.lit(k)).cast("int"),
    )
    return base.withColumn("idcg_micro", idcg).select(
        query_col,
        "n_rel",
        "n_hits",
        F.expr("n_hits * 1000000 div n_rel").cast("long").alias("recall_micro"),
        F.when(F.col("first_rank").isNull(), F.lit(0))
        .otherwise(F.expr("1000000 div first_rank"))
        .cast("long")
        .alias("mrr_micro"),
        F.expr("dcg_micro * 1000000 div idcg_micro").cast("long").alias("ndcg_micro"),
    )


def mmr_diversify(
    candidates: DataFrame,
    pair_sims: DataFrame,
    k: int = 5,
    lam_micro: int = 500_000,
    query_col: str = "query_id",
) -> DataFrame:
    """Greedy Maximal Marginal Relevance re-ranking (Carbonell &
    Goldstein 1998): per query, pick k results balancing relevance
    against redundancy with what's already picked —
      mmr = lam * rel_norm + (1 - lam) * (1 - max_sim(selected))
    evaluated ENTIRELY on the exact integer micro grid (lam_micro and
    both factors in [0, 1e6]; products <= 1e12 fit bigint exactly), so
    the greedy's argmax chain — and therefore the whole ranking — is
    engine-reproducible and hash-verifiable.  Ties break on lowest
    doc_id, matching the repo-wide rank convention.

    Inputs: candidates (query_col, doc_id, rel_norm_micro) — the cut
    top-n run with per-query-normalized relevance; pair_sims
    (query_col, a, b, jac_micro) — within-query candidate-pair
    similarity (a < b, missing pair = 0 similarity).

    Scale shape: the greedy is inherently sequential PER QUERY, but
    each query's state is n-candidates-bounded (top-n cut upstream), so
    the cogrouped applyInPandas stage is rerank-sized — queries × n
    rows — never corpus-sized; queries parallelize freely.  The
    similarity frame is candidate-pairs-bounded (n·(n-1)/2 per query).
    The cogroup key is a hash BUCKET of the query id, not the query id
    itself: per-query groups would pay one Python invocation + two
    pandas constructions per query (the measured dominant cost at 2000
    queries — r13 optimization round, guide §4), while ~n_buckets
    bucket groups amortize that overhead over ~queries/n_buckets
    greedies apiece without changing any per-query argmax chain.

    Output: (query_id, doc_id, rank, mmr_micro), rank 1..min(k, n)."""
    out_schema = f"{query_col} int, doc_id long, rank int, mmr_micro long"
    one = 1_000_000
    n_buckets = 64

    def pick(key: tuple, cand: pd.DataFrame, pairs: pd.DataFrame) -> pd.DataFrame:
        # nullable longs arrive as float64+NaN through Arrow: a NULL
        # similarity honors the documented 'missing pair = 0' rule, a
        # NULL relevance drops the candidate (it cannot be ranked) —
        # bare int() would crash the whole query on one null row
        rel_by_q: dict[int, dict[int, int]] = {}
        for q, d, r in zip(cand[query_col], cand["doc_id"], cand["rel_norm_micro"]):
            if pd.isna(r):
                continue
            rel_by_q.setdefault(int(q), {})[int(d)] = int(r)
        sim_by_q: dict[int, dict[tuple[int, int], int]] = {}
        for q, a, b, j in zip(pairs[query_col], pairs["a"], pairs["b"], pairs["jac_micro"]):
            if pd.isna(j):
                continue
            sim = sim_by_q.setdefault(int(q), {})
            sim[(int(a), int(b))] = int(j)
            sim[(int(b), int(a))] = int(j)
        rows = []
        empty: dict[tuple[int, int], int] = {}
        for q, rel in rel_by_q.items():
            sim = sim_by_q.get(q, empty)
            selected: list[int] = []
            remaining = set(rel)
            while remaining and len(selected) < k:
                best_key, best_doc, best_sc = None, None, None
                for d in remaining:
                    mj = max((sim.get((d, s), 0) for s in selected), default=0)
                    sc = lam_micro * rel[d] + (one - lam_micro) * (one - mj)
                    cand_key = (sc, -d)
                    if best_key is None or cand_key > best_key:
                        best_key, best_doc, best_sc = cand_key, d, sc
                selected.append(best_doc)
                remaining.remove(best_doc)
                rows.append((q, best_doc, len(selected), best_sc))
        return pd.DataFrame(rows, columns=[query_col, "doc_id", "rank", "mmr_micro"])

    # cogroup matches keys positionally AND by type (the round-2 trap):
    # cast both sides explicitly
    c = candidates.withColumn(query_col, F.col(query_col).cast("int")).withColumn(
        "__bkt", F.pmod(F.hash(F.col(query_col)), F.lit(n_buckets)).cast("int")
    )
    p = pair_sims.withColumn(query_col, F.col(query_col).cast("int")).withColumn(
        "__bkt", F.pmod(F.hash(F.col(query_col)), F.lit(n_buckets)).cast("int")
    )
    return (
        c.groupBy("__bkt")
        .cogroup(p.groupBy("__bkt"))
        .applyInPandas(pick, out_schema)
    )


def bm25_prf_topk(
    docs: DataFrame,
    queries: Mapping[int, Sequence[str]],
    k: int = 5,
    fb_docs: int = 5,
    fb_terms: int = 3,
    df_cap_denom: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 with pseudo-relevance-feedback query expansion (the Rocchio/
    RM1 serving pattern, made deterministic): score the pinned queries,
    take each query's top `fb_docs` documents, promote their `fb_terms`
    most frequent terms (summed tf over the feedback docs; ties break
    term-ascending) that are (a) not already query terms and (b) not
    quasi-stopwords (corpus df * df_cap_denom <= n_docs), then score the
    EXPANDED query and cut top-k.  Both passes score through
    _bm25_score, so first- and second-pass scores live on the same exact
    micro grid.

    Plan: bm25_scores' aggregate for N, total_dl and the query terms' df;
    pass 1 over the lazy matched frame; one collect of the feedback
    candidates ((query, term, summed tf) rows, bounded by fb_docs
    documents per query); ONE more aggregate for the candidates' df
    (the same _df rule, so a NULL-id document counts once); the
    expansion is chosen on the driver, and pass 2 scores the expanded
    query with every df already known.  Output (query_id, doc_id,
    score, rank)."""
    qt = _query_terms(docs.sparkSession, queries)
    terms = sorted({t for _, t in qt})
    toks = _token_frame(docs, text_col, id_col)
    n_docs, total_dl, dfs = _corpus_stats(toks, [_df(t, id_col) for t in terms])
    df = dict(zip(terms, dfs))

    def score(q_terms):
        ts = sorted({t for _, t in q_terms})
        return _bm25_score(_matched(toks, ts, id_col), q_terms, df, n_docs, total_dl,
                           id_col, k1, b)

    top1 = bm25_rank_cut(score(qt), id_col, fb_docs).select("query_id", id_col)
    asked = set(qt)
    cand = [
        (r.query_id, r.term, r.stf)
        for r in docs.join(F.broadcast(top1), id_col)
        .select("query_id", F.explode(_tokens(text_col)).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("stf"))
        .collect()
        if (r.query_id, r.term) not in asked
    ]
    cterms = sorted({t for _, t, _ in cand})
    df.update(zip(cterms, _corpus_stats(toks, [_df(t, id_col) for t in cterms])[2]))
    expansion: dict[int, list[str]] = {}
    for q, t, _ in sorted(cand, key=lambda c: (c[0], -c[2], c[1])):
        picked = expansion.setdefault(q, [])
        if df[t] * df_cap_denom <= n_docs and len(picked) < fb_terms:
            picked.append(t)
    qt2 = sorted(asked | {(q, t) for q, ts in expansion.items() for t in ts})
    return bm25_rank_cut(score(qt2), id_col, k)


def qld_topk(
    docs: DataFrame,
    queries: Mapping[int, Sequence[str]],
    k: int = 10,
    mu: int = 2000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty, SIGIR'01) — the language-modeling tier next to bm25_topk,
    ranking by log P(q|d) decomposed into a sparse matching part plus a
    length-only part:

      score(q, d) = sum_{t in q, tf>0} ln(1 + tf * T / (mu * cf_t))
                    + n_q * ln(mu / (dl + mu))

    with cf_t the term's collection frequency, T total corpus tokens,
    dl the document length, and n_q the query's terms with cf_t > 0
    (unseen terms are skipped — the standard convention, since p(t|C)=0
    makes the likelihood undefined).  Candidates are docs sharing at
    least one query term (the bm25_topk contract: scoring runs on the
    term-match candidate set, not the corpus).

    Exactness: tf * T and mu * cf_t are exact BIGINT products; each ln
    is snapped to the micro grid BEFORE summation (the bm25 idf
    discipline — the 1-ulp ln caveat confined to the snap boundary);
    score_int = sum of matched micro terms + n_q * micro length term is
    a pure BIGINT.

    Plan: bm25_scores' lexical plan — ONE aggregate brings T and each
    query term's cf (NULL-id rows included) to the driver, and the lazy
    matched frame carries tf and dl; n_q rides on the broadcast local
    (query_id, term, cf, n_q) frame.  A repeated id sums its rows'
    matched terms and takes its shortest row's length term.

    Returns (query_id, doc_id, score double, rank int), rank 1..k by
    score_int desc, doc_id asc."""
    qt = _query_terms(docs.sparkSession, queries)
    terms = sorted({t for _, t in qt})
    toks = _token_frame(docs, text_col, id_col)
    _, total_tok, cfs = _corpus_stats(
        toks, [F.coalesce(F.sum(_tf(t)), F.lit(0)) for t in terms]
    )
    cf = {t: c for t, c in zip(terms, cfs) if c}
    seen = [(q, t) for q, t in qt if t in cf]
    n_q = Counter(q for q, _ in seen)
    qcf = local_frame(
        docs.sparkSession,
        [(q, t, cf[t], n_q[q]) for q, t in seen],
        "query_id int, term string, cf long, n_q long",
    )
    d = lambda c: c.cast("double")  # noqa: E731
    snap = lambda x: F.floor(x * F.lit(float(MICRO)) + F.lit(0.5)).cast("long")  # noqa: E731
    scored = (
        _matched(toks, sorted(cf), id_col)
        .join(F.broadcast(qcf), "term")
        .select(
            "query_id",
            id_col,
            snap(
                F.log(F.lit(1.0) + d(F.col("tf") * F.lit(total_tok).cast("long"))
                      / d(F.lit(mu) * F.col("cf")))
            ).alias("__mi"),
            (F.col("n_q") * snap(F.log(d(F.lit(mu)) / d(F.col("dl") + F.lit(mu)))))
            .alias("__len"),
        )
        .groupBy("query_id", id_col)
        .agg((F.sum("__mi") + F.max("__len")).cast("long").alias("score_int"))
        .withColumn("score", F.col("score_int").cast("double") / F.lit(float(MICRO)))
    )
    return bm25_rank_cut(scored, id_col, k)
