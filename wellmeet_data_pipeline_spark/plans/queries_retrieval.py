"""Registry queries (split from plans/queries.py, r11): see the
package facade plans/queries.py for the registry contract."""

from __future__ import annotations

from collections import Counter

from wellmeet_data_pipeline_spark.catalog import local_frame
from wellmeet_data_pipeline_spark.plans.queries_core import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _NORM_SQL,
    _minhash_sha_ctes,
    _q,
    brute_force_top_k,
    document_fingerprint,
    table,
)
from wellmeet_data_pipeline_spark.plans.queries_curation import (  # noqa: F401
    _CLS_CTES,
    _hex_int_sql,
)


# ---------------------------------------------------------------------------
# Driver-evidence rotation (round 4).
#
_SIMHASH_SHA_BITS = 48


def _simhash_sha_oracle() -> str:
    votes = ",\n             ".join(
        f"sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(_SIMHASH_SHA_BITS)
    )
    acc = "\n           + ".join(
        f"(CASE WHEN v{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END)"
        for i in range(_SIMHASH_SHA_BITS)
    )
    return f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(words) - 1, 0) + 1),
                                   i -> array_to_string(words[i:i+1], ' '))) AS shingle
      FROM norm
    ),
    hx AS (SELECT doc_id, sha256(shingle) AS sx FROM sh),
    hv AS (SELECT doc_id, {_hex_int_sql('sx', 1, 12)} AS h FROM hx),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM hv GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
           CAST({acc} AS BIGINT) AS simhash
      FROM votes
    ),
    banded AS (
      SELECT doc_id, simhash, b.band,
             ((simhash >> (b.band * 12)) & 4095) AS slice
      FROM sig, (SELECT unnest(range(0, 4)) AS band) b
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.slice = b.slice
      WHERE a.doc_id < b.doc_id
        AND bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    deg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near_dups
      FROM (SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b FROM pairs)
      GROUP BY doc_id
    )
    SELECT s.doc_id, s.simhash, COALESCE(d.n_near_dups, 0) AS n_near_dups
    FROM sig s LEFT JOIN deg d USING (doc_id)
    """


@_q(
    "dedup_simhash_sha",
    _simhash_sha_oracle(),
    "sha256-derived 48-bit SimHash near-dup profile — the oracle-checkable "
    "twin of the xxhash64 SimHash (which stays the scale default): every "
    "doc's fingerprint + its hamming<=3 near-dup degree through the banded-"
    "prefix candidate join (4 bands x 12 bits, pigeonhole-complete), so "
    "the whole fingerprint->band->bucket-join->bit_count topology is hash-"
    "verified on full-corpus output",
)
def q_simhash_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import (
        simhash_sha_near_dup_profile,
    )

    d = table(spark, sf_dir, "documents")
    return simhash_sha_near_dup_profile(d)


def _embedding_lsh_sha_oracle() -> str:
    sign_nibble = _hex_int_sql(
        "sha256(CAST(p.p AS VARCHAR) || '|' || CAST(d.d AS VARCHAR))", 1, 1
    )
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                                      AS BIGINT)) AS q
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(embedding) = (SELECT max(len(embedding)) FROM embeddings
                              WHERE embedding IS NOT NULL)
    ),
    dims AS (
      SELECT unnest(range(0, (SELECT max(len(q)) FROM qv))) AS d
    ),
    signs AS (
      SELECT p.p, d.d,
             CASE WHEN ({sign_nibble}) % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(range(0, 16)) AS p) p, (SELECT d FROM dims) d
    ),
    qd AS (
      SELECT vec_id, d.d AS d, q[CAST(d.d AS INTEGER) + 1] AS qx
      FROM qv, dims d
    ),
    dots AS (
      SELECT qd.vec_id, signs.p, CAST(sum(qd.qx * signs.s) AS BIGINT) AS dot
      FROM qd JOIN signs ON qd.d = signs.d
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p)
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      FROM dots GROUP BY vec_id
    ),
    banded AS (
      SELECT vec_id, simhash, b.band,
             ((simhash >> (b.band * 4)) & 15) AS slice
      FROM sig, (SELECT unnest(range(0, 4)) AS band) b
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM banded a JOIN banded b ON a.band = b.band AND a.slice = b.slice
      WHERE a.vec_id < b.vec_id
        AND bit_count(xor(a.simhash, b.simhash)) <= 3
    )
    SELECT p.id_a, p.id_b, p.hamming,
           round(CASE WHEN sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)) = 0
                      THEN 0
                      ELSE CAST(dq AS DOUBLE)
                           / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
                 END, 6) AS cosine_sim
    FROM (
      SELECT p.id_a, p.id_b, p.hamming,
             CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                                          i -> a.q[i] * b.q[i])) AS BIGINT) AS dq,
             CAST(list_sum(list_transform(a.q, x -> x * x)) AS BIGINT) AS na2,
             CAST(list_sum(list_transform(b.q, x -> x * x)) AS BIGINT) AS nb2
      FROM pairs p JOIN qv a ON p.id_a = a.vec_id JOIN qv b ON p.id_b = b.vec_id
    ) p
    """


@_q(
    "dedup_embedding_lsh_sha",
    _embedding_lsh_sha_oracle(),
    "oracle-checkable embedding-cosine LSH twin: integer-quantized vectors "
    "(floor(x*1e6 + 0.5)), 16 sha-derived ±1 Rademacher hyperplane sign "
    "bits as EXACT integer dot signs, 4x4-bit banding (pigeonhole-complete "
    "for hamming<4), candidate self-join, exact quantized-cosine verify — "
    "every stage integer arithmetic up to one final division, so the "
    "signature, candidate set, and cosine are hash-verified; the Gaussian-"
    "hyperplane Arrow form (dedup_embedding_lsh) stays the scale default",
)
def q_embedding_lsh_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.similarity import (
        embedding_lsh_sha_pairs,
    )

    e = table(spark, sf_dir, "embeddings")
    return embedding_lsh_sha_pairs(e)


# ---------------------------------------------------------------------------
# North-star: retrieval over the corpus (BM25 / hybrid RRF / readability)
# ---------------------------------------------------------------------------

# Pinned query term sets for the lexical retrieval queries.  Literal and
# tiny by design: the query side of retrieval is user input, not data —
# pinning makes the oracle a pure VALUES clause and keeps results stable
# across SFs (the generator vocabulary contains every term).
_RETRIEVAL_QUERIES = {
    0: ["fast", "query", "scan"],
    1: ["join", "hash", "merge"],
    2: ["stream", "window", "batch"],
    3: ["customer", "order", "value"],
}

_RETRIEVAL_QT_VALUES = ", ".join(
    f"({q}, '{t}')" for q, terms in sorted(_RETRIEVAL_QUERIES.items()) for t in terms
)

# Shared BM25 CTE chain (tokenize -> tf/dl/df -> exact micro-grid scores).
# Mirrors operators/retrieval.py:bm25_scores expression-tree-for-
# expression-tree: idf is snapped to the micro grid BEFORE the product,
# (k1+1)/(1-b) are COMPUTED from literals on both engines (never
# pre-evaluated, so IEEE tie-to-even on the addition cannot split them),
# and dl/avgdl is the exact bigint product dl*N over total_dl.
_BM25_CTES = f"""
    tok AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term FROM documents
    ),
    tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
                  (SELECT CAST(COALESCE(sum(dl), 0) AS BIGINT) FROM dl) AS total_dl),
    qt(query_id, term) AS (VALUES {_RETRIEVAL_QT_VALUES}),
    co AS (
      SELECT qt.query_id, tf.doc_id,
             CAST(floor(
               CAST(CAST(floor(ln(CAST(1 AS DOUBLE)
                     + (CAST(st.n_docs AS DOUBLE) - CAST(dfr.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                       / (CAST(dfr.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                   * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS DOUBLE)
                 / CAST(1000000 AS DOUBLE)
               * ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE)))
                  / (CAST(tf.tf AS DOUBLE)
                     + CAST(1.2 AS DOUBLE) * ((CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                        + CAST(0.75 AS DOUBLE)
                          * (CAST(dl.dl * st.n_docs AS DOUBLE) / CAST(st.total_dl AS DOUBLE)))))
               * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ci
      FROM qt JOIN tf USING (term) JOIN dfr USING (term)
           JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
    ),
    bs AS (
      SELECT query_id, doc_id, CAST(sum(ci) AS BIGINT) AS s
      FROM co GROUP BY query_id, doc_id
    )"""


@_q(
    "bm25_topk",
    f"""
    WITH {_BM25_CTES}
    SELECT query_id, doc_id,
           CAST(s AS DOUBLE) / CAST(1000000 AS DOUBLE) AS score,
           CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT query_id, doc_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rnk
      FROM bs)
    WHERE rnk <= 10
    """,
    "Okapi BM25 top-10 per pinned query over the document corpus: one "
    "token pass feeds tf/dl/df, query terms broadcast, scores summed on "
    "the exact micro-integer grid, per-query rank window — the lexical "
    "tier of a RAG retrieval stack (north-star §2.11 extension)",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.retrieval import bm25_topk

    return bm25_topk(table(spark, sf_dir, "documents"), _RETRIEVAL_QUERIES, k=10)


@_q(
    "hybrid_rrf_topk",
    f"""
    WITH {_BM25_CTES},
    bm AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, doc_id ASC) AS rnk
        FROM bs)
      WHERE rnk <= 20
    ),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    nn AS (
      SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
    ),
    qv AS (SELECT * FROM nn WHERE vec_id IN (0, 1, 2, 3)),
    sc AS (
      SELECT CAST(a.vec_id AS INTEGER) AS query_id, b.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(a.e) + 1),
                                           i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 4) AS cs
      FROM qv a JOIN nn b ON a.vec_id <> b.vec_id
    ),
    cosleg AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cs DESC, neighbor_id ASC) AS rnk
        FROM sc)
      WHERE rnk <= 20
    ),
    f AS (
      SELECT COALESCE(b.query_id, c.query_id) AS query_id,
             COALESCE(b.doc_id, c.neighbor_id) AS doc_id,
             b.rnk AS rb, c.rnk AS rc
      FROM bm b FULL OUTER JOIN cosleg c
        ON b.query_id = c.query_id AND b.doc_id = c.neighbor_id
    ),
    scored AS (
      SELECT query_id, doc_id, rb, rc,
             COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rb AS DOUBLE), CAST(0 AS DOUBLE))
               + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rc AS DOUBLE), CAST(0 AS DOUBLE))
               AS rrf_score
      FROM f
    )
    SELECT query_id, doc_id, rrf_score,
           CAST(rb AS INTEGER) AS bm25_rank,
           CAST(rc AS INTEGER) AS cosine_rank,
           CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc_id ASC) AS rnk
      FROM scored)
    WHERE rnk <= 10
    """,
    "hybrid retrieval: BM25 top-20 (lexical) fused with exact cosine "
    "top-20 (vector, pinned query ids 0-3 sharing the doc_id domain) by "
    "reciprocal-rank fusion 1/(60+r) — the standard two-tier RAG serving "
    "stack as ONE declarative plan; fusion joins are top-k-list-sized",
)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.retrieval import bm25_topk, rrf_fuse
    from wellmeet_data_pipeline_spark.operators.similarity import brute_force_top_k

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id").isin(list(_RETRIEVAL_QUERIES)))
    cos = brute_force_top_k(qv, e, k=20, round_digits=4).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    bm = bm25_topk(d, _RETRIEVAL_QUERIES, k=20).select("query_id", "doc_id", "rank")
    fused = rrf_fuse([bm, cos], k=10)
    return fused.select(
        "query_id",
        "doc_id",
        "rrf_score",
        F.col("rank_0").alias("bm25_rank"),
        F.col("rank_1").alias("cosine_rank"),
        "rank",
    )


@_q(
    "readability_scores",
    """
    WITH r AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\r\\f\\x0B]+'),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS s_raw,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
      FROM documents
    ),
    g AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words > 0 THEN greatest(s_raw, CAST(1 AS BIGINT)) END AS n_sentences,
             n_syllables
      FROM r
    ),
    f AS (
      SELECT doc_id, n_words, n_sentences, n_syllables,
             CASE WHEN n_words > 0 THEN
               CAST(floor((CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS fl,
             CASE WHEN n_words > 0 THEN
               CAST(floor((CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 + CAST(11.8 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                 - CAST(15.59 AS DOUBLE))
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS fk
      FROM g
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(fl AS DOUBLE) / CAST(1000000 AS DOUBLE) AS flesch,
           CAST(fk AS DOUBLE) / CAST(1000000 AS DOUBLE) AS fk_grade,
           CASE WHEN fl IS NULL THEN NULL
                WHEN fl >= 60000000 THEN 'easy'
                WHEN fl >= 30000000 THEN 'standard'
                ELSE 'difficult' END AS readability_band
    FROM f
    """,
    "Flesch reading ease + FK grade per document from regex count proxies "
    "(words / sentence runs / vowel-group syllables) on the exact micro "
    "grid — the cheapest corpus quality signal: zero shuffle, pure "
    "codegen over the scan; NULL/empty docs emit NULL scores",
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.retrieval import readability_scores

    return readability_scores(table(spark, sf_dir, "documents"))


@_q(
    "l_diversity_audit",
    """
    SELECT c_mktsegment, c_nationkey,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT)
             AS distinct_sensitive
    FROM customer
    GROUP BY 1, 2
    HAVING count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) < 3
    """,
    "l-diversity release audit (l=3), the k-anonymity companion: a "
    "quasi-identifier group (segment, nation) whose sensitive attribute "
    "(balance band) takes fewer than l distinct values leaks it to anyone "
    "who can link the group — one groupBy + count-distinct, output "
    "bounded by the homogeneous groups",
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.projections import l_diversity_audit

    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    return l_diversity_audit(c, ["c_mktsegment", "c_nationkey"], "bal_band", l=3)


@_q(
    "trimmed_mean_by_type",
    """
    WITH m AS (
      SELECT event_type,
             CAST(floor(value * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mv
      FROM events WHERE value IS NOT NULL
    ),
    g AS (SELECT event_type, mv, CAST(count(*) AS BIGINT) AS cnt FROM m GROUP BY 1, 2),
    c AS (
      SELECT event_type, mv, cnt,
             CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY mv
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM g
    ),
    k AS (
      SELECT event_type, mv, cnt, cum, n,
             CAST(floor(CAST(n AS DOUBLE) * CAST(0.1 AS DOUBLE)) AS BIGINT) AS lo
      FROM c
    ),
    kept AS (
      SELECT event_type, mv, n,
             greatest(CAST(0 AS BIGINT),
                      least(cum, n - lo) - greatest(cum - cnt, lo)) AS kc
      FROM k
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(sum(kc) AS BIGINT) AS n_kept,
           (CAST(sum(CAST(mv AS HUGEINT) * kc) AS DOUBLE) / CAST(sum(kc) AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS trimmed_mean
    FROM kept GROUP BY event_type
    """,
    "10%-trimmed per-type mean of event value — the outlier-resistant "
    "quality rollup: rows collapse to the distinct VALUE GRID, the trim "
    "boundary resolves via integer cumulative counts over that grid "
    "(windows over grid-sized partitions, never row-sized), weighted sum "
    "on an exact wide-integer accumulator, one final division",
)
def q_trimmed_mean_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import (
        trimmed_mean_by_group,
    )

    ev = table(spark, sf_dir, "events")
    return trimmed_mean_by_group(ev, "event_type", "value", trim_frac=0.1)


@_q(
    "bootstrap_mean_ci",
    """
    WITH base AS (
      SELECT event_type, event_id,
             CAST(floor(value * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mv
      FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
    ),
    rep AS (
      SELECT base.*, t.b
      FROM base, LATERAL (SELECT unnest(range(0, 40)) AS b) t
    ),
    u AS (
      -- one sha256 = 64 hex chars = EIGHT 32-bit uniforms: replica b
      -- reads slice (b % 8) of hash group (b // 8) — mirrors the Spark
      -- side's 8x sha-call reduction exactly
      SELECT event_type, b, mv,
             (CAST(list_sum(list_transform(range(1, 9),
                     i -> CAST(strpos('0123456789abcdef',
                               substr(sha256(concat('bb|', event_id, '|', b // 8)),
                                      CAST(1 + 8 * (b % 8) AS BIGINT) + i - 1, 1)) - 1
                               AS BIGINT) << (4 * (8 - i)))) AS DOUBLE)
              + CAST(1 AS DOUBLE)) / CAST(4294967296 AS DOUBLE) AS unif
      FROM rep
    ),
    wt AS (
      SELECT event_type, b, mv,
             CASE WHEN unif < CAST(0.36787944117144233 AS DOUBLE) THEN CAST(0 AS BIGINT)
                  WHEN unif < CAST(0.7357588823428847 AS DOUBLE) THEN CAST(1 AS BIGINT)
                  WHEN unif < CAST(0.9196986029286058 AS DOUBLE) THEN CAST(2 AS BIGINT)
                  WHEN unif < CAST(0.9810118431238462 AS DOUBLE) THEN CAST(3 AS BIGINT)
                  WHEN unif < CAST(0.9963401531726563 AS DOUBLE) THEN CAST(4 AS BIGINT)
                  WHEN unif < CAST(0.9994058151824183 AS DOUBLE) THEN CAST(5 AS BIGINT)
                  ELSE CAST(6 AS BIGINT) END AS w
      FROM u
    ),
    pr AS (
      SELECT event_type, b,
             CAST(sum(w * mv) AS BIGINT) AS smw, CAST(sum(w) AS BIGINT) AS sw
      FROM wt GROUP BY 1, 2
    ),
    pv AS (
      SELECT event_type, b, CAST(smw AS DOUBLE) / CAST(sw AS DOUBLE) AS mean_b
      FROM pr WHERE sw > 0
    ),
    rk AS (
      SELECT event_type, b, mean_b,
             row_number() OVER (PARTITION BY event_type ORDER BY mean_b ASC, b ASC) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nb
      FROM pv
    ),
    -- alpha is COMPUTED from the same literals as the Spark side
    -- ((1 - 0.95)/2 in doubles is 0.025000000000000022, NOT the literal
    -- 0.025 — at nb = 40 the two ceil() to different order statistics)
    al AS (SELECT (CAST(1 AS DOUBLE) - CAST(0.95 AS DOUBLE)) / CAST(2 AS DOUBLE) AS alpha),
    ci AS (
      SELECT event_type,
             max(CASE WHEN rn = greatest(CAST(1 AS BIGINT),
                          CAST(ceil(CAST(nb AS DOUBLE) * alpha) AS BIGINT))
                      THEN mean_b END) / CAST(1000000 AS DOUBLE) AS ci_lo,
             max(CASE WHEN rn = CAST(ceil(CAST(nb AS DOUBLE)
                          * (CAST(1 AS DOUBLE) - alpha)) AS BIGINT)
                      THEN mean_b END) / CAST(1000000 AS DOUBLE) AS ci_hi,
             CAST(max(nb) AS BIGINT) AS n_replicas_used
      FROM rk CROSS JOIN al GROUP BY event_type
    ),
    pt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             (CAST(sum(mv) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               / CAST(1000000 AS DOUBLE) AS mean_value
      FROM base GROUP BY event_type
    )
    SELECT pt.event_type, pt.n_rows, pt.mean_value, ci.ci_lo, ci.ci_hi,
           ci.n_replicas_used
    FROM pt LEFT JOIN ci USING (event_type)
    """,
    "per-type mean with a Poisson-bootstrap 95% CI (bag-of-little-"
    "bootstraps): every row draws a sha-derived Poisson(1) weight per "
    "replica (no resample ever materializes), replica means ride exact "
    "integer grids, CI = order statistics of the 40 replica means; the "
    "40x fan-out feeds a map-side-combined agg so the shuffle carries "
    "|groups| x 40 partials, never 40 x N rows",
)
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import bootstrap_mean_ci

    ev = table(spark, sf_dir, "events")
    return bootstrap_mean_ci(
        ev, "event_type", "value", "event_id", n_replicas=40, ci=0.95
    )


@_q(
    "fuzzy_link_records",
    """
    WITH clean AS (
      SELECT c_custkey AS entity_id,
             substr(sha256(CAST(c_custkey AS VARCHAR)), 1, 16) AS name
      FROM customer
    ),
    dirty AS (
      SELECT entity_id AS record_id,
             substr(name, 1, CAST(entity_id % 16 AS INTEGER))
               || substr(name, CAST(entity_id % 16 AS INTEGER) + 2) AS name
      FROM clean WHERE entity_id % 3 = 0
    ),
    dk AS (
      SELECT record_id, name, len(name) AS m, (len(name) + 1) // 2 AS h
      FROM dirty
    ),
    ck AS (
      SELECT entity_id, name, len(name) - 1 AS m, ((len(name) - 1) + 1) // 2 AS h
      FROM clean
    ),
    cand AS (
      SELECT dk.record_id, ck.entity_id, dk.name AS dn, ck.name AS cn
      FROM dk JOIN ck ON dk.m = ck.m
        AND substr(dk.name, 1, CAST(dk.h AS INTEGER))
            = substr(ck.name, 1, CAST(ck.h AS INTEGER))
      UNION
      SELECT dk.record_id, ck.entity_id, dk.name, ck.name
      FROM dk JOIN ck ON dk.m = ck.m
        AND substr(dk.name, CAST(dk.h AS INTEGER) + 1)
            = substr(ck.name, CAST(ck.h AS INTEGER) + 2)
    )
    SELECT record_id, entity_id AS matched_id,
           CAST(levenshtein(dn, cn) AS INTEGER) AS edit_dist,
           record_id = entity_id AS is_true_match
    FROM cand
    WHERE levenshtein(dn, cn) <= 1
    """,
    "record linkage via deletion-neighborhood split-blocking: a dirty "
    "registry (one sha-derived character deleted per name at a key-derived "
    "position) links back to the clean entity table through TWO equi-joins "
    "— (length, prefix half) and (length, suffix half) — which by "
    "pigeonhole cover every single-deletion position (h + s = m < n), "
    "then an exact levenshtein<=1 verify; the naive form is an O(n*m) "
    "cross join with an edit-distance theta filter",
)
def q_fuzzy_link_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.linkage import fuzzy_link_edit1

    c = table(spark, sf_dir, "customer")
    clean = c.select(
        F.col("c_custkey").alias("entity_id"),
        F.substring(F.sha2(F.col("c_custkey").cast("string"), 256), 1, 16).alias(
            "entity_name"
        ),
    )
    p = (F.col("entity_id") % 16).cast("int")
    dirty = clean.filter(F.col("entity_id") % 3 == 0).select(
        F.col("entity_id").alias("record_id"),
        F.concat(
            F.col("entity_name").substr(F.lit(1), p),
            F.col("entity_name").substr(p + F.lit(2), F.lit(16)),
        ).alias("record_name"),
    )
    return fuzzy_link_edit1(dirty, clean).select(
        "record_id",
        F.col("entity_id").alias("matched_id"),
        "edit_dist",
        (F.col("record_id") == F.col("entity_id")).alias("is_true_match"),
    )


def _source_drift_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT source AS grp, unnest(string_split({_NORM_SQL}, ' ')) AS term
      FROM documents WHERE source IS NOT NULL
    ),
    sc AS (
      SELECT grp, term, CAST(count(*) AS BIGINT) AS a
      FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    gc AS (SELECT term, CAST(sum(a) AS BIGINT) AS b FROM sc GROUP BY 1),
    ga AS (SELECT grp, CAST(sum(a) AS BIGINT) AS tot_a FROM sc GROUP BY 1),
    gb AS (SELECT CAST(sum(b) AS BIGINT) AS tot_b FROM gc),
    j AS (
      SELECT sc.grp, sc.a, gc.b, ga.tot_a, gb.tot_b,
             CAST(floor(ln((2 * sc.a * gb.tot_b)
                           / CAST(sc.a * gb.tot_b + gc.b * ga.tot_a AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS t1,
             CAST(floor(ln((2 * gc.b * ga.tot_a)
                           / CAST(sc.a * gb.tot_b + gc.b * ga.tot_a AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS t2
      FROM sc JOIN gc USING (term) JOIN ga USING (grp) CROSS JOIN gb
    ),
    agg AS (
      SELECT grp,
             CAST(max(tot_a) AS BIGINT) AS n_tokens,
             CAST(max(tot_b) AS BIGINT) AS tot_b,
             CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(a * t1) AS BIGINT) AS s1,
             CAST(sum(b * t2) AS BIGINT) AS s2p,
             CAST(sum(b) AS BIGINT) AS b_present
      FROM j GROUP BY grp
    ),
    fin AS (
      SELECT grp, n_tokens, n_terms, tot_b, s1,
             s2p + CAST(floor(ln(2.0) * 1000000 + 0.5) AS BIGINT)
                   * (tot_b - b_present) AS s2
      FROM agg
    ),
    mic AS (
      SELECT grp, n_tokens, n_terms,
             CAST(floor(0.5 * (s1 / CAST(n_tokens AS DOUBLE)
                               + s2 / CAST(tot_b AS DOUBLE)) + 0.5)
                  AS BIGINT) AS js_micro_nats
      FROM fin
    )
    SELECT grp AS source, n_tokens, n_terms, js_micro_nats,
           js_micro_nats / 1000000.0 AS js_divergence
    FROM mic
    """


@_q(
    "source_drift_js",
    _source_drift_oracle(),
    "per-source Jensen-Shannon divergence vs the whole-corpus unigram "
    "distribution — the mixture-drift monitor for a multi-source corpus; "
    "absent-term mass of the P_g leg folds into ln(2)*(B - sum b_present) "
    "analytically so the plan never builds the dense source x vocab frame; "
    "each KL term is an exact-bigint-ratio ln() snapped to the integer "
    "micro-nat grid, weighted and summed in bigint, divided once per leg",
)
def q_source_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import js_divergence_by_group

    d = table(spark, sf_dir, "documents")
    return js_divergence_by_group(d, "source", "text")


def _dup_triangles_oracle() -> str:
    return f"""
    WITH {_minhash_sha_ctes()},
    e AS (SELECT DISTINCT id_a, id_b FROM pairs),
    tri AS (
      SELECT e1.id_a AS a, e1.id_b AS m, e2.id_b AS c
      FROM e e1
      JOIN e e2 ON e1.id_b = e2.id_a
      JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    tn AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT m FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT id_a AS node FROM e UNION ALL SELECT id_b FROM e
      ) GROUP BY node
    )
    SELECT deg.node, deg.degree, COALESCE(tn.n_triangles, 0) AS n_triangles
    FROM deg LEFT JOIN tn USING (node)
    """


@_q(
    "dup_triangle_count",
    _dup_triangles_oracle(),
    "per-doc triangle participation + degree on the MinHash-LSH candidate "
    "graph — the clustering read CC/PageRank don't give: triangles mark "
    "tight duplicate cliques (template spam), a high-degree zero-triangle "
    "node marks a hub minted by a bad band/boilerplate shingle; each "
    "triangle a<b<c enumerated once via the id-ordered edge self-join, "
    "closing edge checked by semi-join",
)
def q_dup_triangle_count(
    spark: SparkSession, sf_dir: str, shared_lsh_edges: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates_sha,
        triangle_counts,
    )

    # shared_lsh_edges: a pre-materialized minhash_lsh_candidates_sha(d)
    # frame (bench.py builds it ONCE for the whole dup-graph family and
    # times the build as its own entry); standalone calls — the driver's
    # correctness runs — build their own.
    d = table(spark, sf_dir, "documents")
    edges = (
        shared_lsh_edges
        if shared_lsh_edges is not None
        else minhash_lsh_candidates_sha(d)
    )
    return triangle_counts(edges)


def _vocab_overlap_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT source AS grp, unnest(string_split({_NORM_SQL}, ' ')) AS term
      FROM documents WHERE source IS NOT NULL
    ),
    v AS (SELECT DISTINCT grp, term FROM toks WHERE term <> ''),
    sizes AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_terms FROM v GROUP BY grp),
    inter AS (
      SELECT a.grp AS g1, b.grp AS g2, CAST(count(*) AS BIGINT) AS n_shared
      FROM v a JOIN v b ON a.term = b.term
      WHERE a.grp < b.grp
      GROUP BY 1, 2
    ),
    j AS (
      SELECT g1, g2, sa.n_terms AS n_terms_a, sb.n_terms AS n_terms_b, n_shared,
             CAST(floor(1000000 * n_shared
                        / CAST(sa.n_terms + sb.n_terms - n_shared AS DOUBLE)
                        + 0.5) AS BIGINT) AS jaccard_micro
      FROM inter
      JOIN sizes sa ON sa.grp = g1
      JOIN sizes sb ON sb.grp = g2
    )
    SELECT g1 AS source_a, g2 AS source_b, n_terms_a, n_terms_b, n_shared,
           jaccard_micro, jaccard_micro / 1000000.0 AS jaccard
    FROM j
    """


@_q(
    "source_vocab_overlap",
    _vocab_overlap_oracle(),
    "pairwise vocabulary Jaccard between sources — the companion to "
    "source_drift_js (JS says how far a source drifted from the blend, "
    "the overlap matrix says WHICH sources share vocabulary); one distinct "
    "(source, term) frame self-joined on term, so cost is sum over terms "
    "of k_t^2 with |sources| the small axis; Jaccard on the micro grid",
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import vocab_overlap_pairs

    d = table(spark, sf_dir, "documents")
    return vocab_overlap_pairs(d, "source", "text")


def _containment_ctes() -> str:
    """Shared CTE chain: documents -> capped shingle index -> co-occurring
    pair stats (`co` + `sizes`) — used by the containment pair query and
    its connected-components rollup."""
    return f"""norm AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(words) - 2, 0) + 1),
                                          i -> array_to_string(words[i:i+2], ' '))) AS shs
      FROM norm
    ),
    ex0 AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
    keep AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) <= 10000),
    ex AS (SELECT e.doc_id, e.shingle FROM ex0 e JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM ex GROUP BY doc_id),
    co AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
      FROM ex a JOIN ex b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


@_q(
    "ngram_containment_pairs",
    f"""
    WITH {_containment_ctes()}
    SELECT id_a, id_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
           round(inter / sa.n_sh, 6) AS containment_a_in_b,
           round(inter / sb.n_sh, 6) AS containment_b_in_a
    FROM co
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(inter / sa.n_sh, inter / sb.n_sh) >= 0.5
    """,
    "asymmetric shingle-containment near-dup pairs — catches the subset-"
    "duplicate class symmetric Jaccard misses (a short doc embedded in a "
    "long one has containment ~1 but Jaccard ~|A|/|B|); same inverted-"
    "index topology and document-frequency cap as ngram_jaccard_pairs "
    "(shared _shingle_pair_stats core)",
)
def q_ngram_containment(
    spark: SparkSession, sf_dir: str, shared_pair_stats: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import ngram_containment_pairs

    d = table(spark, sf_dir, "documents")
    # bench shared_pair_stats (see q_jaccard)
    return ngram_containment_pairs(
        d, threshold=0.5, stats_frame=shared_pair_stats
    )


@_q(
    "containment_components",
    f"""
    WITH RECURSIVE {_containment_ctes()},
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT co.id_a, co.id_b,
               greatest(inter / sa.n_sh, inter / sb.n_sh) AS g
        FROM co
        JOIN sizes sa ON sa.doc_id = co.id_a
        JOIN sizes sb ON sb.doc_id = co.id_b
      ) WHERE g >= 0.5
    ),
    e2 AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT u, u FROM e2
      UNION
      SELECT e.u, r.r FROM e2 e JOIN reach r ON e.v = r.node
    )
    SELECT node, min(r) AS component FROM reach GROUP BY node
    """,
    "containment clusters: the asymmetric-containment pairs resolved into "
    "connected components (same alternating-star CC core as the MinHash "
    "family), so chunk-embedded duplicate FAMILIES — a doc plus every "
    "superset that swallowed it — collapse to one canonical group; oracle "
    "is the recursive-CTE fixpoint over the shared containment CTE chain",
)
def q_containment_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import (
        connected_components,
        ngram_containment_pairs,
    )

    d = table(spark, sf_dir, "documents")
    return connected_components(
        ngram_containment_pairs(d, threshold=0.5).select("id_a", "id_b")
    )


@_q(
    "vocab_growth_curve",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
    r AS (
      SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS rk,
             count(*) OVER () AS n
      FROM base
    ),
    b AS (
      SELECT doc_id, text,
             CAST(floor((rk - 1) * 10 / n) + 1 AS INTEGER) AS bucket
      FROM r
    ),
    tk AS (
      SELECT bucket, term FROM (
        SELECT bucket, unnest(string_split({_NORM_SQL}, ' ')) AS term FROM b
      ) WHERE term <> ''
    ),
    pbd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs FROM b GROUP BY bucket),
    pbt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens FROM tk GROUP BY bucket),
    fs AS (SELECT term, min(bucket) AS bucket FROM tk GROUP BY term),
    pbn AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_terms FROM fs GROUP BY bucket
    ),
    per AS (
      SELECT pbd.bucket, n_docs, COALESCE(n_tokens, 0) AS n_tokens,
             COALESCE(n_new_terms, 0) AS n_new_terms
      FROM pbd LEFT JOIN pbt USING (bucket) LEFT JOIN pbn USING (bucket)
    )
    SELECT hi.bucket,
           CAST(sum(lo.n_docs) AS BIGINT) AS n_docs_cum,
           CAST(sum(lo.n_tokens) AS BIGINT) AS n_tokens_cum,
           CAST(sum(lo.n_new_terms) AS BIGINT) AS n_terms_cum
    FROM per hi JOIN per lo ON lo.bucket <= hi.bucket
    GROUP BY hi.bucket
    """,
    "Heaps'-law vocabulary-growth curve: cumulative distinct terms vs "
    "cumulative tokens over 10 equal-rank corpus prefixes — the datacard "
    "read for lexical redundancy of later data; doc ranks via the two-pass "
    "distributed prefix rank (no unpartitioned window), per-term "
    "first-appearance min() so no prefix is re-scanned, 10-row triangular "
    "broadcast cumulation",
)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.corpus import vocab_growth_curve

    d = table(spark, sf_dir, "documents")
    return vocab_growth_curve(d)


@_q(
    "geo_grid_neighbors",
    """
    WITH pts AS (
      SELECT DISTINCT user_id AS id,
             (user_id * 7919) % 500000 AS x,
             (user_id * 104729) % 500000 AS y
      FROM events WHERE user_id IS NOT NULL AND user_id >= 0
    ),
    home AS (
      SELECT id AS id_b, x AS xb, y AS yb, x // 10000 AS cx, y // 10000 AS cy
      FROM pts
    ),
    fan AS (
      SELECT id AS id_a, x AS xa, y AS ya,
             x // 10000 + dx.d AS cx, y // 10000 + dy.d AS cy
      FROM pts,
           (SELECT unnest([-1, 0, 1]) AS d) dx,
           (SELECT unnest([-1, 0, 1]) AS d) dy
    )
    SELECT id_a, id_b,
           CAST(greatest(abs(xa - xb), abs(ya - yb)) AS BIGINT) AS chebyshev
    FROM fan JOIN home USING (cx, cy)
    WHERE id_a < id_b AND greatest(abs(xa - xb), abs(ya - yb)) <= 10000
    """,
    "the geo family's oracle row: within-radius pairs over exact integer "
    "planar coordinates (sha-free key-derived micro-grid positions) via "
    "the SAME 3x3 cell-blocking join topology as geo_within_km — the "
    "scale-critical piece hash-verified; the haversine/adaptive-lon-fanout "
    "refinement stays pytest-verified (libm trig is not oracle-exact)",
)
def q_geo_grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.geo import grid_neighbor_pairs

    ev = table(spark, sf_dir, "events")
    pts = (
        ev.filter(F.col("user_id").isNotNull() & (F.col("user_id") >= 0))
        .select("user_id")
        .distinct()
        .select(
            F.col("user_id").alias("id"),
            (F.col("user_id") * 7919 % 500_000).alias("x"),
            (F.col("user_id") * 104729 % 500_000).alias("y"),
        )
    )
    return grid_neighbor_pairs(pts, radius=10_000)


@_q(
    "dedup_audit_summary",
    f"""
    WITH {_minhash_sha_ctes()},
    cn_norm AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents
    ),
    cn_sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(words) - 2, 0) + 1),
                                          i -> array_to_string(words[i:i+2], ' '))) AS shs
      FROM cn_norm
    ),
    cn_ex0 AS (SELECT doc_id, unnest(shs) AS shingle FROM cn_sh),
    cn_keep AS (SELECT shingle FROM cn_ex0 GROUP BY shingle HAVING count(*) <= 10000),
    cn_ex AS (SELECT e.doc_id, e.shingle FROM cn_ex0 e JOIN cn_keep USING (shingle)),
    cn_sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM cn_ex GROUP BY doc_id
    ),
    cn_co AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
      FROM cn_ex a JOIN cn_ex b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    contained AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM cn_co
        JOIN cn_sizes sa ON sa.doc_id = cn_co.id_a
        WHERE inter / sa.n_sh >= 0.5
        UNION ALL
        SELECT id_b FROM cn_co
        JOIN cn_sizes sb ON sb.doc_id = cn_co.id_b
        WHERE inter / sb.n_sh >= 0.5
      )
    ),
    fp AS (SELECT sha256({_NORM_SQL}) AS fingerprint FROM documents),
    lsh_nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b FROM pairs
      )
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(count(DISTINCT fingerprint) AS BIGINT) FROM fp)
             AS n_exact_unique,
           (SELECT CAST(count(*) AS BIGINT) FROM contained) AS n_contained,
           (SELECT CAST(count(*) AS BIGINT) FROM lsh_nodes) AS n_lsh_clustered
    """,
    "one-row dedup audit datacard: total docs, exact-unique fingerprints, "
    "docs >=50%-contained in another doc (asymmetric shingle containment, "
    "either direction), and docs touching a MinHash-LSH candidate pair — "
    "the three dedup tiers' independent reads over the full corpus, each "
    "through its existing hash-verified machinery",
)
def q_dedup_audit_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.functions.text import document_fingerprint
    from wellmeet_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates_sha,
        ngram_containment_pairs,
    )

    d = table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count("*").alias("n_docs"))
    n_exact = d.select(document_fingerprint("text").alias("fp")).agg(
        F.countDistinct("fp").alias("n_exact_unique")
    )
    cp = ngram_containment_pairs(d, threshold=0.5)
    # Filter on the UNROUNDED ratio (inter/n_a), exactly as the operator's
    # own threshold and the oracle's inter/n_sh comparison do: the emitted
    # containment_* columns are rounded to 6 digits, and a ratio in
    # [0.4999995, 0.5) would round UP and pass only on the rounded side.
    contained = (
        cp.filter(F.col("inter") / F.col("n_a") >= 0.5)
        .select(F.col("id_a").alias("doc_id"))
        .unionAll(
            cp.filter(F.col("inter") / F.col("n_b") >= 0.5).select(
                F.col("id_b").alias("doc_id")
            )
        )
        .distinct()
        .agg(F.count("*").alias("n_contained"))
    )
    lsh = minhash_lsh_candidates_sha(d)
    nodes = (
        lsh.select(F.col("id_a").alias("doc_id"))
        .unionAll(lsh.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .agg(F.count("*").alias("n_lsh_clustered"))
    )
    return (
        n_docs.crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(contained))
        .crossJoin(F.broadcast(nodes))
    )


@_q(
    "ivf_index_merge",
    """
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)
                                            + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS q
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(embedding) = (SELECT max(len(embedding)) FROM embeddings
                              WHERE embedding IS NOT NULL)
    ),
    oldv AS (SELECT vec_id, q, 0 AS is_new FROM qv WHERE vec_id % 4 <> 0),
    newv AS (SELECT vec_id, q, 1 AS is_new FROM qv WHERE vec_id % 4 = 0),
    seeds AS (SELECT vec_id AS sid, q AS sq FROM oldv ORDER BY vec_id LIMIT 8),
    allv AS (SELECT * FROM oldv UNION ALL SELECT * FROM newv),
    d AS (
      SELECT v.vec_id, v.q, v.is_new, s.sid,
             CAST(list_sum(list_transform(range(1, len(v.q) + 1),
                                          i -> v.q[i] * s.sq[i])) AS BIGINT) AS dot,
             CAST(list_sum(list_transform(v.q, x -> x * x)) AS BIGINT) AS n1,
             CAST(list_sum(list_transform(s.sq, x -> x * x)) AS BIGINT) AS n2
      FROM allv v CROSS JOIN seeds s
    ),
    scored AS (
      SELECT vec_id, q, is_new, sid,
             CASE WHEN sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)) = 0 THEN 0
                  ELSE CAST(dot AS DOUBLE)
                       / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))
             END AS cosv
      FROM d
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosv DESC, sid) AS rn
      FROM scored
    ),
    mem AS (SELECT sid, vec_id, q, is_new FROM best WHERE rn = 1),
    counts AS (
      SELECT sid,
             CAST(sum(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
             CAST(sum(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_added
      FROM mem GROUP BY sid
    ),
    dims AS (
      SELECT sid, is_new, t.i AS dim_i, q[t.i] AS qx
      FROM mem, LATERAL unnest(generate_series(1, len(q))) t(i)
    ),
    per_dim AS (
      SELECT sid, dim_i,
             sum(CASE WHEN is_new = 0 THEN qx ELSE 0 END) AS so,
             sum(qx) AS sa
      FROM dims GROUP BY sid, dim_i
    ),
    shift AS (
      SELECT sid, sum(so * sa) AS dd, sum(so * so) AS nn1, sum(sa * sa) AS nn2
      FROM per_dim GROUP BY sid
    )
    SELECT c.sid AS centroid_id, c.n_before, c.n_added,
           round(CASE WHEN sqrt(CAST(nn1 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE)) = 0
                      THEN 0
                      ELSE CAST(dd AS DOUBLE)
                           / (sqrt(CAST(nn1 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE)))
                 END, 6) AS mean_shift_cos
    FROM counts c JOIN shift USING (sid)
    """,
    "incremental IVF index maintenance: merge a new vector batch (vec_id "
    "% 4 = 0) into the index trained on the rest — nearest-EXISTING-"
    "centroid assignment by exact quantized cosine, per-centroid before/"
    "added counts, and the retrain trigger: cosine between the bucket's "
    "old and merged mean directions, computed on exact DECIMAL(38,0) "
    "integer sums (means and sums share a cosine) so both engines agree "
    "bit-for-bit up to the one final division",
)
def q_ivf_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.similarity import ivf_index_merge

    e = table(spark, sf_dir, "embeddings")
    old = e.filter(F.col("vec_id") % 4 != 0)
    new = e.filter(F.col("vec_id") % 4 == 0)
    return ivf_index_merge(old, new, k=8)


@_q(
    "dup_graph_kcore",
    f"""
    WITH RECURSIVE {_minhash_sha_ctes()},
    und AS (
      SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
      FROM pairs WHERE id_a <> id_b
    ),
    e2 AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
    peel(ns) AS (
      SELECT list_sort(list(DISTINCT u)) FROM e2
      UNION
      SELECT list_sort(list(u)) FROM (
        SELECT e.u FROM e2 e, peel p
        WHERE list_contains(p.ns, e.u) AND list_contains(p.ns, e.v)
        GROUP BY e.u HAVING count(*) >= 2
      )
    ),
    fixpoint AS (
      SELECT ns FROM peel ORDER BY coalesce(len(ns), 0) ASC LIMIT 1
    ),
    core AS (SELECT unnest(ns) AS node FROM fixpoint)
    SELECT e.u AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM e2 e
    JOIN core cu ON e.u = cu.node
    JOIN core cv ON e.v = cv.node
    GROUP BY e.u
    """,
    "2-core of the MinHash-LSH duplicate graph: the maximal subgraph "
    "where every doc keeps >= 2 near-dup neighbors after iteratively "
    "stripping the fringe — the DENSITY read (template/boilerplate "
    "nests, not chance pairs) that components/PageRank/triangles don't "
    "give.  Spark side peels set-based with per-round checkpoints; the "
    "oracle iterates the survivor LIST through a recursive CTE to the "
    "same fixpoint (monotone, so the shortest accumulated list IS it)",
)
def q_dup_graph_kcore(
    spark: SparkSession, sf_dir: str, shared_lsh_edges: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import (
        kcore_decomposition,
        minhash_lsh_candidates_sha,
    )

    d = table(spark, sf_dir, "documents")
    edges = (
        shared_lsh_edges
        if shared_lsh_edges is not None
        else minhash_lsh_candidates_sha(d)
    )
    return kcore_decomposition(edges, k=2)


def _band_plan_oracle(n_hashes: int = 32, threshold: str = "0.5") -> str:
    """Config legs are generated with UNROLLED repeated-squaring
    expressions (r and b are powers of two), so every float op is a
    fixed IEEE multiplication chain DuckDB evaluates bit-identically to
    Spark — pow() would diverge by libm ulps.  Midpoints are sqrt
    chains (IEEE-exact).  Per-pair probabilities snap to the micro grid
    and sum as BIGINTs."""
    legs = []
    r = 1
    while r <= n_hashes:
        b = n_hashes // r
        x = "j6"
        for _ in range(r.bit_length() - 1):
            x = f"({x} * {x})"
        y = f"(CAST(1 AS DOUBLE) - {x})"
        for _ in range(b.bit_length() - 1):
            y = f"({y} * {y})"
        p_int = (
            f"CAST(floor((CAST(1 AS DOUBLE) - {y}) * CAST(1000000 AS DOUBLE)"
            f" + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        )
        mid = f"(CAST(1 AS DOUBLE) / CAST({b} AS DOUBLE))"
        for _ in range(r.bit_length() - 1):
            mid = f"sqrt({mid})"
        legs.append(
            f"""
    SELECT CAST({b} AS INTEGER) AS bands, CAST({r} AS INTEGER) AS rows_per_band,
           {mid} AS midpoint_j,
           CAST(coalesce(sum(CASE WHEN j6 >= CAST({threshold} AS DOUBLE)
                                  THEN 1 END), 0) AS BIGINT) AS n_pairs_above,
           CAST(coalesce(sum(CASE WHEN j6 >= CAST({threshold} AS DOUBLE)
                                  THEN {p_int} END), 0) AS BIGINT)
             AS caught_above_micro,
           CAST(coalesce(sum(CASE WHEN j6 < CAST({threshold} AS DOUBLE)
                                  THEN 1 END), 0) AS BIGINT) AS n_pairs_below,
           CAST(coalesce(sum(CASE WHEN j6 < CAST({threshold} AS DOUBLE)
                                  THEN {p_int} END), 0) AS BIGINT)
             AS false_cand_micro
    FROM jp"""
        )
        r *= 2
    union = "\n    UNION ALL\n".join(legs)
    return f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(words) - 2, 0) + 1),
                                          i -> array_to_string(words[i:i+2], ' '))) AS shs
      FROM norm
    ),
    ex0 AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
    keep AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) <= 10000),
    ex AS (SELECT e.doc_id, e.shingle FROM ex0 e JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM ex GROUP BY doc_id),
    co AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
      FROM ex a JOIN ex b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT CAST(floor(inter / (sa.n_sh + sb.n_sh - inter)
                        * CAST(1000000 AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT)
             / CAST(1000000 AS DOUBLE) AS j6
      FROM co
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    )
    {union}
    """


@_q(
    "minhash_band_plan",
    _band_plan_oracle(),
    "MinHash band-tuning from the corpus's measured Jaccard distribution: "
    "per (bands, rows) factorization of a 32-hash signature, the S-curve "
    "catch probability 1-(1-j^r)^b summed over every co-occurring pair's "
    "exact Jaccard — expected recall mass above the 0.5 threshold and "
    "false-candidate mass below it, plus the folklore (1/b)^(1/r) "
    "midpoint; all float work is repeated-squaring / sqrt chains on the "
    "micro grid so both engines agree bit-for-bit",
)
def q_minhash_band_plan(
    spark: SparkSession, sf_dir: str, shared_pair_stats: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import minhash_band_plan

    d = table(spark, sf_dir, "documents")
    # bench shared_pair_stats (see q_jaccard)
    return minhash_band_plan(
        d, n_hashes=32, threshold=0.5, stats_frame=shared_pair_stats
    )


@_q(
    "exact_substring_repeats",
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
    dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    starts AS (SELECT doc_id, pos FROM grams JOIN dupg USING (g)),
    gaps AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                  THEN 1 ELSE 0 END AS gap
      FROM starts
    ),
    islands AS (
      SELECT doc_id, pos,
             sum(gap) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp
      FROM gaps
    )
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM islands GROUP BY doc_id, grp
    """,
    "ExactSubstr per-doc removal spans (Lee et al. 2021 suffix-array "
    "dedup read): MAXIMAL token spans covered by 8-token windows "
    "occurring >= 2 times anywhere in the corpus (same doc or across "
    "docs) — starts merge whenever their windows overlap or adjoin "
    "(gap <= 8), so covers are contiguous, disjoint, and maximal, and "
    "per-doc span_tokens sums never double-count.  Duplication is a "
    "map-side-combined groupBy(gram) count with a left_anti exclusion "
    "of the count-1 singletons on (doc, pos) — hot boilerplate never "
    "enters a pair join OR a single-task gram-key window — and the key "
    "is the exact gram content (no hashing).  A distributed prefix-"
    "doubling suffix-rank construction was implemented, measured "
    "bit-identical and ~9x slower at fixed L=8, and rejected (operator "
    "docstring)",
)
def q_exact_substring_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import exact_substring_repeats

    d = table(spark, sf_dir, "documents")
    return exact_substring_repeats(d, min_tokens=8)


# ---------------------------------------------------------------------------
# URL / domain curation family (round 8): canonical URL keys + RefinedWeb
# domain frequency caps.  The synthesized URL recipe is deterministic from
# (doc_id, source, lang) and deliberately exercises every clause of the
# canonicalization contract (operators/web.py module docstring): mixed-case
# scheme/host, userinfo, default and non-default ports, tracking params,
# unsorted params, trailing slashes, empty paths, fragments, and a
# scheme-less branch that must canonicalize to NULL.
# ---------------------------------------------------------------------------


def _synth_url_frame(d: DataFrame) -> DataFrame:
    """Materialized (doc_id, url) frame.  The checkpoint is load-bearing:
    canonical_url/url_domain reference their input ~8x each and sit
    inside when/otherwise branches, where Spark DISABLES common-
    subexpression elimination (conditional branches evaluate lazily) —
    and CollapseProject inlines a staged select right back into the
    consumer, so without materialization the synth CASE re-evaluates
    per reference (measured 42s -> 0.9s on 320k rows at the 64x smoke).
    Real pipelines read URLs as a STORED column, which this models."""
    return d.select("doc_id", _synth_url_spark().alias("url")).localCheckpoint(
        eager=True
    )


def _synth_url_spark():
    m = F.col("doc_id") % 5
    src = F.coalesce(F.col("source"), F.lit("nul"))
    lng = F.coalesce(F.col("lang"), F.lit("xx"))
    return (
        F.when(
            m == 0,
            F.concat(
                F.lit("HTTPS://User:Pw@WWW."), src, F.lit(".Example.COM:443/Articles/"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit("/?utm_source=rss&b="), lng, F.lit("&a=1#top"),
            ),
        )
        .when(m == 1, F.concat(F.lit("http://"), src, F.lit(".example.com:80?gclid=abc")))
        .when(
            m == 2,
            F.concat(
                F.lit("https://cdn."), src, F.lit(".example.org:8443/static/img_"),
                F.col("doc_id").cast("string"),
            ),
        )
        .when(
            m == 3,
            F.concat(
                F.lit("HTTP://"), src, F.lit(".EXAMPLE.net/path/"),
                (F.col("doc_id") % 7).cast("string"), F.lit("/?ref=tw&z=9&y=8"),
            ),
        )
        .otherwise(F.concat(F.lit("www."), src, F.lit(".example.com/x")))
    )


_URL_SYNTH_SQL = """CASE doc_id % 5
      WHEN 0 THEN 'HTTPS://User:Pw@WWW.' || coalesce(source, 'nul')
                  || '.Example.COM:443/Articles/' || CAST(doc_id % 50 AS VARCHAR)
                  || '/?utm_source=rss&b=' || coalesce(lang, 'xx') || '&a=1#top'
      WHEN 1 THEN 'http://' || coalesce(source, 'nul') || '.example.com:80?gclid=abc'
      WHEN 2 THEN 'https://cdn.' || coalesce(source, 'nul')
                  || '.example.org:8443/static/img_' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'HTTP://' || coalesce(source, 'nul') || '.EXAMPLE.net/path/'
                  || CAST(doc_id % 7 AS VARCHAR) || '/?ref=tw&z=9&y=8'
      ELSE 'www.' || coalesce(source, 'nul') || '.example.com/x'
    END"""


def _canon_ctes() -> str:
    """DuckDB CTE chain mirroring operators/web.py's canonicalization
    contract clause-for-clause (scheme case-fold, userinfo strip, default
    ports, trailing-slash/empty path, tracking-param drop + byte-sort,
    fragment drop, scheme-less -> NULL).  Regexes avoid both `\\s` (the
    ledger rule) and tail-capturing `.` (Java excludes \\r, RE2 doesn't);
    the tracking predicate is pure starts_with chains on both engines."""
    from wellmeet_data_pipeline_spark.operators.web import TRACKING_KEYS

    track = " OR ".join(
        ["starts_with(x, 'utm_')"]
        + [f"x = '{k}' OR starts_with(x, '{k}=')" for k in TRACKING_KEYS]
    )
    return f"""
    u AS (SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents),
    p1 AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme
      FROM u
    ),
    p2 AS (SELECT *, substr(url, length(scheme) + 4, length(url)) AS after_s FROM p1),
    p3 AS (SELECT *, regexp_extract(after_s, '^([^/?#]*)', 1) AS authority FROM p2),
    p4 AS (
      SELECT *,
             substr(after_s, length(authority) + 1, length(after_s)) AS rest,
             regexp_replace(authority, '^[^@]*@', '') AS auth2
      FROM p3
    ),
    p5 AS (
      SELECT *,
             lower(regexp_extract(auth2, '^([^:]*)', 1)) AS host,
             regexp_extract(auth2, ':([0-9]+)$', 1) AS port,
             -- fragment strips FIRST: a '?' inside the fragment is
             -- fragment text, not a query (mirrors operators/web.py)
             regexp_extract(rest, '^([^#]*)', 1) AS defrag
      FROM p4
    ),
    p6 AS (
      SELECT *,
             CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443')
                  THEN host ELSE host || ':' || port END AS netloc,
             CASE WHEN regexp_replace(regexp_extract(defrag, '^([^?]*)', 1), '/+$', '') = ''
                  THEN '/'
                  ELSE regexp_replace(regexp_extract(defrag, '^([^?]*)', 1), '/+$', '')
             END AS path,
             -- coalesce: DuckDB array_to_string([]) is NULL where Spark
             -- array_join([]) is '' (round-8 ledger fact)
             coalesce(array_to_string(list_sort(list_filter(
                 string_split(regexp_extract(defrag, '\\?([^#]*)', 1), '&'),
                 x -> x <> '' AND NOT ({track}))), '&'), '') AS qs
      FROM p5
    ),
    canon AS (
      SELECT doc_id, url,
             CASE WHEN scheme = '' THEN NULL
                  ELSE scheme || '://' || netloc || path ||
                       CASE WHEN qs = '' THEN '' ELSE '?' || qs END
             END AS canonical_url,
             CASE WHEN scheme = '' THEN NULL
                  ELSE regexp_replace(host, '^www\\.', '')
             END AS domain
      FROM p6
    )"""


@_q(
    "url_canonicalize",
    f"""
    WITH {_canon_ctes()}
    SELECT doc_id, url, canonical_url, domain FROM canon
    """,
    "URL canonicalization (generalizes F7's key decode, save-reviews/"
    "lambda_function.py:43, into the RefinedWeb URL-dedup key): case-fold "
    "scheme+host, strip userinfo/fragment/default ports/trailing slashes, "
    "drop tracking params, byte-sort survivors; scheme-less inputs -> "
    "NULL.  Pure codegen string/array expressions — no UDF, no regex "
    "inside HOF lambdas",
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.web import canonical_url, url_domain

    d = table(spark, sf_dir, "documents")
    u = _synth_url_frame(d)
    return u.select(
        "doc_id",
        "url",
        canonical_url(F.col("url")).alias("canonical_url"),
        url_domain(F.col("url")).alias("domain"),
    )


@_q(
    "domain_doc_caps",
    f"""
    WITH {_canon_ctes()},
    d AS (SELECT doc_id, domain FROM canon WHERE domain IS NOT NULL),
    r AS (
      SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS domain_rank,
             count(*) OVER (PARTITION BY domain) AS n_domain_docs
      FROM d
    )
    SELECT doc_id, domain, CAST(domain_rank AS BIGINT) AS domain_rank,
           CAST(n_domain_docs AS BIGINT) AS n_domain_docs,
           CAST(CASE WHEN domain_rank <= 3 THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM r
    """,
    "RefinedWeb-style per-domain frequency cap (Penedo et al. 2023): at "
    "most 3 docs per domain survive, lowest doc_id first.  The per-domain "
    "rank is global_rank_cumsum's two-pass range-partitioned rank over "
    "(domain, doc_id) — NO domain-partitioned window anywhere, so a "
    "mega-domain spreads across every range partition instead of one task",
)
def q_domain_doc_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.web import domain_doc_caps

    d = table(spark, sf_dir, "documents")
    return domain_doc_caps(_synth_url_frame(d), url_col="url", cap=3)


@_q(
    "url_dedup_by_canonical",
    f"""
    WITH {_canon_ctes()}
    SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
           CAST(count(*) AS BIGINT) AS n_variants
    FROM canon WHERE canonical_url IS NOT NULL
    GROUP BY canonical_url
    """,
    "Exact URL dedup on the canonical key (the RefinedWeb §3.1 URL-dedup "
    "pass): syntactic variants (case, ports, param order, tracking "
    "params, fragments) collapse to one key; keep-lowest-id survivor + "
    "variant count per key.  One map-side-combined aggregation on the "
    "canonical string",
)
def q_url_dedup_by_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.web import canonical_url

    d = table(spark, sf_dir, "documents")
    u = _synth_url_frame(d)
    return (
        u.select("doc_id", canonical_url(F.col("url")).alias("canonical_url"))
        .filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("long").alias("kept_doc_id"),
            F.count("*").cast("long").alias("n_variants"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (round 8): DDSketch-shaped on the exact integer
# grid, so the whole sketch-build + merge + quantile-read path is
# hash-verifiable against ANSI SQL (aggregations.py:quantile_sketch).
# ---------------------------------------------------------------------------


def _sketch_ctes(sub_bits: int, split_filter: str = "") -> str:
    """Shared oracle CTEs: cents grid -> signed bucket_lb -> (group,
    bucket, cnt) sketch -> cumulative.  Integer ops only: length(bin())
    for the bit length (the HLL rho trick), %/<< fully parenthesized
    (DuckDB gives << >> & | equal left-assoc precedence — ledger rule)."""
    return f"""
    base AS (
      SELECT event_type, CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL{split_filter}
    ),
    s AS (
      SELECT event_type,
             CASE WHEN cents < 0 THEN -1 ELSE 1 END AS sgn,
             abs(cents) AS a,
             greatest(length(bin(abs(cents))) - {1 + sub_bits}, 0) AS shift
      FROM base
    ),
    k AS (
      SELECT event_type,
             CAST(sgn * (a - (a % (CAST(1 AS BIGINT) << shift))) AS BIGINT) AS bucket_lb
      FROM s
    ),
    sk AS (
      SELECT event_type, bucket_lb, CAST(count(*) AS BIGINT) AS cnt
      FROM k GROUP BY 1, 2
    ),
    n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS nrows FROM sk GROUP BY 1),
    c AS (
      SELECT event_type, bucket_lb,
             CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket_lb
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM sk
    )"""


def _sketch_leg_sql(num: int, den: int, label: str) -> str:
    return f"""
    SELECT event_type, '{label}' AS quantile,
           CAST(min(bucket_lb) AS BIGINT) AS est,
           CAST(nrows AS BIGINT) AS n_rows
    FROM c JOIN n USING (event_type)
    WHERE cum >= (CAST({num} AS BIGINT) * nrows + {den - 1}) // {den}
    GROUP BY event_type, nrows"""


@_q(
    "sketch_value_quantiles",
    f"""
    WITH {_sketch_ctes(5)}
    {_sketch_leg_sql(1, 2, "p50")}
    UNION ALL
    {_sketch_leg_sql(9, 10, "p90")}
    UNION ALL
    {_sketch_leg_sql(99, 100, "p99")}
    """,
    "Mergeable quantile sketch (DDSketch shape, Masson et al. VLDB'19, on "
    "the exact integer cents grid): per event_type, p50/p90/p99 from a "
    "(group, bucket, cnt) frame where a value keeps sign + top 6 "
    "significant bits — values under 64 exact, relative error < 2^-5 "
    "otherwise.  ONE map-side-combined aggregation builds the sketch "
    "(bounded <= ~63*32 buckets/group at ANY row count); rank targets are "
    "integer rationals, never float interpolation.  The 100 TB percentile "
    "answer — exact value_percentiles needs a global rank pass",
)
def q_sketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import (
        quantile_sketch,
        quantiles_from_sketch,
    )

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    sk = quantile_sketch(cents, "cents", group_cols=("event_type",), sub_bits=5)
    return quantiles_from_sketch(sk, group_cols=("event_type",))


@_q(
    "sketch_merge_parity",
    f"""
    WITH {_sketch_ctes(6)}
    {_sketch_leg_sql(1, 4, "p25")}
    UNION ALL
    {_sketch_leg_sql(3, 4, "p75")}
    """,
    "Quantile-sketch MONOID evidence: Spark builds three sketches over "
    "disjoint event_id%3 splits and merges them (unionByName + "
    "re-aggregate) before reading p25/p75; the oracle computes the "
    "one-shot sketch directly.  Hash-match proves merge(split sketches) "
    "== sketch(all rows) — the property that lets per-source / per-day "
    "sketches roll up at 100 TB without touching raw rows",
)
def q_sketch_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import (
        quantile_sketch,
        quantile_sketch_merge,
        quantiles_from_sketch,
    )

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # pmod + coalesce so the three splits PARTITION all value-non-null
    # rows: bare % maps negative ids to negative remainders (no split)
    # and NULL ids to NULL — either would silently drop rows from the
    # Spark side only, faking a monoid failure (review catch)
    split_key = F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3))
    parts = [
        quantile_sketch(
            cents.filter(split_key == i),
            "cents",
            group_cols=("event_type",),
            sub_bits=6,
        )
        for i in range(3)
    ]
    merged = quantile_sketch_merge(parts, group_cols=("event_type",))
    return quantiles_from_sketch(
        merged,
        quantiles=((1, 4, "p25"), (3, 4, "p75")),
        group_cols=("event_type",),
    )


@_q(
    "sample_users_bottomk",
    f"""
    WITH ids AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    kk AS (
      SELECT event_type, user_id,
             {_hex_int_sql("sha256('bk1|' || CAST(user_id AS VARCHAR))", 1, 15)} AS dk
      FROM ids
    ),
    r AS (
      SELECT event_type, user_id,
             row_number() OVER (PARTITION BY event_type ORDER BY dk, user_id)
               AS draw_rank
      FROM kk
    )
    SELECT event_type, user_id, CAST(draw_rank AS BIGINT) AS draw_rank
    FROM r WHERE draw_rank <= 5
    """,
    "Deterministic bottom-k sample sketch (Cohen-Kaplan mergeable uniform "
    "sample): per event_type, the 5 distinct user_ids with the smallest "
    "sha-derived draw keys — duplication-invariant (members, not rows), "
    "engine-reproducible, and a monoid (bottom-k of union == bottom-k of "
    "per-part bottom-ks).  Two-phase rank: (group, key mod 64) first, so "
    "a hot group spreads across salt partitions before the bounded final "
    "rank",
)
def q_sample_users_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import bottomk_sample

    ev = table(spark, sf_dir, "events")
    return bottomk_sample(ev, "user_id", group_cols=("event_type",), k=5)


_KMV_SK_SQL = f"""
    ids AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    kk AS (
      SELECT event_type, user_id,
             {_hex_int_sql("sha256('bk1|' || CAST(user_id AS VARCHAR))", 1, 15)} AS dk
      FROM ids
    ),
    rr AS (
      SELECT event_type, user_id, dk,
             row_number() OVER (PARTITION BY event_type ORDER BY dk, user_id) AS rk
      FROM kk
    ),
    sk AS (SELECT event_type, user_id, dk FROM rr WHERE rk <= 64)"""


@_q(
    "kmv_distinct_users",
    f"""
    WITH {_KMV_SK_SQL},
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch, max(dk) AS vk
      FROM sk GROUP BY 1
    )
    SELECT event_type, n_sketch,
           CASE WHEN n_sketch < 64 THEN n_sketch
                ELSE CAST(CAST(63 AS HUGEINT)
                          * CAST(1152921504606846976 AS HUGEINT)
                          // CAST(greatest(vk, 1) AS HUGEINT) AS BIGINT)
           END AS est_distinct
    FROM agg
    """,
    "KMV (k-minimum-values / theta-sketch) distinct estimate per "
    "event_type from the bottom-k sample: n_hat = (k-1)*2^60 // v_k on "
    "exact 128-bit integers (Bar-Yossef et al. 2002, stderr ~ "
    "1/sqrt(k-2)); groups under k distinct members report their EXACT "
    "count.  Deterministic sha keys make the whole estimate "
    "hash-verifiable — the oracle-checkable complement to the "
    "engine-internal HLL++ (approx_distinct_sketch)",
)
def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import (
        kmv_distinct_estimate,
    )

    ev = table(spark, sf_dir, "events")
    return kmv_distinct_estimate(ev, "user_id", group_cols=("event_type",), k=64)


@_q(
    "kmv_type_overlap",
    f"""
    WITH {_KMV_SK_SQL},
    gs AS (SELECT DISTINCT event_type FROM sk),
    gp AS (
      SELECT a.event_type AS ga, b.event_type AS gb
      FROM gs a JOIN gs b ON a.event_type < b.event_type
    ),
    uni AS (
      SELECT DISTINCT ga, gb, user_id, dk FROM (
        SELECT gp.ga, gp.gb, s.user_id, s.dk FROM gp JOIN sk s ON s.event_type = gp.ga
        UNION ALL
        SELECT gp.ga, gp.gb, s.user_id, s.dk FROM gp JOIN sk s ON s.event_type = gp.gb
      )
    ),
    tk AS (
      SELECT * FROM (
        SELECT ga, gb, user_id, dk,
               row_number() OVER (PARTITION BY ga, gb ORDER BY dk, user_id) AS r2
        FROM uni
      ) WHERE r2 <= 64
    ),
    fl AS (
      SELECT t.ga, t.gb, t.dk,
             CASE WHEN sa.user_id IS NOT NULL THEN 1 ELSE 0 END AS ia,
             CASE WHEN sb.user_id IS NOT NULL THEN 1 ELSE 0 END AS ib
      FROM tk t
      LEFT JOIN sk sa ON sa.event_type = t.ga AND sa.user_id = t.user_id
      LEFT JOIN sk sb ON sb.event_type = t.gb AND sb.user_id = t.user_id
    ),
    st AS (
      SELECT ga AS group_a, gb AS group_b,
             CAST(count(*) AS BIGINT) AS k_union,
             CAST(sum(ia * ib) AS BIGINT) AS n_shared,
             max(dk) AS vk
      FROM fl GROUP BY 1, 2
    ),
    est AS (
      SELECT group_a, group_b, k_union, n_shared,
             CAST(floor(CAST(n_shared * 1000000 AS DOUBLE) / k_union) AS BIGINT)
               AS jaccard_micro,
             CASE WHEN k_union < 64 THEN k_union
                  ELSE CAST(CAST(k_union - 1 AS HUGEINT)
                            * CAST(1152921504606846976 AS HUGEINT)
                            // CAST(greatest(vk, 1) AS HUGEINT) AS BIGINT)
             END AS est_union
      FROM st
    )
    SELECT group_a, group_b, k_union, n_shared, jaccard_micro, est_union,
           CAST(CAST(jaccard_micro AS HUGEINT) * CAST(est_union AS HUGEINT)
                // CAST(1000000 AS HUGEINT) AS BIGINT) AS est_inter
    FROM est
    """,
    "Theta-sketch-style pairwise set overlap between event types' user "
    "sets, from their bottom-k sketches alone: the union sketch's k "
    "smallest keys are scanned for two-sided membership — jaccard_hat = "
    "shared/k on the micro grid, inter_hat = jaccard_hat * KMV(union).  "
    "Every post-sketch frame is pairs x k rows, independent of corpus "
    "size; 128-bit exact integer estimates keep it hash-verifiable",
)
def q_kmv_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.aggregations import kmv_group_overlap

    ev = table(spark, sf_dir, "events")
    return kmv_group_overlap(ev, "user_id", "event_type", k=64)


# ---------------------------------------------------------------------------
# SFT / conversation prep (round 8): synthesize a deterministic 3-turn
# conversation JSON per document (control chars stripped, JSON-escaped),
# parse it TYPED on both engines (from_json vs TRY_CAST(... AS STRUCT[])),
# and read structure/tokens/template through array lambdas.
# ---------------------------------------------------------------------------


def _synth_conv_spark():
    from wellmeet_data_pipeline_spark.functions.text import normalized_text

    safe = F.regexp_replace(normalized_text(F.col("text")), r"[\x00-\x1f]", "")
    esc = F.replace(
        F.replace(safe, F.lit("\\"), F.lit("\\\\")), F.lit('"'), F.lit('\\"')
    )
    words = F.split(esc, " ")
    n = F.size(words)
    m = F.expr("(size(split(__esc, ' ')) + 2) div 3")
    return (
        F.concat(
            F.lit('[{"role":"user","content":"'),
            F.array_join(F.slice(words, 1, m), " "),
            F.lit('"},{"role":"assistant","content":"'),
            F.array_join(F.slice(words, m + F.lit(1), m), " "),
            F.lit('"},{"role":"user","content":"'),
            F.array_join(
                F.slice(words, 2 * m + F.lit(1), F.greatest(n - 2 * m, F.lit(0))),
                " ",
            ),
            F.lit('"}]'),
        ),
        esc,
    )


def _conv_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.skew import fanout_small_scan

    # the conv build + every consumer (JSON parse, render fold, sha256)
    # is heavy per-row codegen over a narrow scan; fan a few-split scan
    # out to cluster parallelism first (exact no-op at scale)
    d = fanout_small_scan(table(spark, sf_dir, "documents"))
    conv, esc = _synth_conv_spark()
    return d.withColumn("__esc", esc).select("doc_id", conv.alias("conv"))


_CONV_SQL = f"""
    base AS (
      SELECT doc_id,
             -- 'g': DuckDB regexp_replace is first-match-only by default
             -- where Spark replaces all (review catch — latent until
             -- _NORM_SQL's keep-set widens past [\\w ])
             replace(replace(regexp_replace({_NORM_SQL}, '[\\x00-\\x1f]', '', 'g'),
                             '\\', '\\\\'), '"', '\\"') AS esc
      FROM documents
    ),
    wd AS (
      SELECT doc_id, string_split(esc, ' ') AS words,
             (len(string_split(esc, ' ')) + 2) // 3 AS m,
             len(string_split(esc, ' ')) AS n
      FROM base
    ),
    conv AS (
      -- NULL text stays NULL end-to-end (Spark's concat nulls the whole
      -- JSON; coalescing slices here would fabricate an empty conv)
      SELECT doc_id,
             CASE WHEN words IS NULL THEN NULL ELSE
             '[{{"role":"user","content":"'
             || coalesce(array_to_string(words[1:m], ' '), '')
             || '"}},{{"role":"assistant","content":"'
             || coalesce(array_to_string(words[m+1:2*m], ' '), '')
             || '"}},{{"role":"user","content":"'
             || coalesce(array_to_string(words[2*m+1:n], ' '), '')
             || '"}}]' END AS j
      FROM wd
    ),
    parsed AS (
      SELECT doc_id,
             TRY_CAST(j AS STRUCT(role VARCHAR, content VARCHAR)[]) AS t
      FROM conv
    )"""

# The rendered-training-string expression, shared by the render query and
# the conversation-grain dedup oracle so the two can never desynchronize
# (fingerprints must hash the exact bytes the render emits).  Coalesce per
# field matches the Spark fold: a NULL role/content renders as '' (|| would
# NULL the element and array_to_string would silently drop the turn).
_RENDER_SQL = """CASE WHEN t IS NULL THEN NULL
                WHEN len(t) = 0 THEN '<|end|>'
                ELSE '<|' || array_to_string(
                       list_transform(t, x -> coalesce(x.role, '') || '|>'
                                              || coalesce(x.content, '')),
                       '<|') || '<|end|>'
           END"""



@_q(
    "sft_turn_stats",
    f"""
    WITH {_CONV_SQL},
    rr AS (SELECT doc_id, t, list_transform(t, x -> x.role) AS roles FROM parsed)
    SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_turns,
           CASE WHEN t IS NULL THEN NULL
                WHEN len(t) = 0 THEN 0
                ELSE CAST((roles[1] = 'user' AND NOT list_contains(
                       list_transform(range(1, len(t)),
                                      i -> roles[i] = roles[i + 1]), true))
                     AS INTEGER)
           END AS alternating,
           CASE WHEN t IS NULL THEN NULL ELSE CAST(coalesce(list_sum(
             list_transform(list_filter(t, x -> x.role = 'user'),
               x -> len(list_filter(string_split(x.content, ' '),
                                    w -> w <> '')))), 0) AS BIGINT)
           END AS n_user_tokens,
           CASE WHEN t IS NULL THEN NULL ELSE CAST(coalesce(list_sum(
             list_transform(list_filter(t, x -> x.role = 'assistant'),
               x -> len(list_filter(string_split(x.content, ' '),
                                    w -> w <> '')))), 0) AS BIGINT)
           END AS n_assistant_tokens,
           CASE WHEN t IS NULL THEN NULL ELSE CAST(coalesce(list_sum(
             list_transform(t, x -> length(x.content))), 0) AS BIGINT)
           END AS n_content_chars
    FROM rr
    """,
    "SFT conversation structure audit (per doc: turn count, strict "
    "user-first role alternation — the gate every instruction-tuning "
    "trainer applies — per-side whitespace token counts, content chars) "
    "over a TYPED from_json parse of chat-structured JSON; every read is "
    "an array lambda over one parsed column, zero shuffle/explode.  "
    "Generalizes F8's typed extract to message grain",
)
def q_sft_turn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.sft import turn_stats

    return turn_stats(_conv_frame(spark, sf_dir), "conv")


@_q(
    "sft_render_template",
    f"""
    WITH {_CONV_SQL}
    SELECT doc_id,
           {_RENDER_SQL} AS rendered
    FROM parsed
    """,
    "Chat-template rendering: conversations flatten into the training "
    "string ('<|role|>content' segments + eos) via a left fold over the "
    "parsed turn array — one codegen expression per row, no explode, no "
    "window; array order IS the sequence order a shuffle would have to "
    "re-establish",
)
def q_sft_render_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.sft import render_chat_template

    return render_chat_template(_conv_frame(spark, sf_dir), "conv")


@_q(
    "preference_pairs",
    """
    WITH r AS (
      SELECT user_id, event_id,
             CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS score
      FROM events
      WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND value IS NOT NULL
    ),
    hi AS (
      SELECT user_id, event_id AS chosen, score AS chosen_score FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY score DESC, event_id DESC) AS rk
        FROM r
      ) WHERE rk = 1
    ),
    lo AS (
      SELECT user_id, event_id AS rejected, score AS rejected_score FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY score ASC, event_id ASC) AS rk
        FROM r
      ) WHERE rk = 1
    )
    SELECT h.user_id, h.chosen, l.rejected,
           CAST(h.chosen_score - l.rejected_score AS BIGINT) AS margin
    FROM hi h JOIN lo l ON h.user_id = l.user_id
    WHERE h.chosen_score - l.rejected_score >= 1
    """,
    "Reward-model preference-pair construction: per prompt (user), the "
    "(highest, lowest) scored responses with deterministic struct "
    "tie-breaks, kept when the margin clears the floor — two map-side-"
    "combined max_by/min_by aggregations, ONE prompt-grain shuffle, no "
    "window or self-join on the Spark side",
)
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.sft import preference_pairs

    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            "user_id",
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("score"),
        )
    )
    return preference_pairs(ev, "user_id", "event_id", "score", min_margin=1)


@_q(
    "compression_quality",
    None,
    "zlib compression-ratio quality signal per doc (templated/repetitive "
    "text compresses far below prose — the classic cheap redundancy "
    "filter next to the Gopher rules).  Rows-only by necessity: zlib "
    "bytes are not SQL-expressible and not version-stable across zlib "
    "builds; evidence is an exact pytest differential against an "
    "independent direct zlib call plus ordering invariants "
    "(tests/test_sft.py::test_compression_ratio_*)",
)
def q_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import compression_ratio

    d = table(spark, sf_dir, "documents")
    return compression_ratio(d)


_DCG_TERM_SQL = (
    "CAST(floor(CAST(1000000 AS DOUBLE)"
    " * (ln(CAST(2 AS DOUBLE)) / ln(CAST({r} + 1 AS DOUBLE)))"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


@_q(
    "retrieval_eval_bm25",
    f"""
    WITH {_BM25_CTES},
    rk AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, doc_id ASC) AS rnk
        FROM bs
      ) WHERE rnk <= 10
    ),
    dt AS (SELECT DISTINCT doc_id, term FROM tk),
    qr AS (
      SELECT qt.query_id, dt.doc_id
      FROM qt JOIN dt USING (term)
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM qr GROUP BY 1),
    hits AS (
      SELECT r.query_id, r.rnk
      FROM rk r JOIN qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
    ),
    hq AS (
      SELECT query_id,
             CAST(count(*) AS BIGINT) AS n_hits,
             CAST(min(rnk) AS BIGINT) AS first_rank,
             CAST(sum({_DCG_TERM_SQL.format(r="rnk")}) AS BIGINT) AS dcg_micro
      FROM hits GROUP BY 1
    ),
    base AS (
      SELECT n.query_id, n.n_rel,
             coalesce(h.n_hits, 0) AS n_hits,
             h.first_rank,
             coalesce(h.dcg_micro, 0) AS dcg_micro,
             CAST(coalesce(list_sum(list_transform(
               range(1, CAST(least(n.n_rel, 10) AS BIGINT) + 1),
               r -> {_DCG_TERM_SQL.format(r="r")})), 0) AS BIGINT) AS idcg_micro
      FROM nrel n LEFT JOIN hq h USING (query_id)
    )
    SELECT CAST(query_id AS INTEGER) AS query_id,
           CAST(n_rel AS BIGINT) AS n_rel,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits * 1000000 // n_rel AS BIGINT) AS recall_micro,
           CAST(CASE WHEN first_rank IS NULL THEN 0
                     ELSE 1000000 // first_rank END AS BIGINT) AS mrr_micro,
           CAST(dcg_micro * 1000000 // idcg_micro AS BIGINT) AS ndcg_micro
    FROM base
    """,
    "IR evaluation of the BM25 run against exact term-containment "
    "relevance (doc relevant iff it holds >= 2 distinct query terms): "
    "per-query recall@10, MRR@10, nDCG@10 — every metric an exact micro-"
    "grid integer (counts, integer divisions, micro-snapped binary-log "
    "discounts via the same ln() recipe as the BM25 idf).  The retrieval "
    "stack's measuring twin: rankers get judged with the same "
    "hash-verified discipline as the rankers themselves",
)
def q_retrieval_eval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.retrieval import (
        _bm25_score,
        _corpus_stats,
        _df,
        _matched,
        _query_terms,
        _token_frame,
        bm25_rank_cut,
        ir_eval_metrics,
    )

    # bm25_scores' lexical plan serves the run AND the qrels: one
    # per-(query, doc) aggregate carries the score and n_terms, the
    # pinned query's (distinct) terms the doc holds, so run and qrels
    # share one exchange and the collect tokenizes the corpus once.  A
    # NULL-id document is never matched, while the oracle's group-by
    # judges the NULL-id rows as one document: the aggregate also brings
    # each term's "held by a NULL-id row" count, and the queries with
    # >= 2 such terms get a (query, NULL) judgment.
    d = table(spark, sf_dir, "documents")
    qt = _query_terms(spark, _RETRIEVAL_QUERIES)
    terms = sorted({t for _, t in qt})
    toks = _token_frame(d, "text", "doc_id")
    null_id = F.col("doc_id").isNull()
    n_docs, total_dl, st = _corpus_stats(
        toks,
        [_df(t, "doc_id") for t in terms]
        + [F.count_if(F.array_contains("__toks", t) & null_id) for t in terms],
    )
    df, in_null = dict(zip(terms, st)), dict(zip(terms, st[len(terms):]))
    scored = _bm25_score(
        _matched(toks, terms, "doc_id"), qt, df, n_docs, total_dl, "doc_id", 1.2, 0.75
    )
    held = Counter(q for q, t in qt if in_null[t])
    null_rel = [(q,) for q, n in sorted(held.items()) if n >= 2]
    qrels = (
        scored.filter(F.col("n_terms") >= 2)
        .select("query_id", "doc_id")
        .unionByName(
            local_frame(spark, null_rel, "query_id int").select(
                "query_id", F.lit(None).cast(d.schema["doc_id"].dataType).alias("doc_id")
            )
        )
    )
    run = bm25_rank_cut(scored, "doc_id", 10)
    return ir_eval_metrics(run, qrels, k=10)



def _mmr_oracle(k: int = 5) -> str:
    """Unrolled greedy-MMR CTE chain (the _pagerank_oracle pattern: k is
    a bounded hyperparameter, so the iteration unrolls instead of WITH
    RECURSIVE).  State per query = (picked list, scores list); each step
    joins the not-yet-picked candidates, resolves max-similarity-to-
    picked from the pair frame, and picks via a row_number window on the
    exact-integer mmr score (DESC, doc_id ASC — ties -> lowest doc).
    Queries whose candidates are exhausted before step k carry their
    state through the NOT EXISTS branch unchanged."""
    lam = "CAST(500000 AS BIGINT)"
    m = "CAST(1000000 AS BIGINT)"
    parts = [
        f"""sel1 AS MATERIALIZED (
      SELECT query_id, [doc_id] AS picked, [sc] AS scores
      FROM (
        SELECT query_id, doc_id, {lam} * rel_norm + {lam} * {m} AS sc,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {lam} * rel_norm + {lam} * {m} DESC,
                                           doc_id ASC) AS rk
        FROM rn)
      WHERE rk = 1)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f"""step{t} AS MATERIALIZED (
      SELECT s.query_id, s.picked, s.scores, c.doc_id,
             any_value(c.rel_norm) AS rel_norm,
             coalesce(max(CASE WHEN (j.a = c.doc_id AND list_contains(s.picked, j.b))
                                 OR (j.b = c.doc_id AND list_contains(s.picked, j.a))
                               THEN j.jac END), CAST(0 AS BIGINT)) AS mj
      FROM sel{t-1} s
      JOIN rn c ON c.query_id = s.query_id AND NOT list_contains(s.picked, c.doc_id)
      LEFT JOIN jp j ON j.query_id = s.query_id
      GROUP BY s.query_id, s.picked, s.scores, c.doc_id),
    sel{t} AS MATERIALIZED (
      SELECT query_id, list_append(picked, doc_id) AS picked,
             list_append(scores, sc) AS scores
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sc DESC, doc_id ASC) AS rk
        FROM (SELECT *, {lam} * rel_norm + {lam} * ({m} - mj) AS sc FROM step{t}))
      WHERE rk = 1
      UNION ALL
      SELECT s.query_id, s.picked, s.scores FROM sel{t-1} s
      WHERE NOT EXISTS (SELECT 1 FROM step{t} t2 WHERE t2.query_id = s.query_id))"""
        )
    return ",\n    ".join(parts) + f"""
    SELECT CAST(query_id AS INTEGER) AS query_id,
           CAST(unnest(picked) AS BIGINT) AS doc_id,
           CAST(unnest(range(1, len(picked) + 1)) AS INTEGER) AS rank,
           CAST(unnest(scores) AS BIGINT) AS mmr_micro
    FROM sel{k}"""


@_q(
    "mmr_diversified_topk",
    f"""
    WITH {_BM25_CTES},
    cand AS (
      SELECT query_id, doc_id, s FROM (
        SELECT query_id, doc_id, s,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, doc_id ASC) AS rnk
        FROM bs) WHERE rnk <= 10
    ),
    rn AS MATERIALIZED (
      SELECT query_id, doc_id,
             CAST(s * 1000000 // max(s) OVER (PARTITION BY query_id) AS BIGINT)
               AS rel_norm
      FROM cand
    ),
    cd AS (SELECT DISTINCT doc_id FROM cand),
    norm2 AS (
      SELECT d.doc_id, string_split({_NORM_SQL}, ' ') AS words
      FROM documents d JOIN cd USING (doc_id)
    ),
    sh2 AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(words) - 2, 0) + 1),
                                          i -> array_to_string(words[i:i+2], ' '))) AS shs
      FROM norm2
    ),
    ex2 AS (SELECT doc_id, unnest(shs) AS shingle FROM sh2),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM ex2 GROUP BY 1),
    mco AS (
      SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS inter
      FROM ex2 a JOIN ex2 b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS MATERIALIZED (
      SELECT ca.query_id, ca.doc_id AS a, cb.doc_id AS b,
             CASE WHEN coalesce(sa.n_sh, 0) + coalesce(sb.n_sh, 0)
                       - coalesce(mco.inter, 0) = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(coalesce(mco.inter, 0) * 1000000
                            // (coalesce(sa.n_sh, 0) + coalesce(sb.n_sh, 0)
                                - coalesce(mco.inter, 0)) AS BIGINT) END AS jac
      FROM cand ca JOIN cand cb
        ON ca.query_id = cb.query_id AND ca.doc_id < cb.doc_id
      LEFT JOIN sz sa ON sa.doc_id = ca.doc_id
      LEFT JOIN sz sb ON sb.doc_id = cb.doc_id
      LEFT JOIN mco ON mco.da = ca.doc_id AND mco.db = cb.doc_id
    ),
    {_mmr_oracle(5)}
    """,
    "Greedy MMR diversified top-5 per query over the BM25 top-10 run "
    "(Carbonell-Goldstein: lam*rel - (1-lam)*max_sim_to_picked, lam=0.5) "
    "with 3-gram-Jaccard redundancy — relevance normalized per query and "
    "every score an exact integer micro product, so the greedy argmax "
    "chain is engine-reproducible.  The greedy runs per query over the "
    "TOP-N CUT only (state is n-bounded, never corpus-bounded); the "
    "redundancy frame is candidate-pairs-bounded via the inverted "
    "shingle index of the candidates alone",
)
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import shingles_df
    from wellmeet_data_pipeline_spark.operators.retrieval import (
        bm25_scores,
        mmr_diversify,
    )

    d = table(spark, sf_dir, "documents")
    sc = bm25_scores(d, _RETRIEVAL_QUERIES)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_int").desc(), F.col("doc_id").asc()
    )
    # candidates materialized once: they feed the rel-norm window, the
    # candidate-doc semi-join AND both sides of the pair frame — without
    # the checkpoint each consumer re-runs the whole BM25 lineage
    cand = (
        sc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("query_id", "doc_id", "score_int")
        .localCheckpoint(eager=True)
    )
    wq = Window.partitionBy("query_id")
    rn = cand.withColumn("max_s", F.max("score_int").over(wq)).select(
        "query_id",
        "doc_id",
        F.expr("score_int * 1000000 div max_s").cast("long").alias("rel_norm_micro"),
    )
    cd = cand.select("doc_id").distinct()
    sh = (
        shingles_df(d.join(F.broadcast(cd), "doc_id"), n=3)
        .select("doc_id", "shingle")
        .distinct()
        .localCheckpoint(eager=True)  # feeds sizes AND both self-join sides
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_sh"))
    co = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").cast("long").alias("inter"))
    )
    pairs = (
        cand.alias("ca")
        .join(cand.alias("cb"), "query_id")
        .filter(F.col("ca.doc_id") < F.col("cb.doc_id"))
        .select(
            "query_id",
            F.col("ca.doc_id").alias("a"),
            F.col("cb.doc_id").alias("b"),
        )
        .join(F.broadcast(sz).withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "sa"), "a", "left")
        .join(F.broadcast(sz).withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "sb"), "b", "left")
        .join(F.broadcast(co).withColumnRenamed("da", "a").withColumnRenamed("db", "b"), ["a", "b"], "left")
        .select(
            "query_id",
            "a",
            "b",
            F.expr(
                "CASE WHEN coalesce(sa, 0) + coalesce(sb, 0) - coalesce(inter, 0) = 0 "
                "THEN CAST(0 AS BIGINT) "
                "ELSE coalesce(inter, 0) * 1000000 div "
                "(coalesce(sa, 0) + coalesce(sb, 0) - coalesce(inter, 0)) END"
            ).cast("long").alias("jac_micro"),
        )
    )
    return mmr_diversify(rn, pairs, k=5, lam_micro=500_000)



_BLOOM_M = 4096
_BLOOM_K = 3
_BLOOM_BITS_SQL = " UNION ".join(
    f"SELECT DISTINCT ({_hex_int_sql('hx', 1 + 8 * i, 8)}) % {_BLOOM_M} AS pos FROM bh"
    for i in range(_BLOOM_K)
)
_BLOOM_PPOS_SQL = " UNION ALL ".join(
    f"SELECT k, ({_hex_int_sql('hx', 1 + 8 * i, 8)}) % {_BLOOM_M} AS pos FROM ph"
    for i in range(_BLOOM_K)
)


@_q(
    "bloom_prefilter_stats",
    f"""
    WITH bk AS (
      SELECT DISTINCT c_custkey AS k FROM customer
      WHERE c_acctbal < 0 AND c_custkey IS NOT NULL
    ),
    bh AS (SELECT k, sha256(CAST(k AS VARCHAR)) AS hx FROM bk),
    bits AS ({_BLOOM_BITS_SQL}),
    pk AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL),
    ph AS (SELECT k, sha256(CAST(k AS VARCHAR)) AS hx FROM pk),
    ppos AS ({_BLOOM_PPOS_SQL}),
    pass AS (
      SELECT k FROM ppos JOIN bits USING (pos)
      GROUP BY k HAVING count(*) = {_BLOOM_K}
    ),
    tm AS (SELECT pk.k FROM pk JOIN bk ON pk.k = bk.k)
    SELECT CAST((SELECT count(*) FROM bk) AS BIGINT) AS n_build,
           CAST((SELECT count(*) FROM pk) AS BIGINT) AS n_probe,
           CAST((SELECT count(*) FROM pass) AS BIGINT) AS n_pass,
           CAST((SELECT count(*) FROM tm) AS BIGINT) AS n_true_match,
           CAST((SELECT count(*) FROM pass) - (SELECT count(*) FROM tm) AS BIGINT)
             AS n_false_pos,
           CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set,
           CAST(CASE WHEN (SELECT count(*) FROM pk) = (SELECT count(*) FROM tm)
                     THEN 0
                     ELSE ((SELECT count(*) FROM pass) - (SELECT count(*) FROM tm))
                          * 1000000
                          // ((SELECT count(*) FROM pk) - (SELECT count(*) FROM tm))
                END AS BIGINT) AS fp_rate_micro
    """,
    "Bloom-filter join prefilter with EXACT false-positive accounting: "
    "delinquent customers (the build side) set 3 sha-derived bits each "
    "in a 4096-bit filter; distinct order custkeys probe it, and passes "
    "minus the exact semi-join matches = rows a Bloom-gated shuffle "
    "would still move for nothing.  The runtime-filter pushdown pattern "
    "(probe rows drop BEFORE the exchange, shuffle volume = matches + "
    "the measured FP mass) made hash-verifiable by deriving positions "
    "from sha256 both engines can compute; the deliberately small m "
    "shows measurable saturation as SF grows — the sizing signal the "
    "operator exists to provide",
)
def q_bloom_prefilter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.joins import bloom_prefilter_stats

    return bloom_prefilter_stats(
        table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0),
        table(spark, sf_dir, "orders"),
        build_key="c_custkey",
        probe_key="o_custkey",
        m_bits=_BLOOM_M,
        k_hashes=_BLOOM_K,
    )



@_q(
    "token_pmi_collocations",
    f"""
    WITH nw AS (
      SELECT list_filter(string_split({_NORM_SQL}, ' '), w -> w <> '') AS words
      FROM documents
    ),
    uni AS (SELECT unnest(words) AS term FROM nw),
    c1 AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    ntok AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
    bg0 AS (
      SELECT unnest(words[1:len(words)-1]) AS w1,
             unnest(words[2:len(words)]) AS w2
      FROM nw WHERE len(words) >= 2
    ),
    npair AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg0),
    c2 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM bg0
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT w1, w2, c_xy,
           CAST(floor(ln((CAST(c_xy AS DOUBLE) * (SELECT n FROM ntok)
                          * (SELECT n FROM ntok))
                         / (CAST((SELECT n FROM npair) AS DOUBLE) * a.c * b.c))
                      * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS pmi_micro
    FROM c2
    JOIN c1 a ON a.term = c2.w1
    JOIN c1 b ON b.term = c2.w2
    ORDER BY pmi_micro DESC, w1 ASC, w2 ASC
    LIMIT 30
    """,
    "Top-30 PMI collocations (pointwise mutual information of adjacent "
    "word pairs, min count 5): pmi = ln(c_xy * N_tok^2 / (N_pairs * c_x "
    "* c_y)) — every argument an exact bigint, one IEEE division, the "
    "micro-grid ln() snap — the classic collocation / stop-phrase mining "
    "read over the corpus.  Scale shape: bigrams come from the zero-"
    "shuffle word-array zip (no lag window), both count frames are "
    "map-side-combined vocabulary aggregations, and the min-count filter "
    "shrinks the pair frame BEFORE the unigram joins; top-30 is a "
    "TakeOrdered, never a global sort",
)
def q_token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.functions.text import normalized_text

    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.array_remove(F.split(normalized_text(F.col("text")), " "), "").alias("w")
    ).localCheckpoint(eager=True)  # words feed unigram, bigram AND scalar
    # consumers; without this each re-runs the normalization scan
    uni = base.select(F.explode("w").alias("term"))
    c1 = uni.groupBy("term").agg(F.count("*").cast("long").alias("c"))
    ntok = uni.agg(F.count("*").cast("long").alias("n_tok"))
    bg0 = base.filter(F.size("w") >= 2).select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(w, 1, size(w) - 1)"), F.expr("slice(w, 2, size(w) - 1)")
            )
        ).alias("z")
    ).select(F.col("z.0").alias("w1"), F.col("z.1").alias("w2"))
    npair = bg0.agg(F.count("*").cast("long").alias("n_pair"))
    c2 = (
        bg0.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    joined = (
        c2.join(c1.withColumnRenamed("term", "w1").withColumnRenamed("c", "ca"), "w1")
        .join(c1.withColumnRenamed("term", "w2").withColumnRenamed("c", "cb"), "w2")
        .crossJoin(F.broadcast(ntok))
        .crossJoin(F.broadcast(npair))
    )
    pmi = F.floor(
        F.log(
            (F.col("c_xy").cast("double") * F.col("n_tok") * F.col("n_tok"))
            / (F.col("n_pair").cast("double") * F.col("ca") * F.col("cb"))
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        joined.select("w1", "w2", "c_xy", pmi.alias("pmi_micro"))
        .orderBy(F.col("pmi_micro").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(30)
    )



@_q(
    "calibration_ece",
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
    ),
    pb AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos,
             CAST(sum(si) AS BIGINT) AS ssum
      FROM lab GROUP BY bin
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(abs(pos * 1000000 - ssum)) // sum(n) AS BIGINT) AS ece_micro,
           CAST(max(abs(pos * 1000000 - ssum) // n) AS BIGINT) AS mce_micro
    FROM pb
    """,
    "Expected / maximum calibration error of the hashed linear "
    "classifier vs the lang='en' label — the single-number calibration "
    "gate next to classifier_calibration's reliability diagram.  The "
    "per-bin gap n_b*|p_b - s_b| reduces to |pos_b*1e6 - ssum_b| (exact "
    "bigint), so ECE/MCE involve ZERO float summation; one 10-ary "
    "groupBy then a scalar fold",
)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import (
        expected_calibration_error,
        hashed_linear_score,
        model_weights_table,
    )

    d = table(spark, sf_dir, "documents")
    scored = hashed_linear_score(d, model_weights_table(spark)).join(
        d.select("doc_id", (F.col("lang") == "en").cast("int").alias("y")), "doc_id"
    )
    return expected_calibration_error(scored, "logit", "y", n_bins=10, lo=-1.0, hi=1.0)



@_q(
    "rag_context_pack",
    f"""
    WITH {_BM25_CTES},
    run AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, doc_id ASC) AS rnk
        FROM bs) WHERE rnk <= 10
    ),
    pk AS (
      SELECT r.query_id, r.doc_id, r.rnk,
             CAST(d.dl AS BIGINT) AS n_tokens,
             CAST(sum(d.dl) OVER (PARTITION BY r.query_id ORDER BY r.rnk
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM run r JOIN dl d USING (doc_id)
    )
    SELECT CAST(query_id AS INTEGER) AS query_id, doc_id,
           CAST(rnk AS INTEGER) AS rank, n_tokens, cum_tokens
    FROM pk WHERE cum_tokens <= 220
    """,
    "RAG context assembly: the BM25 top-10 run packed into a 220-token "
    "context budget per query — documents keep rank order while the "
    "running token total (the BM25 dl, exact integers) stays within "
    "budget (contiguous-prefix rule: deterministic, no knapsack "
    "reordering).  The post-retrieval step every RAG serving path runs; "
    "token counting reuses the candidate-bounded dl frame, so packing "
    "adds one rank-partitioned window over queries x 10 rows, nothing "
    "corpus-grain",
)
def q_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.retrieval import (
        _doc_lengths,
        bm25_topk,
    )

    d = table(spark, sf_dir, "documents")
    run = bm25_topk(d, _RETRIEVAL_QUERIES, k=10).localCheckpoint(eager=True)
    cand = run.select("doc_id").distinct()
    # token counts as the shuffle-free _doc_lengths projection instead of
    # explode -> groupBy (guide §2.4, the entry-10 BM25-dl trick): every
    # candidate doc matched >= 1 query term so it has >= 1 token, exactly
    # the grain where dl == the exploded count
    n_tokens = _doc_lengths(d.join(F.broadcast(cand), "doc_id"), "text", "doc_id").select(
        "doc_id", F.col("dl").alias("n_tokens")
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        run.join(n_tokens, "doc_id")
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= 220)
        .select("query_id", "doc_id", "rank", "n_tokens", "cum_tokens")
    )



def _lpa_oracle(iters: int = 3) -> str:
    """Unrolled synchronous label-propagation CTE chain (same pattern as
    _pagerank_oracle): per round, each node adopts the MODE of its
    neighbors' round-(t-1) labels, ties to the lowest label, via a
    row_number pick.  Each lp{t} references lp{t-1} exactly once, so no
    MATERIALIZED hints are needed (cf. the MMR oracle)."""
    parts = ["lp0 AS (SELECT u AS node, u AS label FROM deg)"]
    for t in range(1, iters + 1):
        parts.append(
            f"""lp{t} AS (
      SELECT node, label FROM (
        SELECT e.v AS node, p.label, count(*) AS n,
               row_number() OVER (PARTITION BY e.v
                                  ORDER BY count(*) DESC, p.label ASC) AS rk
        FROM e2 e JOIN lp{t-1} p ON p.node = e.u
        GROUP BY e.v, p.label
      ) WHERE rk = 1)"""
        )
    return ",\n    ".join(parts) + f"""
    SELECT node, label FROM lp{iters}"""


@_q(
    "dedup_graph_communities",
    f"""
    WITH {_minhash_sha_ctes()},
    e2 AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT u FROM e2 GROUP BY u),
    {_lpa_oracle(3)}
    """,
    "Deterministic synchronous label propagation (3 rounds, neighbor-"
    "mode labels, ties to lowest) over the MinHash near-dup candidate "
    "graph — community detection at the grain BETWEEN pair and "
    "component: CC merges everything reachable, LPA splits a component "
    "along sparse cuts, the natural 'variants of one underlying page' "
    "read.  Per round one map-side-combined vote count + one node-"
    "partitioned rank window; label frame checkpointed per round",
)
def q_dedup_graph_communities(
    spark: SparkSession, sf_dir: str, shared_lsh_edges: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import (
        label_propagation,
        minhash_lsh_candidates_sha,
    )

    d = table(spark, sf_dir, "documents")
    edges = (
        shared_lsh_edges
        if shared_lsh_edges is not None
        else minhash_lsh_candidates_sha(d)
    )
    return label_propagation(edges, iters=3)



@_q(
    "matryoshka_prefix_recall",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS p
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    n AS (
      SELECT vec_id, e, p,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS ne,
             sqrt(list_sum(list_transform(p, x -> x * x))) AS np
      FROM v
    ),
    fs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(a.e) + 1),
                                           i -> a.e[i] * b.e[i])) / (a.ne * b.ne), 4) AS cs
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ),
    ps AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(a.p) + 1),
                                           i -> a.p[i] * b.p[i])) / (a.np * b.np), 4) AS cs
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ),
    ft AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cs DESC, neighbor_id ASC) AS rk
        FROM fs) WHERE rk <= 5
    ),
    pt AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cs DESC, neighbor_id ASC) AS rk
        FROM ps) WHERE rk <= 5
    ),
    base AS (
      SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_full,
             CAST(coalesce(sum(CASE WHEN p.neighbor_id IS NOT NULL
                                    THEN 1 END), 0) AS BIGINT) AS n_common
      FROM ft f LEFT JOIN pt p
        ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
      GROUP BY f.query_id
    )
    SELECT query_id, n_full, n_common,
           CAST(n_common * 1000000 // n_full AS BIGINT) AS recall_micro
    FROM base
    """,
    "Matryoshka prefix-search quality: exact cosine top-5 with only the "
    "FIRST 16 of 64 dims vs the full-dim truth, per-query recall@5 on "
    "the micro grid — the measurement behind MRL-style tiered vector "
    "search (short prefixes drive the cheap first pass at 100 TB; this "
    "query says what that truncation costs on YOUR corpus).  Both tiers "
    "run the same tile-blocked exact operator, prefix slicing is a "
    "zero-copy array slice before the matmul",
)
def q_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.similarity import brute_force_top_k

    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    pre = e.select(
        "vec_id", F.expr("slice(embedding, 1, 16)").alias("embedding")
    )
    full_tk = brute_force_top_k(e, e, k=5, round_digits=4).select(
        "query_id", "neighbor_id"
    )
    pre_tk = brute_force_top_k(pre, pre, k=5, round_digits=4).select(
        F.col("query_id").alias("pq"), F.col("neighbor_id").alias("pn")
    )
    joined = full_tk.join(
        pre_tk,
        (F.col("query_id") == F.col("pq")) & (F.col("neighbor_id") == F.col("pn")),
        "left",
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_full"),
            F.sum(F.when(F.col("pn").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_common"),
        )
        .select(
            "query_id",
            "n_full",
            "n_common",
            F.expr("n_common * 1000000 div n_full").cast("long").alias("recall_micro"),
        )
    )



@_q(
    "sft_exact_dedup",
    f"""
    WITH {_CONV_SQL},
    rendered AS (
      SELECT doc_id,
             {_RENDER_SQL} AS r
      FROM parsed
    )
    SELECT sha256(r) AS fingerprint,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS kept_doc
    FROM rendered WHERE r IS NOT NULL
    GROUP BY 1
    """,
    "Exact dedup at the CONVERSATION grain: the rendered chat-template "
    "string (the exact bytes a trainer would consume) is fingerprinted "
    "with sha256 and collapsed keep-lowest-doc — instruction-tuning's "
    "twin of dedup_exact_documents (duplicate prompts with re-ordered "
    "metadata or duplicate source texts collapse at the training-string "
    "level, where they actually matter).  One map-side-combined groupBy "
    "on the 64-hex key; render is a per-row fold, zero shuffle before "
    "the aggregate",
)
def q_sft_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.sft import render_chat_template

    # checkpoint barrier, load-bearing: filtering on `rendered` pushes
    # isnotnull(<render fold + from_json + conv synth>) below the
    # projection, re-evaluating the whole chain in a non-codegen Filter
    # (measured 2.3s vs 0.5s at sf0.1, rows identical); the materialized
    # frame is (doc_id, rendered) at corpus grain — the same bounded
    # barrier _synth_url_frame documents
    r = render_chat_template(_conv_frame(spark, sf_dir), "conv").localCheckpoint(
        eager=False
    )
    return (
        r.filter(F.col("rendered").isNotNull())
        .select("doc_id", F.sha2(F.col("rendered"), 256).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("kept_doc"),
        )
    )


@_q(
    "quality_psi_by_source",
    """
    WITH b AS (
      SELECT source,
             least(9, greatest(0, CAST(n_chars // 64 AS INT))) AS bin
      FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
    ),
    bins(bin) AS (SELECT unnest(range(0, 10))),
    src AS (SELECT DISTINCT source FROM b),
    cs AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
    ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
    cq AS (SELECT bin, CAST(count(*) AS BIGINT) AS cc FROM b GROUP BY 1),
    nq AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM b),
    grid AS (
      SELECT s.source, bn.bin,
             coalesce(cs.c, 0) + 1 AS c1,
             coalesce(cq.cc, 0) + 1 AS cc1,
             ns.n + 10 AS n10,
             (SELECT nn FROM nq) + 10 AS nn10
      FROM src s CROSS JOIN bins bn
      LEFT JOIN cs ON cs.source = s.source AND cs.bin = bn.bin
      LEFT JOIN cq ON cq.bin = bn.bin
      JOIN ns ON ns.source = s.source
    ),
    terms AS (
      SELECT source,
             c1 * nn10 AS a,
             cc1 * n10 AS bb,
             n10, nn10
      FROM grid
    )
    SELECT source,
           CAST(sum((a - bb) * CAST(floor(ln(CAST(a AS DOUBLE) / CAST(bb AS DOUBLE))
                                          * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT))
                // (CAST(any_value(n10) AS BIGINT) * any_value(nn10)) AS BIGINT)
             AS psi_micro
    FROM terms GROUP BY source
    """,
    "Population stability index of each source's length distribution vs "
    "the corpus blend (10 fixed 64-char bins, Laplace +1 smoothing) — "
    "the scorecard-standard drift gate next to source_drift_js.  Every "
    "term is exact: p-q = (a-b)/D with bigint a, b; ln(p/q) = ln(a/b) "
    "micro-snapped; sum of bigint products, ONE division at the end.  "
    "Two map-side-combined counts + a sources x 10 grid — nothing "
    "corpus-grain shuffles",
)
def q_quality_psi_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.scoring import (
        length_bins,
        psi_from_source_bin_counts,
    )

    b = length_bins(table(spark, sf_dir, "documents"))
    cs = b.groupBy("source", "bin").agg(F.count("*").alias("c"))
    return psi_from_source_bin_counts(cs)



@_q(
    "daily_anomaly_mad",
    """
    WITH d AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    r1 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY n ASC, day ASC) AS rn,
             count(*) OVER (PARTITION BY event_type) AS c
      FROM d
    ),
    m AS (
      SELECT event_type, any_value(c) AS c,
             CAST(sum(CASE WHEN rn = (c + 1) // 2 THEN n ELSE 0 END)
                  + sum(CASE WHEN rn = c // 2 + 1 THEN n ELSE 0 END)
                  AS BIGINT) AS m2
      FROM r1 GROUP BY event_type
    ),
    dev AS (
      SELECT d.event_type, d.day, d.n, m.c,
             abs(2 * d.n - m.m2) AS dev2
      FROM d JOIN m USING (event_type)
    ),
    r2 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY dev2 ASC, day ASC) AS rn
      FROM dev
    ),
    mad AS (
      SELECT event_type,
             CAST(sum(CASE WHEN rn = (c + 1) // 2 THEN dev2 ELSE 0 END)
                  + sum(CASE WHEN rn = c // 2 + 1 THEN dev2 ELSE 0 END)
                  AS BIGINT) AS d4
      FROM r2 GROUP BY event_type
    )
    SELECT v.event_type, v.day, v.n,
           -- greatest(d4, 2) floors MAD at half a count: a degenerate
           -- type where most days share the median (MAD = 0) must not
           -- flag every 1-count wobble as anomalous (review catch)
           CASE WHEN v.c < 5 THEN NULL
                ELSE 2 * v.dev2 > 3 * greatest(mad.d4, 2) END AS is_anomaly
    FROM dev v JOIN mad USING (event_type)
    """,
    "Robust daily-volume anomaly flags: |n - median| > 3 * MAD per event "
    "type — the heavy-tail-safe twin of daily_anomaly_flags' 2-sigma "
    "rule (one outlier day inflates a sigma baseline but not a MAD "
    "one).  Medians are EXACT on the doubled integer grid (m2 = "
    "lower+upper order statistic, d4 likewise for deviations), so the "
    "flag 2*dev2 > 3*d4 is pure bigint comparison — no interpolated "
    "float median anywhere.  Windows partition by event type (day-count "
    "sized groups); nothing event-grain shuffles twice",
)
def q_daily_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    wt = Window.partitionBy("event_type")
    w1 = Window.partitionBy("event_type").orderBy(F.col("n").asc(), F.col("day").asc())
    r1 = d.withColumn("rn", F.row_number().over(w1)).withColumn(
        "c", F.count("*").over(wt)
    )
    m = r1.groupBy("event_type").agg(
        F.first("c").alias("c"),
        (
            F.sum(F.expr("CASE WHEN rn = (c + 1) div 2 THEN n ELSE 0 END"))
            + F.sum(F.expr("CASE WHEN rn = c div 2 + 1 THEN n ELSE 0 END"))
        ).cast("long").alias("m2"),
    )
    dev = d.join(F.broadcast(m), "event_type").select(
        "event_type", "day", "n", "c",
        F.abs(F.lit(2) * F.col("n") - F.col("m2")).alias("dev2"),
    )
    w2 = Window.partitionBy("event_type").orderBy(F.col("dev2").asc(), F.col("day").asc())
    r2 = dev.withColumn("rn", F.row_number().over(w2))
    mad = r2.groupBy("event_type").agg(
        (
            F.sum(F.expr("CASE WHEN rn = (c + 1) div 2 THEN dev2 ELSE 0 END"))
            + F.sum(F.expr("CASE WHEN rn = c div 2 + 1 THEN dev2 ELSE 0 END"))
        ).cast("long").alias("d4"),
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        "n",
        F.when(F.col("c") < 5, F.lit(None).cast("boolean"))
        .otherwise(
            F.lit(2) * F.col("dev2") > F.lit(3) * F.greatest(F.col("d4"), F.lit(2))
        )
        .alias("is_anomaly"),
    )



@_q(
    "dedup_best_of_cluster",
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
    {_CLS_CTES},
    sc AS (
      SELECT doc_id,
             CAST(floor(CAST(s AS DOUBLE) / (CAST(32768 AS DOUBLE) * n_tokens)
                        * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
               AS si
      FROM cls_agg
    ),
    members AS (
      SELECT c.component, c.node, coalesce(sc.si, CAST(0 AS BIGINT)) AS si
      FROM comp c LEFT JOIN sc ON sc.doc_id = c.node
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY component
                                   ORDER BY si DESC, node ASC) AS rk,
             count(*) OVER (PARTITION BY component) AS nm
      FROM members
    )
    SELECT component,
           CAST(nm AS BIGINT) AS n_members,
           CAST(node AS BIGINT) AS survivor_doc,
           CAST(si AS BIGINT) AS survivor_si
    FROM ranked WHERE rk = 1
    """,
    "Quality-aware dedup survivorship: within each MinHash near-dup "
    "cluster keep the HIGHEST-classifier-score copy (ties -> lowest "
    "doc), not the arbitrary min-id — the survivor rule real curation "
    "pipelines use ('keep the best copy'); composes the CC machinery "
    "with the hashed-linear quality scorer, both already hash-verified.  "
    "Empty-doc members score coalesce(0); per-cluster argmax on the "
    "exact (si, -doc) composite",
)
def q_dedup_best_of_cluster(
    spark: SparkSession, sf_dir: str, shared_lsh_edges: DataFrame | None = None
) -> DataFrame:
    from wellmeet_data_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidates_sha,
    )
    from wellmeet_data_pipeline_spark.operators.scoring import (
        hashed_linear_score,
        model_weights_table,
    )

    d = table(spark, sf_dir, "documents")
    edges = (
        shared_lsh_edges
        if shared_lsh_edges is not None
        else minhash_lsh_candidates_sha(d)
    )
    comp = connected_components(edges)
    si = hashed_linear_score(d, model_weights_table(spark)).select(
        "doc_id",
        F.floor(F.col("logit") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("si"),
    )
    members = comp.join(
        si.withColumnRenamed("doc_id", "node"), "node", "left"
    ).select(
        "component", "node", F.coalesce(F.col("si"), F.lit(0)).cast("long").alias("si")
    )
    best = members.groupBy("component").agg(
        F.count("*").cast("long").alias("n_members"),
        F.max_by("node", F.struct(F.col("si"), (-F.col("node")).alias("nd")))
        .cast("long")
        .alias("survivor_doc"),
        F.max(F.struct(F.col("si"), (-F.col("node")).alias("nd")))["si"]
        .cast("long")
        .alias("survivor_si"),
    )
    return best.select("component", "n_members", "survivor_doc", "survivor_si")



@_q(
    "benford_first_digit",
    """
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    pos AS (SELECT c FROM cents WHERE c > 0),
    d AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit FROM pos
    ),
    obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
    grid AS (SELECT unnest(range(1, 10)) AS digit)
    SELECT g.digit,
           coalesce(o.n_obs, 0) AS n_obs,
           CAST(floor(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / g.digit)
                      / ln(CAST(10 AS DOUBLE)) * 1000000
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS expected_micro,
           CAST((coalesce(o.n_obs, 0) * 1000000
                 - (SELECT nn FROM n)
                   * CAST(floor(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / g.digit)
                                / ln(CAST(10 AS DOUBLE)) * 1000000
                                + CAST(0.5 AS DOUBLE)) AS BIGINT))
                // nullif((SELECT nn FROM n), 0) AS BIGINT) AS dev_micro
    FROM grid g LEFT JOIN obs o ON o.digit = g.digit
    """,
    "Benford first-digit audit of order totals: observed leading-digit "
    "counts (on the exact integer cents grid — digit extraction from the "
    "bigint's decimal string, never float formatting) vs the Benford "
    "expectation ln(1+1/d)/ln(10) micro-snapped; dev_micro is the signed "
    "per-digit probability gap — the classic fabricated-data / "
    "unit-mixing detector for financial columns.  One 9-ary groupBy; "
    "nothing order-grain shuffles",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    cents = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("c")
    ).filter(F.col("c") > 0)
    d = cents.select(F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit"))
    obs = d.groupBy("digit").agg(F.count("*").cast("long").alias("n_obs"))
    nn = d.agg(F.count("*").cast("long").alias("nn"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    e_micro = F.floor(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
        * F.lit(1000000)
        + F.lit(0.5)
    ).cast("long")
    return (
        grid.join(obs, "digit", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            e_micro.alias("expected_micro"),
            "nn",
        )
        .select(
            "digit",
            "n_obs",
            "expected_micro",
            # nullif: an EMPTY table has nn = 0 — ANSI `div` would raise
            # where DuckDB's // returns NULL (r11 empty-fixture catch)
            F.expr("(n_obs * 1000000 - nn * expected_micro) div nullif(nn, 0)")
            .cast("long")
            .alias("dev_micro"),
        )
    )


