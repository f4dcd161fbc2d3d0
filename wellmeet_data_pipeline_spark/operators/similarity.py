"""Similarity search over embedding columns (SURVEY.md §2.11 north-star).

Two tiers:

- brute_force_top_k / embedding_near_dup_pairs: exact cosine, fully
  distributed.  Both sides are hash-blocked on their id
  (pmod(xxhash64(id), b)) into a b_q x b_c tile grid (b_q*b_c ~
  n_blocks, square-root split — see _block_split) and every
  (query_block, candidate_block) pair meets in ONE cogrouped
  applyInPandas — a block-nested-loop join where each task scores an
  (N_q/b_q x N_c/b_c) tile with a single float64 matmul.  Nothing is
  ever collected to the driver: the only shuffles are the two cogroup
  exchanges (queries replicated b_c times, candidates b_q times — the
  sqrt split shuffles ~2*sqrt(n_blocks)x fewer bytes than the old
  square grid for the same task count; rows stay narrow (id, vector))
  plus a final rank-window merge of the per-tile partial top-k lists
  per query.  Tile memory is (N_q/b_q + N_c/b_c) rows plus the score
  matrix — tune n_blocks so a tile fits an executor, independent of
  total N.

- ivf_top_k: IVF-flat approximate search, the 100 TB path.  Deterministic
  centroids (count ~ sqrt(N) by default, the standard IVF sizing), every
  vector assigned to its nearest centroid, queries probe only their
  nprobe nearest centroid buckets.  ONE Arrow pass emits (id, v, bucket,
  rank) rows — every row is a probe of its bucket and the rank==1 subset
  is the bucket's candidate list — so bucket-local scoring is a single
  groupBy(centroid_id).applyInPandas with one shuffle, and each group
  does a local numpy top-k: cost ~ nprobe/n_centroids of brute force, no
  quadratic pair blowup anywhere.  The one driver-side collect is the
  centroid sample itself (n_centroids rows, bounded by the cap — a
  broadcast dim, not a data collect).

Each kernel is written once and shared by every search variant:
_topk_block scores a group (_frame_top_k is the body of every exact
tile and IVF bucket scorer, _tile_top_k the cogrouped tile grid),
_merge_tile_partials merges per-tile and per-bucket lists,
_ivf_index_setup sizes and samples an index (also semantic_dedup's
clusters), _assign_probes ranks each vector's nearest centroids,
_scan_top_k cuts the quantized serving scans, _recall_vs_exact is their
recall gate, and _int_dot is the exact integer dot of the oracle twins.

Determinism: similarities rounded before ranking, ties broken by
neighbor_id, so results are stable across partitionings and match the
DuckDB oracle.  Rounding is half-away-from-zero (the ROUND mode of both
Spark's F.round and DuckDB) — np.round would be half-to-even and could
flip a ranking on an exact .xxxx5 boundary.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.catalog import local_frame


def _matrix(series: pd.Series) -> np.ndarray:
    return np.vstack(series.to_numpy()).astype(np.float64)


def _round_half_away(x: np.ndarray, digits: int) -> np.ndarray:
    """Round half away from zero — matches Spark F.round / DuckDB ROUND
    (np.round is banker's rounding: 0.5 -> 0, which diverges from the
    oracle exactly on representable .xxxx5 boundaries)."""
    p = 10.0**digits
    return np.sign(x) * np.floor(np.abs(x) * p + 0.5) / p


def _unit_rows(X: np.ndarray) -> np.ndarray:
    """Row-normalize, guarding zero rows (norm 0 -> leave the zero vector
    instead of dividing to NaN).  One NaN row would otherwise poison
    k-means codebooks globally: NaN distances win every argmin, the
    cluster mean goes NaN, and the next Lloyd round spreads it to all
    rows — recall collapses silently because the exact re-rank still
    'succeeds' on a garbage shortlist."""
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0, 1.0, n)


_EMPTY_TOPK = {"query_id": [], "neighbor_id": [], "cosine_sim": [], "rank": []}


def _rank_within_rows(rows: np.ndarray, m: int) -> np.ndarray:
    """1-based rank of each entry within its (already-sorted-ascending)
    row group — vectorized replacement for a per-row enumerate."""
    counts = np.bincount(rows, minlength=m)
    offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return (np.arange(len(rows)) - offsets[rows] + 1).astype(np.int64)


_NULL_SCORE = -4.0


def _topk_select(
    qids: np.ndarray,
    cids: np.ndarray,
    S_raw: np.ndarray,
    allow: np.ndarray,
    k: int,
    round_digits: int,
) -> pd.DataFrame:
    """Exact per-row top-k of a RAW (pre-rounding) scored matrix under a
    boolean allow mask, fully vectorized (r13 optimization round, guide
    §4.2: the old per-query-row python loop ran one O(n) mask +
    O(n log n) lexsort per row — N_q x N_c lexsort work per tile in
    interpreted dispatch).

    The ranking contract is (round_half_away(score, d) desc, id asc).
    Rounding half-away is monotone non-decreasing, so order statistics
    commute with it: the row's k-th largest ROUNDED value equals the
    rounding of its k-th largest RAW value t.  Every entry whose rounded
    score ties-or-beats that boundary satisfies s >= t - 10^-d (each
    rounding moves a value by <= 0.5*10^-d plus float eps), so selecting
    raw survivors at threshold t - 1.5*10^-d, rounding ONLY them (~m*k
    values instead of m*n — the full-matrix rounding was ~6 elementwise
    float64 passes per tile, the dominant non-BLAS cost at dim 64), and
    re-ranking the survivors on (rounded desc, id asc) returns exactly
    the round-everything-first result.  An np.partition threshold finds
    each row's k-th largest raw score; ONE global lexsort of the ~m*k
    rounded survivors (row, -score, id) cuts each row at k with the same
    tie-break the per-row lexsort applied.  Returns the standard
    (query_id, neighbor_id, cosine_sim, rank) frame.

    A pair with a zero-norm side scores NaN (0/0), which the oracles
    read as NULL: it ranks after every scored pair, ties broken by id,
    and is emitted as a NULL cosine_sim.  It selects at _NULL_SCORE,
    below every cosine and above the masked-out -inf."""
    m, n = S_raw.shape
    neg = np.where(allow, S_raw, -np.inf)
    np.nan_to_num(neg, copy=False, nan=_NULL_SCORE)
    kk = min(k, n)
    if n > kk:
        thresh = np.partition(neg, n - kk, axis=1)[:, n - kk]
        slack = 1.5 * 10.0 ** (-round_digits)
        sel = (neg >= (thresh - slack)[:, None]) & allow
    else:
        sel = allow
    rows, cols = np.nonzero(sel)
    if len(rows) == 0:
        return pd.DataFrame(_EMPTY_TOPK)
    # survivors round (and emit) in float64 regardless of the scoring
    # dtype — float32 tiers (score_dtype below) still produce a double
    # cosine_sim column on the standard grid
    sims = _round_half_away(
        S_raw[rows, cols].astype(np.float64, copy=False), round_digits
    )
    return _rank_cut_survivors(qids, rows, cids[cols], sims, m, k)


def _adc_shortlist(
    adc_chunk: np.ndarray,
    allow: np.ndarray,
    cand_ids: np.ndarray,
    pre: int,
) -> np.ndarray:
    """Vectorized ADC shortlist: boolean (m x n) mask of each row's
    top-`pre` allowed candidates by (adc desc, id asc) — SET-identical
    to the old per-row lexsort((cand_ids[orig], -adc[orig]))[:pre],
    without the per-row python loop (r14 optimization round, guide
    §4.2).  Downstream re-ranks the shortlist by exact cosine, so only
    the selected SET matters, never its order.

    An np.partition threshold per row admits everything STRICTLY above
    the pre-th largest ADC value (always < pre entries); the remaining
    slots are filled from the boundary-TIED entries (bit-equal ADC
    values are common: identical PQ codes reconstruct identically) in
    ascending-id order — one small lexsort over the tied entries only,
    exactly the id tie-break the per-row lexsort applied."""
    mrows, n_cand = adc_chunk.shape
    if n_cand <= pre:
        return allow.copy()
    neg = np.where(allow, adc_chunk, -np.inf)
    t = np.partition(neg, n_cand - pre, axis=1)[:, n_cand - pre]
    mask = neg > t[:, None]
    room = pre - mask.sum(axis=1)
    r2, c2 = np.nonzero((neg == t[:, None]) & allow)
    if len(r2):
        order = np.lexsort((cand_ids[c2], r2))
        r2, c2 = r2[order], c2[order]
        keep = _rank_within_rows(r2, mrows) <= room[r2]
        mask[r2[keep], c2[keep]] = True
    return mask


def _rank_cut_survivors(
    qids: np.ndarray,
    rows: np.ndarray,
    ids: np.ndarray,
    sims: np.ndarray,
    m: int,
    k: int,
) -> pd.DataFrame:
    """Shared tail of the vectorized selectors: ONE global lexsort of the
    survivor (row, id, rounded-sim) triples on (row, sim desc, id asc),
    rank within rows, cut at k.  Exactly the per-row
    lexsort((ids, -sims))[:k] + 1-based rank the old per-row loops
    produced; a NaN (NULL) sim sorts after every number."""
    order = np.lexsort((ids, np.where(np.isnan(sims), np.inf, -sims), rows))
    rows, ids, sims = rows[order], ids[order], sims[order]
    rank = _rank_within_rows(rows, m)
    keep = rank <= k
    return pd.DataFrame(
        {
            "query_id": qids[rows[keep]],
            "neighbor_id": ids[keep],
            "cosine_sim": sims[keep],
            "rank": rank[keep].astype(np.int32),
        }
    )


def _topk_block(
    qids: np.ndarray,
    Q: np.ndarray,
    cids: np.ndarray,
    C: np.ndarray,
    k: int,
    round_digits: int,
    allow_extra: np.ndarray | None = None,
    dtype: type = np.float64,
) -> pd.DataFrame:
    """Exact top-k of Q against C (both unnormalized), excluding id-equal
    pairs. Scoring matches the oracle formula dot/(|a||b|) with float64.
    `dtype=np.float32` switches the score matmul to SGEMM (2x ALU
    throughput, half the memory traffic) — an opt-in for recall-gated
    serving tiers only (bench 16x/hd); every oracle-checked caller stays
    on the float64 default.
    `allow_extra` may supply an extra (m x n) boolean mask AND-ed with
    the id-inequality mask — e.g. the different-label mask of
    hard-negative mining.  Selection/tie-break semantics are pinned by
    _topk_select (identical output to the original per-row lexsort).

    Query rows are processed in chunks that bound every (chunk x n)
    float64 intermediate to ~16 MB: the score pipeline allocates several
    matrix-sized temporaries (rounding, mask) and letting them grow with
    the tile made big-tile scoring memory-bandwidth-bound (measured 70s
    vs 19s at the 32k bench tier).

    r14 optimization round (guide §4.2): both sides are normalized ONCE
    per tile — O((m+n)*dim) — so each chunk's score matrix is ONE BLAS
    matmul, instead of matmul + norm outer-product + divide (two extra
    matrix-sized memory passes per chunk, the dominant non-BLAS cost at
    dim 64 after the r13 rounding fix).  (q/|q|)·(c/|c|) equals
    (q·c)/(|q||c|) to float64 ulp — the same tolerance class as the
    BLAS-vs-oracle summation-order difference the rounded contract
    already absorbs; zero-norm rows divide to NaN vectors whose scores
    stay NaN, exactly like the old 0/0 form (verified row-identical on
    all three SFs + the recall-gate fixtures), and _topk_select ranks
    those NaN scores as the oracle's NULLs."""
    with np.errstate(invalid="ignore", divide="ignore"):
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    if dtype is not np.float64:
        Qn = Qn.astype(dtype)
        Cn = Cn.astype(dtype)
    m, n = Q.shape[0], C.shape[0]
    chunk = max(64, 2_000_000 // max(n, 1))
    frames = []
    for lo in range(0, m, chunk):
        hi = min(lo + chunk, m)
        # RAW scores into the selector — it rounds survivors only (the
        # full-matrix rounding passes were the dominant non-BLAS cost)
        S = Qn[lo:hi] @ Cn.T
        allow = cids[None, :] != qids[lo:hi, None]
        if allow_extra is not None:
            allow &= allow_extra[lo:hi]
        frames.append(_topk_select(qids[lo:hi], cids, S, allow, k, round_digits))
    if not frames:
        return pd.DataFrame(_EMPTY_TOPK)
    return pd.concat(frames, ignore_index=True)


_TOPK_SCHEMA = "query_id long, neighbor_id long, cosine_sim double, rank int"


def _frame_top_k(
    q_pdf: pd.DataFrame,
    c_pdf: pd.DataFrame,
    k: int,
    round_digits: int,
    mask=None,
    dtype: type = np.float64,
) -> pd.DataFrame:
    """`_topk_block` of a group's (id, v) query rows against its (id, v)
    candidate rows — the body of every exact tile and IVF bucket scorer.
    `mask(q_pdf, c_pdf)` may return an extra (m x n) boolean allow mask
    (`_topk_block`'s `allow_extra`)."""
    if len(q_pdf) == 0 or len(c_pdf) == 0:
        return pd.DataFrame(_EMPTY_TOPK)
    return _topk_block(
        q_pdf["id"].to_numpy(),
        _matrix(q_pdf["v"]),
        c_pdf["id"].to_numpy(),
        _matrix(c_pdf["v"]),
        k,
        round_digits,
        allow_extra=None if mask is None else mask(q_pdf, c_pdf),
        dtype=dtype,
    )


def _merge_tile_partials(partial: DataFrame, k: int) -> DataFrame:
    """Rank-window merge of per-tile top-k lists into the global top-k
    (partitioned by query — never a global window)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _block_split(n_blocks: int) -> tuple[int, int]:
    """(n_q_blocks, n_c_blocks) for a ~n_blocks-tile grid.

    r13 optimization round (guide §2.3, shuffle fewer bytes): the old
    grid was n_blocks x n_blocks tiles, which replicates BOTH sides
    n_blocks times — shuffle bytes grow linearly in n_blocks.  A b_q x
    b_c grid replicates queries b_c times and candidates b_q times, so
    for the same tile COUNT (task parallelism) a square-root split
    shuffles ~2*sqrt(n_blocks)/(2*n_blocks) of the bytes: at the bench's
    n_blocks=32 tier that is 11N rows instead of 64N (5.8x fewer).
    Tiles get proportionally larger (tile memory is (N_q/b_q)x(N_c/b_c)
    scores) — n_blocks stays the knob that bounds per-task memory, it
    just buys ~n_blocks tasks instead of n_blocks^2."""
    b_q = max(1, int(np.sqrt(n_blocks)))
    b_c = max(1, -(-n_blocks // b_q))
    return b_q, b_c


def _blocked_sides(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str,
    n_blocks: int,
    q_carry: dict[str, str] | None = None,
    c_carry: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Block both sides for the block-nested-loop cogroup: each side is
    (id, v, carried columns, q_block, c_block).

    The grid is b_q x b_c tiles (see _block_split): a query in q-block i
    is replicated to every (i, j); a candidate in c-block j is
    replicated to every (i, j) — so group (i, j) holds exactly block-i
    queries x block-j candidates, and every (query, candidate) pair
    meets in exactly one group.  Blocks derive from xxhash64(id):
    deterministic under task retries (no monotonically_increasing_id).

    Both block columns are cast to int on BOTH sides: cogroup matches its
    grouping keys positionally and by type, and a (bigint, int) left key
    against an (int, bigint) right key hash-partitions the two sides
    differently — groups silently fail to meet (caught by the recall
    audit at sf0.1; an ordinary join would have inserted the casts).

    `q_carry`/`c_carry` ride extra columns along ({out_name: src_col}) —
    e.g. the label column hard-negative mining masks on.

    NULL-vector rows are dropped on both sides: a NULL payload cannot
    participate in similarity (np.vstack would reject it in the tile
    scorer), and the oracles filter identically."""
    queries = queries.filter(F.col(vec_col).isNotNull())
    candidates = candidates.filter(F.col(vec_col).isNotNull())
    b_q, b_c = _block_split(n_blocks)
    c_blocks = F.array(*[F.lit(b).cast("int") for b in range(b_c)])
    q_blocks = F.array(*[F.lit(b).cast("int") for b in range(b_q)])
    q = (
        queries.select(
            F.col(query_id).alias("id"),
            F.col(vec_col).alias("v"),
            *[F.col(src).alias(dst) for dst, src in (q_carry or {}).items()],
        )
        .withColumn("q_block", F.pmod(F.xxhash64("id"), F.lit(b_q)).cast("int"))
        .withColumn("c_block", F.explode(c_blocks))
    )
    c = (
        candidates.select(
            F.col(cand_id).alias("id"),
            F.col(vec_col).alias("v"),
            *[F.col(src).alias(dst) for dst, src in (c_carry or {}).items()],
        )
        .withColumn("c_block", F.pmod(F.xxhash64("id"), F.lit(b_c)).cast("int"))
        .withColumn("q_block", F.explode(q_blocks))
    )
    return q, c


def _tile_top_k(
    q: DataFrame,
    c: DataFrame,
    k: int,
    round_digits: int,
    mask=None,
) -> DataFrame:
    """Exact top-k over the blocked sides of `_blocked_sides`: every
    (q_block, c_block) tile meets in one cogrouped applyInPandas scored
    by `_frame_top_k` (with the optional tile `mask`), then the per-tile
    partial lists merge by rank window."""

    def tile(key, q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        return _frame_top_k(q_pdf, c_pdf, k, round_digits, mask)

    partial = (
        q.groupBy("q_block", "c_block")
        .cogroup(c.groupBy("q_block", "c_block"))
        .applyInPandas(tile, _TOPK_SCHEMA)
    )
    return _merge_tile_partials(partial, k)


def brute_force_top_k(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_blocks: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query row (self-matches on id
    equality excluded), as a distributed block-nested-loop: cogroup on
    (q_block, c_block) tiles, numpy matmul per tile, rank-window merge of
    the per-tile top-k lists.  No driver-side collect anywhere in the
    lineage; at huge N switch to ivf_top_k (same output contract)."""
    q, c = _blocked_sides(queries, candidates, query_id, cand_id, vec_col, n_blocks)
    return _tile_top_k(q, c, k, round_digits)


def hard_negative_top_k(
    data: DataFrame,
    k: int,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_blocks: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: each vector's top-k
    most-similar neighbors belonging to a DIFFERENT label — the pairs a
    retrieval/embedding model most needs as negatives.  Same distributed
    block-nested-loop shape as brute_force_top_k (every pair meets in
    exactly one cogrouped tile, rank-window merge of per-tile partials,
    no driver collect); the tile mask excludes same-id AND same-label
    candidates.  At huge N feed it LSH/IVF candidates instead — the
    contract matches the approximate tiers."""
    q, c = _blocked_sides(
        data,
        data,
        id_col,
        id_col,
        vec_col,
        n_blocks,
        q_carry={"qlab": label_col},
        c_carry={"clab": label_col},
    )

    def different_label(q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> np.ndarray:
        return c_pdf["clab"].to_numpy()[None, :] != q_pdf["qlab"].to_numpy()[:, None]

    return _tile_top_k(q, c, k, round_digits, mask=different_label)


def _kmeans_refine(
    vecs: DataFrame, cent_ids: np.ndarray, C: np.ndarray, iters: int
) -> np.ndarray:
    """Spherical k-means refinement of the centroid matrix, distributed:
    each iteration is one assignment pass (mapInPandas vs the broadcast
    centroids) + an element-wise mean via posexplode/groupBy — only
    n_centroids x dim scalars ever reach the driver.  Deterministic given
    the deterministic init."""
    spark = vecs.sparkSession
    dim = C.shape[1]
    for _ in range(iters):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        bc = spark.sparkContext.broadcast((cent_ids, Cn))

        def assign(batches):
            cids, Cn_ = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = _matrix(pdf["v"])
                Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
                best = np.argmax(Qn @ Cn_.T, axis=1)
                out = pdf[["v"]].copy()
                out["centroid_id"] = cids[best]
                yield out[["centroid_id", "v"]]

        assigned = vecs.mapInPandas(assign, "centroid_id long, v array<float>")
        means = (
            assigned.select("centroid_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new_C = C.copy()
        by_cid = {int(cid): i for i, cid in enumerate(cent_ids)}
        got = np.zeros((len(cent_ids), dim))
        seen = np.zeros(len(cent_ids), dtype=bool)
        for r in means:
            i = by_cid[int(r["centroid_id"])]
            got[i, int(r["pos"])] = r["m"]
            seen[i] = True
        new_C[seen] = got[seen]  # empty clusters keep their old centroid
        C = new_C
    return C


def kmeans_assign_step(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """One deterministic Lloyd assignment step, fully JVM-side and
    SQL-expressible: seeds = the k lowest-id vectors (k-means' init
    before any iteration), every vector assigned to its nearest seed by
    squared L2, reported as per-cluster (size, mean distance) — the
    frame a clustering-quality audit or an IVF sizing decision reads.
    The ITERATED trainer (mapInPandas assignment + distributed centroid
    means) is `_kmeans_refine`, exercised through ivf_top_k's
    kmeans_iters; this operator is its oracle-checkable first step.

    Plan: seeds are a k-row TakeOrderedAndProject broadcast; the
    k-fold expansion is a broadcast nested-loop join against a
    MODEL-sized side (k rows — same bounded-broadcast category as the
    scalar-total joins); argmin is a window over the k candidate rows
    per vector (never doc-cardinality partitions); means ride an exact
    integer grid so accumulation order cannot flip the hash."""
    best = _kmeans_candidate_frame(emb, k, id_col, vec_col, round_digits).filter(
        F.col("__rn") == 1
    )
    scale = float(10**round_digits)
    grid = best.withColumn(
        "__mi", F.round(F.col("__dist") * F.lit(scale)).cast("long")
    )
    return grid.groupBy(F.col("__sid").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.round(
            F.sum("__mi").cast("double") / F.count("*") / F.lit(scale), round_digits
        ).alias("mean_dist"),
    )


def ivf_index_merge(
    old_vecs: DataFrame,
    new_vecs: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
    round_digits: int = 6,
) -> DataFrame:
    """Incremental IVF index maintenance (r6 verdict #7): merge a new
    vector batch into an existing inverted-file index WITHOUT retraining
    — assign each new vector to its nearest EXISTING centroid and report,
    per centroid, how far the bucket's mean direction moved.  The drift
    column is the retrain trigger a production index maintainer reads:
    cosine(Σ old members, Σ all members) stays 1.0 while new data lands
    where old data did, and decays as a bucket's population drifts off
    its trained centroid (means and sums have identical cosine, so no
    division by counts ever happens).

    Exactness: vectors quantize to integers (floor(x·quant + 0.5));
    assignment cosine is an exact bigint dot over sqrt norms with the
    zero-norm→0 convention and (cos DESC, centroid ASC) determinism;
    per-dimension member sums accumulate as DECIMAL(20,0) → the
    dot/norm products as DECIMAL(38,0) exact integers (the
    squared-cents HHI idiom — bigint would overflow at Σq ~ 3e10
    squared), so DuckDB's HUGEINT arithmetic reproduces every bit and
    only the final cosine touches floating point.

    Plan: centroids = k lowest-id OLD vectors (TakeOrderedAndProject,
    model-sized broadcast, the kmeans_assign_step contract); both
    assignment passes are broadcast NL joins against k rows with a
    vec-grain argmax window; the drift aggregation is (centroid, dim)-
    grain — payload vectors never shuffle, only integer partials.

    Output: (centroid_id, n_before, n_added, mean_shift_cos)."""
    old_q = _quantized_vecs(old_vecs, id_col, vec_col, quant)
    new_q = _quantized_vecs(new_vecs, id_col, vec_col, quant)
    # Ragged-dim contract (same as embedding_lsh_sha_pairs): dim = max
    # vector length across BOTH inputs, shorter vectors dropped on both
    # engines.  Without it, a short vector makes zip_with null-pad and
    # NULL the assignment cosine on Spark (falls to the lowest-sid
    # centroid) while DuckDB's list_sum skips NULL products and computes
    # a partial dot — divergent assignments, divergent report.
    dim_row = (
        old_q.select(F.size("__q").alias("__s"))
        .unionAll(new_q.select(F.size("__q").alias("__s")))
        .agg(F.max("__s"))
        .first()
    )
    dim = dim_row[0] if dim_row is not None else None
    if dim is not None:
        old_q = old_q.filter(F.size("__q") == dim)
        new_q = new_q.filter(F.size("__q") == dim)
    seeds = ivf_seed_centroids(old_q, k)
    members = _ivf_assign(old_q, seeds, 0).unionByName(_ivf_assign(new_q, seeds, 1))
    return _ivf_merge_report(members, round_digits)


def _quantized_vecs(
    vecs: DataFrame, id_col: str, vec_col: str, quant: int
) -> DataFrame:
    """(__id, __q): NULL-vector rows dropped, values quantized to exact
    integers floor(x*quant + 0.5) — the shared entry normalization of
    the incremental-IVF family."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(quant)) + F.lit(0.5)).cast(
            "long"
        ),
    )
    return vecs.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"), q.alias("__q")
    )


def ivf_seed_centroids(qvecs: DataFrame, k: int) -> DataFrame:
    """(__sid, __sq): the k lowest-id quantized vectors as centroids —
    deterministic (TakeOrderedAndProject), model-sized, the
    kmeans_assign_step init contract."""
    return (
        qvecs.orderBy("__id")
        .limit(k)
        .select(F.col("__id").alias("__sid"), F.col("__q").alias("__sq"))
    )


def _int_dot(a, b):
    """Exact BIGINT dot product of two integer array columns (a JVM
    fold, so both engines sum the same integers)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _ivf_assign(qvecs: DataFrame, seeds: DataFrame, is_new: int) -> DataFrame:
    """Nearest-existing-centroid assignment by exact quantized cosine:
    broadcast NL join against the model-sized seed frame, vec-grain
    argmax window, (cos DESC, centroid ASC) determinism, zero-norm → 0."""
    dot = _int_dot(F.col("__q"), F.col("__sq"))
    nrm = lambda c: F.sqrt(_int_dot(F.col(c), F.col(c)).cast("double"))
    den = nrm("__q") * nrm("__sq")
    cos = F.when(den == 0, F.lit(0.0)).otherwise(dot.cast("double") / den)
    d = qvecs.crossJoin(F.broadcast(seeds)).withColumn("__cos", cos)
    w = Window.partitionBy("__id").orderBy(F.desc_nulls_last("__cos"), F.asc("__sid"))
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__sid", "__id", "__q", F.lit(is_new).alias("__new"))
    )


def _ivf_merge_report(members: DataFrame, round_digits: int = 6) -> DataFrame:
    """Per-centroid merge report from an assignment frame (__sid, __id,
    __q, __new): before/added counts + mean-shift cosine on exact
    decimal(38,0) integer sums.  Shared by the batch operator and the
    streaming maintenance read (parity-pinned)."""
    counts = members.groupBy("__sid").agg(
        F.sum(F.when(F.col("__new") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_before"),
        F.sum(F.when(F.col("__new") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_added"),
    )
    dims = members.select(
        "__sid", "__new", F.posexplode("__q").alias("__d", "__qx")
    )
    per_dim = dims.groupBy("__sid", "__d").agg(
        F.sum(
            F.when(F.col("__new") == 0, F.col("__qx")).otherwise(F.lit(0)).cast(
                "decimal(20,0)"
            )
        ).alias("__so"),
        F.sum(F.col("__qx").cast("decimal(20,0)")).alias("__sa"),
    )
    shift = per_dim.groupBy("__sid").agg(
        F.sum(F.col("__so") * F.col("__sa")).alias("__dot"),
        F.sum(F.col("__so") * F.col("__so")).alias("__n1"),
        F.sum(F.col("__sa") * F.col("__sa")).alias("__n2"),
    )
    den2 = F.sqrt(F.col("__n1").cast("double")) * F.sqrt(F.col("__n2").cast("double"))
    return (
        counts.join(shift, "__sid")
        .select(
            F.col("__sid").alias("centroid_id"),
            "n_before",
            "n_added",
            F.round(
                F.when(den2 == 0, F.lit(0.0)).otherwise(
                    F.col("__dot").cast("double") / den2
                ),
                round_digits,
            ).alias("mean_shift_cos"),
        )
    )


def embedding_int8_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Per-dimension int8 scalar-quantization audit: global (min, max)
    per dimension, then the absolute reconstruction error of round-trip
    quantize/dequantize at 256 levels — the decision frame for storing
    embeddings at 1 byte/dim (4x smaller than float32, 32x smaller than
    the float64 compute form; the IVF-PQ module is the 16 B/vector
    extreme of the same tradeoff).

    Plan: posexplode to (pos, x) — the only corpus-sized pass — one
    dim-sized groupBy for (min, max), broadcast back, and one dim-sized
    final groupBy.  Errors snap to an integer micro grid before the
    mean so accumulation order cannot flip the hash; quantization
    rounds via floor(z + 0.5), the engine-neutral half-up."""
    ex = emb.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    stats = ex.groupBy("pos").agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
    j = ex.join(F.broadcast(stats), "pos")
    span = F.col("vmax") - F.col("vmin")
    q = F.when(span == 0, F.lit(0.0)).otherwise(
        F.floor((F.col("x") - F.col("vmin")) / span * F.lit(255.0) + F.lit(0.5)).cast(
            "double"
        )
    )
    deq = F.col("vmin") + q * span / F.lit(255.0)
    scale = float(10**round_digits)
    errg = F.floor(F.abs(F.col("x") - deq) * F.lit(scale) + F.lit(0.5)).cast("long")
    return (
        j.withColumn("__e", errg)
        .groupBy("pos")
        .agg(
            F.round(F.min("vmin"), round_digits).alias("vmin"),
            F.round(F.min("vmax"), round_digits).alias("vmax"),
            F.round(
                F.sum("__e").cast("double") / F.count("*") / F.lit(scale),
                round_digits,
            ).alias("mean_abs_err"),
            (F.max("__e") / F.lit(scale)).alias("max_abs_err"),
        )
    )


def default_n_centroids(n_rows: int, cap: int = 4096) -> int:
    """Standard IVF sizing: ~sqrt(N) lists (bucket size ~ sqrt(N) too, so
    probe cost and list count balance), clamped to [4, cap]."""
    return max(4, min(cap, int(np.sqrt(max(n_rows, 1)))))


def _centroid_sample(
    data: DataFrame, n_centroids: int, seed_mod: int, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic coarse-centroid sample: (id % seed_mod == 0, lowest
    ids) — reproducible without RNG.  Bounded: n_centroids rows — a
    broadcast dim, not a data collect.  (id % seed_mod == 0) assumes
    dense contiguous ids; sparse/hashed id spaces can yield far fewer
    centroids and silently wreck bucket balance, so a short sample falls
    back to a hash-order sample (TakeOrdered over sha2(id) — no RNG,
    id-distribution-free)."""
    cent_pd = (
        data.filter((F.col(id_col) % seed_mod) == 0)
        .orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("v"))
        .toPandas()
    )
    if len(cent_pd) < n_centroids:
        cent_pd = (
            data.orderBy(F.sha2(F.col(id_col).cast("string"), 256).asc(), F.col(id_col).asc())
            .limit(n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("v"))
            .toPandas()
        )
    if len(cent_pd) == 0:
        # empty input (e.g. a fully-filtered micro-batch): no index to
        # build — callers return an empty result frame, matching the
        # exact tiers' behavior instead of np.vstack blowing up
        return cent_pd["cid"].to_numpy(), np.empty((0, 0))
    return cent_pd["cid"].to_numpy(), _matrix(cent_pd["v"])


def _ivf_index_setup(
    candidates: DataFrame,
    n_centroids: int | None,
    seed_mod: int | None,
    kmeans_iters: int,
    id_col: str,
    vec_col: str,
):
    """Shared IVF index construction (self and cross-corpus forms):
    auto-size (n_centroids, seed_mod) from one count() when unset, take
    the deterministic centroid sample, optionally refine with spherical
    k-means.  Returns (cent_ids, C) — empty cent_ids means empty input.
    NULL-vector rows are excluded (they can neither seed nor refine a
    centroid)."""
    if n_centroids is not None and n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1, got {n_centroids}")
    candidates = candidates.filter(F.col(vec_col).isNotNull())
    if n_centroids is None or seed_mod is None:
        n_rows = candidates.count()
        if n_centroids is None:
            n_centroids = default_n_centroids(n_rows)
        if seed_mod is None:
            seed_mod = max(1, n_rows // n_centroids)
    cent_ids, C = _centroid_sample(candidates, n_centroids, seed_mod, id_col, vec_col)
    if len(cent_ids) and kmeans_iters:
        C = _kmeans_refine(
            candidates.select(F.col(vec_col).alias("v")), cent_ids, C, kmeans_iters
        )
    return cent_ids, C


_ASSIGN_SCHEMA = "id long, v array<double>, probes array<bigint>"


def _assign_probes(
    data: DataFrame,
    cent_ids: np.ndarray,
    C: np.ndarray,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, v, probes): ONE mapInPandas matmul of every non-NULL vector
    against the broadcast centroids, ranking its nprobe nearest centroid
    ids — probes[0] is the row's own bucket (lowest cid on score ties).
    One row per vector: nprobe replication happens later (JVM
    posexplode in `_explode_probes`), so each vector crosses Arrow once
    instead of nprobe times."""
    bc = data.sparkSession.sparkContext.broadcast((cent_ids, C))

    def assign(batches):
        cids, C_ = bc.value
        # pre-sort centroid columns by ascending cid so one stable
        # argsort of -S breaks score ties by lowest cid — the exact
        # order the old per-row lexsort((cids, -S[r])) produced, without
        # the per-row python loop (r13 optimization round, guide §4.2)
        perm = np.argsort(cids, kind="stable")
        cids_s = cids[perm]
        Cn = _unit_rows(C_)[perm]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Qn = _unit_rows(_matrix(pdf["v"]))  # zero rows stay zero, no NaN probes
            S = Qn @ Cn.T
            idx = np.argsort(-S, axis=1, kind="stable")[:, :nprobe]
            probes = cids_s[idx].astype(np.int64).tolist()
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "v": pdf["v"].to_numpy(), "probes": probes}
            )

    vecs = data.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    return vecs.mapInPandas(assign, _ASSIGN_SCHEMA)


def ivf_assignments(
    data: DataFrame,
    n_centroids: int | None = None,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int | None = None,
    kmeans_iters: int = 0,
) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """The shared IVF probe-assignment pass: centroid sample + ONE
    mapInPandas matmul ranking every vector's nprobe nearest centroids
    (`_assign_probes`).  Returns (cent_ids, C, assigned) where assigned
    is (id, v, probes) — probes[0] is the row's own bucket (the lexsort
    winner, lowest cid on ties), probes[1:] the remaining probe targets
    in rank order.

    This is the frame ivf_top_k and ivf_pq_top_k both consume via their
    `shared=` parameter: the two variants of a serving tier previously
    recomputed identical centroid samples and assignment matmuls
    (bench's _hd pair spent ~19% of the whole run on the duplication).
    Callers that reuse it across variants should materialize it once
    (localCheckpoint) so the matmul pass runs once, not per variant."""
    cent_ids, C = _ivf_index_setup(
        data, n_centroids, seed_mod, kmeans_iters, id_col, vec_col
    )
    if len(cent_ids) == 0:
        return cent_ids, C, local_frame(data.sparkSession, [], _ASSIGN_SCHEMA)
    return cent_ids, C, _assign_probes(data, cent_ids, C, nprobe, id_col, vec_col)


def _explode_probes(
    assigned: DataFrame, nprobe: int, *extra_cols: str, required: int | None = None
) -> DataFrame:
    """(id, v, probes[, extra]) -> (id, v[, extra], centroid_id, c_rank):
    the bucket-replicated layout both IVF scorers group on.  Slicing
    before the explode lets one shared assignment frame (computed at the
    tier's max nprobe) serve smaller probe budgets.

    `required` enforces the shared-frame contract at execution time: a
    frame built with a SMALLER nprobe than this call's would silently
    yield fewer probe targets and degrade recall with no error (round-9
    advice).  Callers pass min(nprobe, n_centroids) — the probe list is
    legitimately short when the index has fewer centroids than nprobe.
    The guard is a JVM expression (raise_error), zero extra jobs."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    probes = F.col("probes")
    if required is not None:
        probes = F.when(F.size(probes) >= required, probes).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "shared IVF assignment frame holds only "
                    ),
                    F.size(F.col("probes")).cast("string"),
                    F.lit(
                        f" probe targets but nprobe={nprobe} needs {required}: "
                        "rebuild ivf_assignments with nprobe >= the largest "
                        "consumer's"
                    ),
                )
            )
        )
    return assigned.select(
        "id",
        "v",
        *extra_cols,
        F.posexplode(F.slice(probes, 1, nprobe)).alias("pos", "centroid_id"),
    ).select(
        "id",
        "v",
        *extra_cols,
        "centroid_id",
        (F.col("pos") + 1).cast("int").alias("c_rank"),
    )


def ivf_top_k(
    data: DataFrame,
    k: int,
    n_centroids: int | None = None,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int | None = None,
    round_digits: int = 6,
    kmeans_iters: int = 0,
    shared: tuple[np.ndarray, np.ndarray, DataFrame] | None = None,
    score_dtype: str = "float64",
) -> DataFrame:
    """IVF-flat approximate self-top-k.

    `score_dtype="float32"` (r14 optimization round, guide §4.2) runs
    the bucket score matmul in SGEMM — 2x ALU throughput, half the
    memory traffic — with survivors re-rounded in float64.  Opt-in for
    recall-gated serving tiers (the bench 16x/hd fixtures measure its
    recall every round); declared/oracle-checked queries keep the
    float64 default.

    Centroids: deterministic sample (id % seed_mod == 0, lowest ids) —
    reproducible without RNG — optionally refined by `kmeans_iters`
    rounds of distributed spherical k-means (tighter buckets → higher
    recall at the same nprobe).  `n_centroids=None` auto-sizes to
    ~sqrt(N) (one count() job), so bucket sizes stay ~sqrt(N) as the
    input grows instead of degrading toward brute force; `seed_mod=None`
    adapts to ~N/n_centroids so the sample actually yields n_centroids
    rows (a fixed modulus caps the centroid count at N/mod).  Assignment
    + probe list come from ONE mapInPandas pass against the broadcast
    centroid matrix, carrying the vector so no re-join is needed;
    bucket-local exact scoring is a single groupBy(centroid_id).
    applyInPandas (each row probes its bucket, the rank==1 rows are the
    bucket's candidates); a final rank window merges the nprobe buckets
    per query.

    Recall is data-dependent: on well-clustered corpora (the real-world
    embedding case) a small nprobe/n_centroids ratio suffices; on
    near-uniform vectors (the synthetic test tables — the hard case for
    any IVF) neighbors spread across buckets and high recall needs a
    high probe ratio.  bench.py tracks ivf_recall_at_5 against the exact
    tier every round rather than asserting it.

    `shared` takes a precomputed `ivf_assignments()` result — the probe
    assignment is identical across the flat and PQ variants of a tier,
    so serving both from one materialized frame halves the dominant
    matmul pass (the frame must have been built with nprobe >= this
    call's nprobe; `_explode_probes` slices down)."""
    spark = data.sparkSession
    if shared is None:
        shared = ivf_assignments(
            data, n_centroids, nprobe, id_col, vec_col, seed_mod, kmeans_iters
        )
    cent_ids, C, assigned = shared
    if len(cent_ids) == 0:
        return local_frame(spark, [], _TOPK_SCHEMA)
    ranked = _explode_probes(
        assigned, nprobe, required=min(nprobe, len(cent_ids))
    )
    dt = np.float32 if score_dtype == "float32" else np.float64

    def bucket_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # every ranked row IS a probe of its bucket, and the c_rank==1
        # subset IS the bucket's candidate list — one grouped pass replaces
        # the old probe/candidate cogroup (which recomputed the assignment
        # mapInPandas once per side and shuffled twice)
        return _frame_top_k(pdf, pdf[pdf["c_rank"] == 1], k, round_digits, dtype=dt)

    bucket_results = ranked.groupBy("centroid_id").applyInPandas(bucket_topk, _TOPK_SCHEMA)
    return _merge_tile_partials(bucket_results, k)


def _pq_assign(Xj: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """Nearest-codeword assignment per row: argmin_c |x - cb_c|^2 ==
    argmin_c (|cb_c|^2 - 2 x.cb_c) — one BLAS matmul instead of an
    (n x n_codes x sub) broadcast temporary (the temp moved ~80 MB per
    10k-row Arrow batch per subspace through memory)."""
    return np.argmin(
        np.sum(cb * cb, axis=1)[None, :] - 2.0 * (Xj @ cb.T), axis=1
    )


def _train_pq_codebooks(
    data: DataFrame,
    cent_ids: np.ndarray,
    C: np.ndarray,
    m_subspaces: int,
    n_codes: int,
    id_col: str,
    vec_col: str,
    train_rows: int,
    lloyd_iters: int,
) -> np.ndarray:
    """Train product-quantization codebooks on coarse-quantizer RESIDUALS
    over a deterministic bounded sample (sha2-order, `train_rows` rows —
    model training on a sample, the standard PQ practice; the sample is
    a bounded collect like the centroid sample, not a data collect).

    Residuals, not raw vectors: inside a tight cluster every member sits
    close to the shared centroid, so quantizing absolute positions gives
    all members near-identical codes and ADC cannot rank within a bucket
    (recall@5 dropped 0.99 → 0.70 between sf0.01 and sf0.1 exactly this
    way).  r = v_norm - c_norm spreads within-cluster differences across
    the code space — the canonical IVF-PQ/ADC design (Jégou et al.).
    Ranking stays correct because <q, v> = <q, c_bucket> + <q, r> and
    the first term is constant within a bucket.

    Vectors are unit-normalized first so inner products decompose
    additively across subspaces; each subspace runs Lloyd's k-means with
    deterministic init (first `n_codes` sample residuals in sha order).
    Returns (m_subspaces, n_codes, sub_dim) float64."""
    sample = (
        data.orderBy(F.sha2(F.col(id_col).cast("string"), 256).asc(), F.col(id_col).asc())
        .limit(train_rows)
        .select(F.col(vec_col).alias("v"))
        .toPandas()
    )
    X = _unit_rows(_matrix(sample["v"]))
    dim = X.shape[1]
    if dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    Cn = _unit_rows(C)
    # residual vs nearest centroid — SAME winner as encode_and_rank's
    # lexsort (lowest cid on exact score ties): training residuals must
    # come from the centroid the encode pass will subtract, or tied
    # samples mistrain the codebooks (argmax breaks ties by index, which
    # diverges when the sha-fallback sample makes index order != cid order)
    S = X @ Cn.T
    # vectorized lowest-cid-on-ties top-1: reorder columns by ascending
    # cent_id, then argmax's first-occurrence rule IS the lexsort
    # tie-break (verified element-identical to the per-row lexsort loop)
    cid_order = np.argsort(cent_ids, kind="stable")
    top1 = cid_order[np.argmax(S[:, cid_order], axis=1)]
    X = X - Cn[top1]
    sub = dim // m_subspaces
    books = np.empty((m_subspaces, n_codes, sub))
    for j in range(m_subspaces):
        Xj = X[:, j * sub : (j + 1) * sub]
        cb = Xj[: min(n_codes, len(Xj))].copy()
        if len(cb) < n_codes:  # degenerate tiny input: tile the sample
            reps = int(np.ceil(n_codes / max(len(cb), 1)))
            cb = np.tile(cb, (reps, 1))[:n_codes]
        for _ in range(lloyd_iters):
            assign = _pq_assign(Xj, cb)
            # centroid update via per-dim bincount instead of a
            # n_codes-iteration Python loop of masked means (r13
            # optimization round).  BIT-IDENTICAL: bincount's weighted
            # accumulation and np.mean(axis=0) over a C-order 2-D slice
            # both sum rows sequentially in index order (numpy's pairwise
            # summation only engages along the contiguous axis), so
            # sums/count == mean to the last ulp — verified
            # np.array_equal against the loop form on the live fixture.
            counts = np.bincount(assign, minlength=n_codes)
            sums = np.stack(
                [
                    np.bincount(assign, weights=Xj[:, d], minlength=n_codes)
                    for d in range(sub)
                ],
                axis=1,
            )
            nz = counts > 0
            cb[nz] = sums[nz] / counts[nz, None]
        books[j] = cb
    return books


def pq_encoded_frame(
    data: DataFrame,
    shared: tuple[np.ndarray, np.ndarray, DataFrame],
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 2048,
    lloyd_iters: int = 5,
) -> tuple[np.ndarray, DataFrame]:
    """(codebooks, encoded frame) for ivf_pq_top_k's `shared_pq`: train
    the per-subspace PQ codebooks and residual-encode every assigned
    vector ONCE, so a session running the ADC scan repeatedly over one
    corpus (bench's min-of-N, a serving tier answering query batches)
    pays training + encoding once instead of per scan.  localCheckpoint
    the returned frame at the call site.  `shared` is the
    ivf_assignments triple the scan will also consume; results are
    identical to the unshared path (tests/test_shared_quant_builds.py).

    encode: (id, v, probes) -> (id, v, codes, probes): codes quantize
    the RESIDUAL against the row's own bucket centroid — probes[0], the
    lexsort winner (lowest cid on ties), which decides BOTH the rank-1
    candidate bucket and the residual origin (argmax would diverge from
    the bucket assignment when the sha-fallback centroid sample is
    active and two centroids tie exactly).  Encoding happens BEFORE the
    nprobe replication (JVM posexplode downstream), so each vector is
    coded exactly once."""
    spark = data.sparkSession
    data = data.filter(F.col(vec_col).isNotNull())
    cent_ids, C, assigned = shared
    books = _train_pq_codebooks(
        data, cent_ids, C, m_subspaces, n_codes, id_col, vec_col, train_rows, lloyd_iters
    )
    bc = spark.sparkContext.broadcast((cent_ids, C, books))

    def encode(batches):
        cids, C_, books_ = bc.value
        m, _, sub = books_.shape
        Cn = _unit_rows(C_)
        cid_to_row = {int(c): i for i, c in enumerate(cids)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Qn = _unit_rows(_matrix(pdf["v"]))
            top1 = np.array([cid_to_row[int(p[0])] for p in pdf["probes"]])
            R = Qn - Cn[top1]
            codes = np.empty((len(Qn), m), dtype=np.int32)
            for j in range(m):
                codes[:, j] = _pq_assign(R[:, j * sub : (j + 1) * sub], books_[j])
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "v": pdf["v"].to_numpy(),
                    "codes": list(codes.tolist()),
                    "probes": pdf["probes"].to_numpy(),
                }
            )

    encoded = assigned.mapInPandas(
        encode, "id long, v array<double>, codes array<int>, probes array<bigint>"
    )
    return books, encoded


def ivf_pq_top_k(
    data: DataFrame,
    k: int,
    n_centroids: int | None = None,
    nprobe: int = 4,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int | None = None,
    round_digits: int = 6,
    oversample: int = 4,
    train_rows: int = 2048,
    lloyd_iters: int = 5,
    shared: tuple[np.ndarray, np.ndarray, DataFrame] | None = None,
    shared_pq: tuple[np.ndarray, DataFrame] | None = None,
    score_dtype: str = "float64",
) -> DataFrame:
    """IVF-PQ approximate self-top-k: the coarse inverted file of
    ivf_top_k plus product-quantization candidate scoring inside each
    bucket.

    Every vector is unit-normalized and encoded as m_subspaces uint8
    codes against per-subspace k-means codebooks (trained on a bounded
    deterministic sample).  Bucket scoring is asymmetric-distance
    computation: each query builds an (m x n_codes) lookup table of
    subvector dot products (one small matmul), candidate scores are m
    table lookups summed — O(m) per pair instead of O(dim) — and only
    the ADC top-(oversample*k) candidates get an exact cosine re-rank.

    Why this is the 100 TB shape: the index stores m bytes per vector
    (16 B at m=16) instead of 4*dim (3 KB at dim=768) — memory-resident
    at scales where raw vectors aren't — and bucket scan cost drops by
    dim/m.  In THIS implementation the single encode pass still carries
    the raw vector alongside the codes (same one-shuffle trade as
    ivf_top_k: each row is a probe of its bucket, and probes need the
    query vector for the LUT; re-rank then reads candidate vectors
    already present in the group).  A storage-tiered deployment would
    split probe and candidate streams so candidates ship codes only and
    re-rank joins the short candidate list back to the vector store.

    Output contract matches brute_force_top_k / ivf_top_k:
    (query_id, neighbor_id, cosine_sim, rank) with exact re-ranked
    cosine — so recall is directly measurable against the exact tier
    (bench records it every round).

    Degenerate zero vectors: this tier unit-normalizes with a zero-norm
    guard (`_unit_rows`), so a zero vector scores cosine 0 everywhere,
    while the exact tiers (brute_force_top_k, _topk_block) divide by the
    raw norm and yield NaN for the same rows.  The guard is load-bearing
    (one NaN row poisons k-means codebooks globally — see _unit_rows);
    recall accounting is simply not meaningful for zero-vector queries.

    `shared_pq` optionally supplies pq_encoded_frame's (codebooks,
    encoded) pair so repeated scans skip training + encoding; the
    m_subspaces/n_codes/train_rows/lloyd_iters arguments are then
    ignored (they're baked into the shared build).

    `score_dtype="float32"` (r14 optimization round, guide §4.2) runs
    the ADC and exact-rerank matmuls in SGEMM; survivors re-round in
    float64.  Opt-in for recall-gated serving tiers only (see
    ivf_top_k)."""
    spark = data.sparkSession
    if n_codes > 256:
        raise ValueError(f"n_codes must be <= 256 (uint8 codes), got {n_codes}")
    # NULL vectors can neither train codebooks nor be encoded — dropped,
    # like every similarity entry point
    data = data.filter(F.col(vec_col).isNotNull())
    if shared is None:
        # kmeans_iters=0: PQ residual codebooks absorb within-bucket
        # structure, matching the pre-shared behavior of this tier
        shared = ivf_assignments(
            data, n_centroids, nprobe, id_col, vec_col, seed_mod, 0
        )
    cent_ids, C, assigned = shared
    if len(cent_ids) == 0:
        return local_frame(spark, [], _TOPK_SCHEMA)
    if shared_pq is None:
        books, encoded = pq_encoded_frame(
            data,
            shared,
            m_subspaces=m_subspaces,
            n_codes=n_codes,
            id_col=id_col,
            vec_col=vec_col,
            train_rows=train_rows,
            lloyd_iters=lloyd_iters,
        )
    else:
        books, encoded = shared_pq
    bc = spark.sparkContext.broadcast((cent_ids, C, books))
    ranked = _explode_probes(
        encoded, nprobe, "codes", required=min(nprobe, len(cent_ids))
    )
    dt = np.float32 if score_dtype == "float32" else np.float64

    def bucket_adc_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cids_, C_, books_ = bc.value
        m, _, sub = books_.shape
        cand_pdf = pdf[pdf["c_rank"] == 1]
        if len(pdf) == 0 or len(cand_pdf) == 0:
            return pd.DataFrame(_EMPTY_TOPK)
        cand_ids = cand_pdf["id"].to_numpy()
        n_cand = len(cand_ids)
        Cn = _unit_rows(_matrix(cand_pdf["v"]))
        qids = pdf["id"].to_numpy()
        Qn = _unit_rows(_matrix(pdf["v"]))
        if dt is not np.float64:
            Qn = Qn.astype(dt)
            Cn = Cn.astype(dt)
        pre = max(1, oversample * k)
        # bound the (chunk x n_cand float64) score intermediates to ~16 MB
        chunk = max(1, 2_000_000 // max(n_cand, 1))
        if pre >= n_cand:
            # The ADC shortlist cut keeps the first `pre` of the allowed
            # candidates — with pre >= bucket size that is EVERY allowed
            # candidate regardless of the ADC values, so the code
            # reconstruction + ADC matmul decide nothing: skip them and
            # score the bucket exactly (identical output, ~half the
            # flops, no per-row python loop — r13 optimization round,
            # guide §1.2/§4.2).  This is the live path whenever
            # oversample*k covers the bucket (both bench tiers).
            frames = []
            for lo in range(0, len(Qn), chunk):
                hi = min(lo + chunk, len(Qn))
                S = Qn[lo:hi] @ Cn.T  # raw; selector rounds survivors only
                allow = cand_ids[None, :] != qids[lo:hi, None]
                frames.append(
                    _topk_select(qids[lo:hi], cand_ids, S, allow, k, round_digits)
                )
            return pd.concat(frames, ignore_index=True)
        # ADC via RECONSTRUCTION: sum_j <q_j, cb_j[code_j]> is exactly
        # <q, concat_j cb_j[code_j]>, so decoding each candidate ONCE per
        # bucket (n_cand x dim, bounded by bucket size — the same bound as
        # the candidate vectors already in this group) turns the per-query
        # LUT gather into one BLAS matmul per chunk.  The gather
        # formulation moved chunk x n_cand x m doubles per chunk through
        # memory and was 2.7x slower than flat IVF's matmul at the 16x
        # bench tier; this one computes identical ADC values at matmul
        # speed.
        cand_codes = np.vstack(cand_pdf["codes"].to_numpy()).astype(np.int64)
        R_hat = books_[np.arange(m)[None, :], cand_codes].reshape(n_cand, m * sub)
        if dt is not np.float64:
            R_hat = R_hat.astype(dt)
        frames = []
        for lo in range(0, len(Qn), chunk):
            hi = min(lo + chunk, len(Qn))
            adc_chunk = Qn[lo:hi] @ R_hat.T
            # Vectorized ADC shortlist (r14 optimization round, guide
            # §4.2 — the _topk_select treatment applied to this path,
            # which still ran one python lexsort + fancy-index re-rank
            # PER QUERY ROW; with the clustered fixture's skewed buckets
            # this loop dominated the ivfpq tier at ~2x its flat-IVF
            # sibling).  Shortlist semantics pinned by _adc_shortlist
            # (identical to the per-row lexsort incl. boundary ADC ties).
            allow = cand_ids[None, :] != qids[lo:hi, None]
            mrows = hi - lo
            mask = _adc_shortlist(adc_chunk, allow, cand_ids, pre)
            # exact re-rank of the shortlist ONLY.  Two regimes, same
            # values either way (a dot of the same two float64 vectors):
            # when the bucket is within ~16x of the shortlist (every
            # bench tier), ONE more BLAS matmul per chunk — the same
            # 16 MB-bounded shape as the ADC matmul — fed straight into
            # _topk_select with the shortlist mask as its allow mask
            # (partition threshold + a tiny survivor lexsort), which
            # beats both the old per-row dgemv loop and any
            # gather-then-sort-all-survivors form.  For n_cand >> pre
            # (the true PQ operating point at 100 TB, where the whole
            # point is NOT scoring the full bucket exactly) fall back to
            # sliced gathered dot products bounded to ~16 MB, which stay
            # O(pre*dim) per query.
            if n_cand <= 16 * pre:
                frames.append(
                    _topk_select(
                        qids[lo:hi], cand_ids, Qn[lo:hi] @ Cn.T, mask, k,
                        round_digits,
                    )
                )
                continue
            rows, cols = np.nonzero(mask)
            if len(rows) == 0:
                continue
            sims = np.empty(len(rows))
            step = max(1, 2_000_000 // max(sub * m, 1))
            for s in range(0, len(rows), step):
                e = s + step
                sims[s:e] = np.einsum(
                    "ij,ij->i", Qn[lo + rows[s:e]], Cn[cols[s:e]]
                )
            sims = _round_half_away(sims, round_digits)
            frames.append(
                _rank_cut_survivors(
                    qids[lo:hi], rows, cand_ids[cols], sims, mrows, k
                )
            )
        if not frames:
            return pd.DataFrame(_EMPTY_TOPK)
        return pd.concat(frames, ignore_index=True)

    bucket_results = ranked.groupBy("centroid_id").applyInPandas(
        bucket_adc_topk, _TOPK_SCHEMA
    )
    return _merge_tile_partials(bucket_results, k)


def clustered_embeddings(
    e: DataFrame,
    mix: float = 0.75,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic CLUSTERED fixture derived from an embedding table:
    pull every vector toward its label's anchor (the embedding of the
    lowest-id member of that label), v' = mix·anchor + (1-mix)·v.  No
    normalization — cosine is scale-invariant.

    Why this exists: the synthetic test embeddings are near-uniform in
    cosine space (labels carry no cosine structure), which is the WORST
    case for any inverted-file index — real-world embedding corpora are
    strongly clustered, and that is the regime IVF's operating point
    should be demonstrated in.  This transform is pure JVM expression
    work (one broadcast join against ≤|labels| anchor rows + zip_with),
    deterministic, RNG-free, and expressible 1:1 in the DuckDB oracle,
    so the exact tier over the fixture stays hash-verified."""
    anchors = e.groupBy(label_col).agg(
        F.min_by(F.col(vec_col), F.col(id_col)).alias("__anchor")
    )
    mixed = F.zip_with(
        F.col(vec_col),
        F.col("__anchor"),
        lambda x, a: a.cast("double") * F.lit(float(mix))
        + x.cast("double") * F.lit(float(1.0 - mix)),
    )
    return (
        e.join(F.broadcast(anchors), label_col)
        .select(F.col(id_col), F.col(label_col), mixed.alias(vec_col))
    )


def embedding_simhash(
    data: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane SimHash signatures for dense vectors: bit i is
    sign(v . h_i) for n_bits fixed Gaussian hyperplanes (Charikar's
    cosine LSH — P[bits agree] = 1 - angle/pi).  The hyperplane matrix is
    seeded and broadcast; signatures come from one Arrow-batched matmul
    pass, so the output is a narrow (id, simhash) frame that feeds the
    SAME banded-prefix candidate join as text SimHash
    (dedup.simhash_near_dup_pairs)."""
    if not 0 < n_bits <= 64:
        # the signature is ONE int64 (bit 63 = sign bit); >64 bits would
        # overflow the weights construction inside the Arrow worker — fail
        # fast on the driver instead
        raise ValueError(f"n_bits must be in 1..64, got {n_bits}")
    spark = data.sparkSession
    rng = np.random.default_rng(seed)
    H = rng.standard_normal((n_bits, dim))
    bc = spark.sparkContext.broadcast(H)

    def sign_bits(batches):
        H_ = bc.value
        # bit 63 is the int64 sign bit — same convention as dedup._BIT_MASKS
        weights = np.array(
            [(1 << i) if i < 63 else -(1 << 63) for i in range(H_.shape[0])], dtype=np.int64
        )
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _matrix(pdf["v"])
            bits = (X @ H_.T) >= 0
            sig = (bits * weights).sum(axis=1).astype(np.int64)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "simhash": sig})

    vecs = data.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    return vecs.mapInPandas(sign_bits, "id long, simhash long").withColumnRenamed("id", id_col)


def embedding_near_dup_lsh(
    data: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    max_hamming: int = 12,
    bands: int = 16,
    seed: int = 42,
    round_digits: int = 4,
    require_complete: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup at 100 TB scale: SimHash signatures ->
    banded-prefix candidate join (sub-quadratic, only slice-equal
    signatures meet) -> exact cosine verify on the candidate pairs with
    JVM zip_with/aggregate math (candidates are few, so interpreted
    higher-order functions are fine here).  Same output contract as the
    exact embedding_near_dup_pairs; recall is tunable via
    (n_bits, bands, max_hamming) WITHIN the completeness constraint
    max_hamming < bands (pigeonhole: a pair may differ in every band
    otherwise and never meet).  To intentionally trade recall for a
    cheaper candidate join at larger hamming radii, pass
    require_complete=False — candidates stay exact-verified, just not
    exhaustive."""
    from wellmeet_data_pipeline_spark.operators.dedup import simhash_near_dup_pairs

    sig = embedding_simhash(data, dim, id_col, vec_col, n_bits, seed)
    cand = simhash_near_dup_pairs(
        sig,
        max_hamming=max_hamming,
        id_col=id_col,
        hash_col="simhash",
        bands=bands,
        require_complete=require_complete,
    ).select("id_a", "id_b")
    va = data.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = data.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    dot = F.aggregate(
        F.zip_with("__va", "__vb", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            # zero-norm cosine = 0 (ANSI-safe via conditional evaluation);
            # NULL vectors propagate NULL, matching the oracle CASE guard
            "cosine_sim",
            F.round(
                F.when(
                    norm(F.col("__va")) * norm(F.col("__vb")) == 0, F.lit(0.0)
                ).otherwise(
                    dot / (norm(F.col("__va")) * norm(F.col("__vb")))
                ),
                round_digits,
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def sha_hyperplane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """±1 Rademacher hyperplanes derived from sha256: sign(p, d) is +1
    when the first hex nibble of sha256("p|d") is even, else -1.  Pure
    function of (plane, dim) — no RNG object, no seed state — so the
    DuckDB oracle re-derives the identical planes from its own sha256
    and the whole LSH pipeline becomes hash-verifiable.  Rademacher
    planes are a standard substitute for Gaussian ones in cosine LSH
    (Achlioptas 2003 sparse/signed random projections): the collision
    probability keeps the 1 - angle/pi character."""
    import hashlib

    return [
        [
            1
            if int(hashlib.sha256(f"{p}|{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def embedding_lsh_sha_pairs(
    data: DataFrame,
    n_planes: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
    quant: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Oracle-checkable embedding-cosine LSH twin: quantize each vector
    to integers (q_d = floor(x_d * quant + 0.5), exact on both engines),
    take 16 sha-derived ±1 hyperplane signatures as EXACT integer dot
    signs, band the 16-bit signature (4 bands x 4 bits; pigeonhole-
    complete for hamming < 4), self-join on (band, slice), and verify
    candidates with the exact quantized cosine.

    Every stage is integer arithmetic up to the single final division,
    so DuckDB reproduces the signature, the candidate set, and the
    verified cosine bit-for-bit — this is the hash-verified evidence row
    for the embedding-LSH family (embedding_near_dup_lsh keeps Gaussian
    hyperplanes + Arrow matmul as the scale default).

    Plan shape: signatures are pure whole-stage-codegen expressions
    (zip_with/aggregate over literal sign arrays — no Python, no
    shuffle); the only shuffles are the (band, slice) candidate join and
    the two bounded joins that fetch candidate vectors for the verify.

    Scale note: 16 planes / 4-bit slices = 16 buckets per band, so the
    candidate join costs ~N^2/16 per band — chosen to keep the ORACLE
    tractable and the evidence rows non-empty on near-uniform test
    embeddings.  A production corpus raises n_planes (e.g. 64 planes,
    8-16-bit slices — same formula, same oracle shape) or uses the
    Gaussian 64-bit form (embedding_near_dup_lsh); size the banding with
    lsh_cost_estimate's Σ c·(c-1)/2 pre-flight before paying for the
    join."""
    from wellmeet_data_pipeline_spark.operators.dedup import simhash_near_dup_pairs

    # NOTE (r13): fanout_small_scan on data was added when the signature
    # stage looked compute-bound, then REJECTED after the sign-matrix
    # literal fix below exposed that the cost had been driver-side
    # planning, not executor compute — A/B min-of-3 same session:
    # identity 1.87-1.97s vs fanned 2.37-3.02s for the full query.
    data = data.filter(F.col(vec_col).isNotNull())
    # bounded model read: one scalar agg to learn the dimensionality (the
    # sign literals need it).  ORACLE CONTRACT: dim = max vector length,
    # and shorter vectors are DROPPED on both engines.  Deriving dim from
    # an arbitrary first row would let a short vector make zip_with
    # null-pad and NULL the aggregate dot (sign bit cleared for every
    # plane) while DuckDB's sum() skips NULLs — signatures would silently
    # diverge across engines.  The oracle filters len(embedding) = max
    # identically, so the contract is explicit and hash-stable.
    dim_row = data.agg(F.max(F.size(vec_col))).first()
    dim = dim_row[0] if dim_row is not None else None
    if dim is None:
        spark = data.sparkSession
        return local_frame(
            spark, [], f"id_a long, id_b long, hamming integer, cosine_sim double"
        )
    data = data.filter(F.size(F.col(vec_col)) == dim)
    signs = sha_hyperplane_signs(n_planes, dim)

    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(quant)) + F.lit(0.5)).cast(
            "long"
        ),
    )
    qd = data.select(F.col(id_col), q.alias("__q"))
    # One nested-array Literal for the whole sign matrix + one transform,
    # instead of n_planes separate aggregate(zip_with(CreateArray(dim
    # literals))) expressions: the per-plane form put ~n_planes*dim
    # Literal NODES in the tree and cost ~2.8s of pure driver-side
    # Catalyst optimization per invocation (measured: 10-row execution
    # and plan-only both ~2.8s; guide §7.3 "very large plans").  Values
    # are bit-identical: same zip order, same per-plane summation order,
    # same integer arithmetic (probed old==new over the full corpus).
    sign_matrix = F.lit([[int(v) for v in row] for row in signs])
    dots_arr = F.transform(
        sign_matrix,
        lambda row: F.aggregate(
            F.zip_with(F.col("__q"), row, lambda a, b: a * b.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    with_dots = qd.select(id_col, "__q", dots_arr.alias("__dots"))
    sig = F.aggregate(
        F.zip_with(
            F.col("__dots"),
            F.lit([1 << p for p in range(n_planes)]).cast("array<long>"),
            lambda d, p: F.when(d >= 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # pin the signature frame: it feeds three join branches (both sides of
    # the candidate join + the verify fetch), and recomputing 16 aggregate
    # dots per branch would re-scan the source 4x (same localCheckpoint
    # pattern as phash_assets).  Eager: with a lazy checkpoint the three
    # branches race to materialize it inside one job and can compute the
    # subtree concurrently before the cache lands (measured on the
    # simhash twin: lazy 3.02s vs eager 2.47s min-of-3)
    sigs = with_dots.select(id_col, "__q", sig.alias("simhash")).localCheckpoint(
        eager=True
    )

    cand = simhash_near_dup_pairs(
        sigs.select(id_col, "simhash"),
        max_hamming=max_hamming,
        id_col=id_col,
        hash_col="simhash",
        bands=bands,
        n_bits=n_planes,
    )
    # the squared norm depends only on the DOC, so fold it once per doc
    # here (2 extra longs on the 2-row-per-doc fetch frames) instead of
    # once per candidate PAIR side in the verify projection — HOF folds
    # run interpreted, and the pair set is ~14x the doc count at the
    # bench tier.  Same long -> same sqrt(double): bit-identical output.
    nrm2 = _int_dot(F.col("__q"), F.col("__q"))
    qa = sigs.select(
        F.col(id_col).alias("id_a"), F.col("__q").alias("__qa"), nrm2.alias("__na2")
    )
    qb = sigs.select(
        F.col(id_col).alias("id_b"), F.col("__q").alias("__qb"), nrm2.alias("__nb2")
    )
    dot_ab = _int_dot(F.col("__qa"), F.col("__qb"))
    den = F.sqrt(F.col("__na2").cast("double")) * F.sqrt(F.col("__nb2").cast("double"))
    return (
        cand.join(qa, "id_a")
        .join(qb, "id_b")
        .select(
            "id_a",
            "id_b",
            "hamming",
            F.round(
                F.when(den == 0, F.lit(0.0)).otherwise(dot_ab.cast("double") / den),
                round_digits,
            ).alias("cosine_sim"),
        )
    )


def embedding_near_dup_pairs(
    data: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    id_type: str = "long",
    n_blocks: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b) with rounded
    cosine >= threshold.  Same distributed block-nested-loop as
    brute_force_top_k — every (a, b) pair meets in exactly one
    (q_block, c_block) tile and is emitted only under the a < b filter,
    so each unordered pair appears exactly once.  No driver collect; at
    huge N prefer LSH/IVF candidates + this as the verify stage."""

    q, c = _blocked_sides(data, data, id_col, id_col, vec_col, n_blocks)
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine_sim double"

    def tile_pairs(key, q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(q_pdf) == 0 or len(c_pdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        Q = _matrix(q_pdf["v"])
        C = _matrix(c_pdf["v"])
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        S = _round_half_away(Qn @ Cn.T, round_digits)
        qids = q_pdf["id"].to_numpy()
        cids = c_pdf["id"].to_numpy()
        # vectorized pair emit (r13 optimization round): one boolean
        # matrix + nonzero replaces the per-query-row python loop;
        # identical pair set (same mask, applied all at once)
        sel = (cids[None, :] > qids[:, None]) & (S >= threshold)
        rows, cols = np.nonzero(sel)
        return pd.DataFrame(
            {
                "id_a": qids[rows],
                "id_b": cids[cols],
                "cosine_sim": S[rows, cols],
            }
        )

    return (
        q.groupBy("q_block", "c_block")
        .cogroup(c.groupBy("q_block", "c_block"))
        .applyInPandas(tile_pairs, out_schema)
    )


def semantic_dedup(
    data: DataFrame,
    threshold: float,
    n_centroids: int | None = 16,
    seed_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    max_block: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedding corpus — coarse-cluster the vectors,
    connect within-cluster pairs whose cosine >= threshold, and keep ONE
    representative per duplicate group: the member LEAST similar to its
    cluster centroid (the paper's diversity-preserving rule; ties break
    to the lowest id).

    Output: one row per input vector —
    (vec_id, cluster_id, centroid_sim, kept boolean).

    Distributed shape (the reason SemDeDup scales where all-pairs
    cosine cannot): the quadratic term is confined WITHIN clusters, so
    per-task work is bounded by (N/n_centroids)^2 and the knob that
    holds it flat at 100 TB is n_centroids ~ sqrt(N) (same sizing rule
    as the IVF index; `default_n_centroids`).  Stages:
      1. deterministic centroid sample (`_ivf_index_setup`, no k-means
         — bounded model collect, n_centroids rows, no RNG);
         `n_centroids=None` sizes to ~sqrt(N) from one count(), which
         keeps the within-cluster quadratic term at ~N total pairwise
         work as the corpus grows;
      2. ONE mapInPandas pass assigns every vector to its argmax-cosine
         centroid (sims rounded to `round_digits` BEFORE the argmax with
         a centroid-id tie-break, so the oracle's sequential-sum dots
         and numpy's pairwise-sum dots can never disagree on a boundary
         assignment);
      3. groupBy(cluster).applyInPandas resolves the duplicate
         components LOCALLY (edges only exist within a cluster, so the
         graph is block-diagonal by construction): min-label
         propagation over the thresholded similarity matrix, dense for
         clusters <= max_block and tiled re-compute beyond — emitting
         one (node, component) row per vector.  Routing all-pairs
         edges through the distributed connected-components loop
         instead re-derived, over dozens of shuffle rounds, a
         partition this task already held in memory; together with
         sqrt-sized clusters (the smoke runner must pass
         n_centroids=None — the function default 16 is oracle-pinned)
         the 64x smoke went 142s -> 14s;
      4. one row_number window per component picks the survivor.

    Generalizes the reference's by-key dedup (J1/D1,
    review-crawler/naver_crawler.py:243-252) to 'same meaning, different
    bytes' — the dedup grade that text shingles (MinHash) cannot see.
    """
    spark = data.sparkSession
    # NULL vectors cannot cluster or score — dropped, like every
    # similarity entry point (oracles filter identically)
    data = data.filter(F.col(vec_col).isNotNull())
    cent_ids, C = _ivf_index_setup(data, n_centroids, seed_mod, 0, id_col, vec_col)
    if len(cent_ids) == 0:
        return local_frame(
            spark, [], f"{id_col} long, cluster_id long, centroid_sim double, kept boolean"
        )
    bc = spark.sparkContext.broadcast((cent_ids, C))

    def assign(batches):
        cids, C_ = bc.value
        Cn = _unit_rows(C_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = _matrix(pdf["v"])
            S = _round_half_away(_unit_rows(Q) @ Cn.T, round_digits)
            # argmax over (rounded sim desc, centroid id asc): lexsort is
            # ascending, so negate sims; cids is the tie-break minor key
            best = np.lexsort((cids[None, :].repeat(len(S), 0), -S, ), axis=1)[:, 0]
            out = pdf[["id", "v"]].copy()
            out["cluster_id"] = cids[best].astype(np.int64)
            out["centroid_sim"] = S[np.arange(len(S)), best]
            yield out
    assigned = data.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).mapInPandas(
        assign, "id long, v array<double>, cluster_id long, centroid_sim double"
    )
    assigned = assigned.localCheckpoint()  # pairs + survivors + output all read it

    def cluster_components(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # Edges exist only WITHIN a cluster (this group), so the
        # duplicate components are computable entirely locally — the
        # earlier design emitted all-pairs edges into the distributed
        # connected-components loop, whose dozens of shuffle rounds
        # dominated wall time (64x smoke: 142s, ~100 stages) while doing
        # work this task already had in memory.  Min-label propagation
        # over the thresholded similarity matrix converges in diameter
        # rounds (near-dup graphs are clique-like: 1-2), and the output
        # is one (node, component=min id) row per vector — the exact
        # frame connected_components(edges) produced, at N rows instead
        # of an edge set that is quadratic in duplicate-group size.
        n = len(pdf)
        ids = pdf["id"].to_numpy()
        if n < 2:
            return pd.DataFrame({"node": ids, "component": ids})
        # the survivor rule keys on MIN id per component, so order rows
        # by id: index order == id order makes labels comparable as ids
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        Xn = _unit_rows(_matrix(pdf["v"]))[order]
        # ONE pass over the tiled similarity matrix extracts the edge
        # index pairs (same matmul volume the old edge-emission paid);
        # tiles are bounded in BOTH dimensions so a hot cluster cannot
        # build an S block wider than max_block (a 4096 x cluster_width
        # strip would be ~4 GB on a 125k-row hot cluster)...
        ea_parts, eb_parts = [], []
        for lo in range(0, n, max_block):
            Qb = Xn[lo : lo + max_block]
            for lo2 in range(lo, n, max_block):  # upper triangle only
                S_blk = _round_half_away(
                    Qb @ Xn[lo2 : lo2 + max_block].T, round_digits
                )
                a_idx, b_idx = np.nonzero(S_blk >= threshold)
                a_idx = a_idx + lo
                b_idx = b_idx + lo2
                keep = a_idx < b_idx
                ea_parts.append(a_idx[keep])
                eb_parts.append(b_idx[keep])
        ea = np.concatenate(ea_parts) if ea_parts else np.empty(0, np.int64)
        eb = np.concatenate(eb_parts) if eb_parts else np.empty(0, np.int64)
        # ...then min-label propagation over the EDGE ARRAYS with pointer
        # jumping: O(E) per round, O(log n) rounds even on duplicate
        # CHAINS (copy k ~ copy k+1 but not k ~ k+2), where matrix-form
        # min-label propagation is O(diameter) full-matmul rounds —
        # measured 690s at 64x smoke on exactly that chain topology
        lab = np.arange(n)
        while len(ea):
            prev = lab.copy()
            m = np.minimum(lab[ea], lab[eb])
            np.minimum.at(lab, ea, m)
            np.minimum.at(lab, eb, m)
            while True:
                nl = lab[lab]
                if np.array_equal(nl, lab):
                    break
                lab = nl
            if np.array_equal(lab, prev):
                break
        return pd.DataFrame({"node": ids, "component": ids[lab]})

    comp = assigned.groupBy("cluster_id").applyInPandas(
        cluster_components, "node long, component long"
    )
    ranked = comp.join(
        assigned.select("id", "centroid_sim"), comp["node"] == F.col("id")
    ).select("node", "component", "centroid_sim")
    w = Window.partitionBy("component").orderBy(
        F.col("centroid_sim").asc(), F.col("node").asc()
    )
    survivors = ranked.withColumn("rk", F.row_number().over(w)).select(
        F.col("node"), (F.col("rk") == 1).alias("kept_in_comp")
    )
    return (
        assigned.join(survivors, assigned["id"] == survivors["node"], "left")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            "centroid_sim",
            F.coalesce(F.col("kept_in_comp"), F.lit(True)).alias("kept"),
        )
    )


def embedding_label_outliers(
    data: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 4,
) -> DataFrame:
    """Per-label outlier mining: cosine of every vector to its LABEL
    CENTROID (element-wise mean), lowest-k per label — the standard
    mislabeled-example / noisy-data detector for supervised corpora
    (prototype distance).  Pure JVM expressions, no Arrow stage:

      1. posexplode to (label, pos, x) and average per (label, pos) —
         partial aggregation collapses each partition before the
         shuffle, so the wire carries labels x dim rows, not vectors;
      2. the centroid frame is labels x dim (tiny) — Catalyst broadcasts
         it back onto the exploded frame; dot products and norms are two
         groupBy(vec) partial sums;
      3. one rank window per label (never global) takes the k least
         central members.

    Output: (label, vec_id, centroid_sim, rank) for the k outliers per
    label, rank 1 = farthest from the centroid."""
    ex = data.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    cent = ex.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    pv = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("x") * F.col("m")).alias("dot"),
            F.sum(F.col("x") * F.col("x")).alias("v2"),
        )
    )
    cn = cent.groupBy("label").agg(F.sum(F.col("m") * F.col("m")).alias("c2"))
    scored = pv.join(F.broadcast(cn), "label").select(
        "label",
        "vec_id",
        F.round(
            # zero vectors (and empty-label centroids) score 0, not error;
            # NULL inputs propagate NULL like the oracle CASE guard
            F.when(F.col("v2") * F.col("c2") == 0, F.lit(0.0)).otherwise(
                F.col("dot") / F.sqrt(F.col("v2") * F.col("c2"))
            ),
            round_digits,
        ).alias("centroid_sim"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("centroid_sim").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("label", "vec_id", "centroid_sim", "rank")
    )


def bitext_margin_mine(
    side_a: DataFrame,
    side_b: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_blocks: int = 4,
    method: str = "exact",
    nprobe: int = 4,
    n_centroids: int | None = None,
) -> DataFrame:
    """Margin-based parallel-pair mining between two embedding corpora
    (Artetxe & Schwenk 2019; the CCMatrix/LASER topology for harvesting
    translation pairs for LLM training): a pair (x, y) is emitted when x
    and y are each other's mutual nearest neighbor, scored by the RATIO
    margin — cosine(x,y) normalized by the mean of each side's top-k
    neighborhood — which cancels hubness (vectors that are near
    everything score high cosines but low margins).

        margin(x,y) = cos(x,y) / ((avg_topk(x) + avg_topk(y)) / 2)

    Distribution shape: two brute_force_top_k passes (A->B, B->A), each a
    cogrouped block-nested-loop with no driver collect; everything after
    is per-query aggregation + equi-joins on ids.  At huge N swap the
    exact passes for ivf_top_k — the output contract (query_id,
    neighbor_id, cosine_sim, rank) is identical.

    Exactness: cosines are snapped to the 10^-round_digits grid inside
    the tile scorer; the margin is computed from exact bigint micro-cos
    sums — margin = 2*k_a*k_b*mc / (sum_a*k_b + sum_b*k_a) — with ONE
    double division at the end, so the result is aggregation-order
    independent and matches a SQL oracle bit-for-bit.  Ids of the two
    sides must be disjoint (cross-side id collisions would be dropped by
    the tile scorer's self-match mask)."""
    scale = float(10**round_digits)

    def micro(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__mc", F.round(F.col("cosine_sim") * F.lit(scale)).cast("long")
        )

    if method == "exact":

        def topk(q, c):
            return brute_force_top_k(
                q, c, k, id_col, id_col, vec_col, round_digits, n_blocks
            )

    elif method == "ivf":
        # the 100 TB form: swap the quadratic BNL passes for two-sided IVF
        # (index trained on the candidate side of each direction) — same
        # output contract, margin math unchanged; recall is the only trade
        def topk(q, c):
            return ivf_cross_top_k(
                q,
                c,
                k,
                n_centroids=n_centroids,
                nprobe=nprobe,
                query_id=id_col,
                cand_id=id_col,
                vec_col=vec_col,
                round_digits=round_digits,
            )

    else:
        raise ValueError(f"unknown method {method!r}; 'exact' or 'ivf'")

    a2b = micro(topk(side_a, side_b))
    b2a = micro(topk(side_b, side_a))
    sums_a = a2b.groupBy("query_id").agg(
        F.sum("__mc").alias("__sa"), F.count("*").alias("__ka")
    )
    sums_b = b2a.groupBy("query_id").agg(
        F.sum("__mc").alias("__sb"), F.count("*").alias("__kb")
    )
    best_f = a2b.filter(F.col("rank") == 1).select(
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("tgt_id"),
        "cosine_sim",
        "__mc",
    )
    best_b = b2a.filter(F.col("rank") == 1).select(
        F.col("query_id").alias("tgt_id"), F.col("neighbor_id").alias("src_id")
    )
    mutual = best_f.join(best_b, ["src_id", "tgt_id"])
    return (
        mutual.join(sums_a.withColumnRenamed("query_id", "src_id"), "src_id")
        .join(sums_b.withColumnRenamed("query_id", "tgt_id"), "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "cosine_sim",
            F.round(
                (F.lit(2.0) * F.col("__mc") * F.col("__ka") * F.col("__kb"))
                / (F.col("__sa") * F.col("__kb") + F.col("__sb") * F.col("__ka")),
                round_digits,
            ).alias("margin"),
        )
    )


def ivf_cross_top_k(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_centroids: int | None = None,
    nprobe: int = 4,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int | None = None,
    round_digits: int = 6,
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF-flat approximate top-k of `queries` against a SEPARATE
    candidate corpus — the two-sided generalization of ivf_top_k (same
    output contract as brute_force_top_k, so callers swap freely).

    The index is trained on the CANDIDATE side (that is the corpus being
    searched): centroid sample + optional spherical k-means refinement.
    One assignment pass per side — candidates land in their single
    nearest bucket, queries fan to their `nprobe` nearest — then each
    bucket scores its queries against its candidates in one grouped
    Arrow pass and a per-query rank window merges the probes.  Shuffle
    volume is (|Q| * nprobe + |C|) vector rows keyed by bucket; no pair
    materialization anywhere.

    Ids of the two sides must be disjoint (the tile scorer masks
    id-equal pairs, a cross-side collision would silently drop a valid
    result)."""
    spark = candidates.sparkSession
    cent_ids, C = _ivf_index_setup(
        candidates, n_centroids, seed_mod, kmeans_iters, cand_id, vec_col
    )
    if len(cent_ids) == 0:
        return local_frame(spark, [], _TOPK_SCHEMA)
    q_assigned = _explode_probes(
        _assign_probes(queries, cent_ids, C, nprobe, query_id, vec_col), nprobe
    ).select("id", "v", "centroid_id", F.lit(1).alias("is_query"))
    c_assigned = _assign_probes(candidates, cent_ids, C, 1, cand_id, vec_col).select(
        "id", "v", F.col("probes")[0].alias("centroid_id"), F.lit(0).alias("is_query")
    )

    def bucket_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        is_query = pdf["is_query"] == 1
        return _frame_top_k(pdf[is_query], pdf[~is_query], k, round_digits)

    bucket_results = (
        q_assigned.unionByName(c_assigned)
        .groupBy("centroid_id")
        .applyInPandas(bucket_topk, _TOPK_SCHEMA)
    )
    return _merge_tile_partials(bucket_results, k)


def hamming_block_bounds(dim: int, n_blocks: int) -> list[tuple[int, int]]:
    """[start, end) dim ranges of the pigeonhole blocks (sizes differ by
    at most one)."""
    base, extra = divmod(dim, n_blocks)
    bounds, start = [], 0
    for b in range(n_blocks):
        end = start + base + (1 if b < extra else 0)
        bounds.append((start, end))
        start = end
    return bounds


def hamming_exact_pairs(
    embeddings: DataFrame,
    d_max: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT near-dup pairs of sign-quantized embeddings at hamming
    distance <= d_max — via the pigeonhole equi-join, not a similarity
    search: split the dim-bit signature into d_max + 1 contiguous
    blocks; two signatures within d_max differ in at most d_max blocks,
    so they AGREE EXACTLY on at least one block — the equi-join on
    (block_id, block_value) yields a complete candidate set (zero
    recall loss, the guarantee banded LSH trades away), and
    bit_count(xor) verifies in codegen.  The oracle for this query is
    the exhaustive O(n^2) definition, so completeness is verified
    against the spec, not asserted.

    Scale shape: candidates are bucket-bounded like every LSH tier here
    (a block value shared by d docs costs d^2 — 9-10-bit blocks keep
    buckets small on non-degenerate sign distributions); the packed
    signature rides the join as two bigints (16 bytes), never the float
    vector.  Output: (id_a, id_b, hamming)."""
    if d_max < 0:
        raise ValueError(f"d_max={d_max} must be >= 0")
    n_blocks = d_max + 1
    bounds = hamming_block_bounds(dim, n_blocks)
    e = embeddings.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    # Pack via ONE sign-bit array + slice/zip folds against power-of-two
    # literal arrays instead of per-bit shiftleft(when(element_at..))
    # chains: the per-bit form put ~dim + sum(block sizes) Add/When/
    # ElementAt nodes in the tree TWICE (both self-join sides) and cost
    # seconds of driver-side Catalyst optimization per invocation (the
    # entry-18 pathology; guide §7.3).  bit_k<<k == bit_k * 2^k on exact
    # integers and addition order is immaterial, so lo/hi/block values
    # are bit-identical to the per-bit form.
    bits = F.transform(
        F.col(vec_col),
        lambda x: F.when(x > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )

    def _pack(bits_col, s: int, t: int):
        return F.aggregate(
            F.zip_with(
                F.slice(bits_col, s + 1, t - s),
                F.lit([1 << k for k in range(t - s)]).cast("array<long>"),
                lambda b, p: b * p,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    lo = _pack(bits, 0, 32)
    hi = _pack(bits, 32, dim)
    block_structs = [
        F.struct(
            F.lit(b).cast("int").alias("block_id"),
            _pack(bits, s, t).alias("block_val"),
        )
        for b, (s, t) in enumerate(bounds)
    ]
    base = e.select(
        F.col(id_col).alias("id"),
        lo.alias("__lo"),
        hi.alias("__hi"),
        F.explode(F.array(*block_structs)).alias("__blk"),
    ).select("id", "__lo", "__hi", "__blk.block_id", "__blk.block_val")
    a = base.alias("a")
    b = base.alias("b")
    cand = (
        a.join(b, ["block_id", "block_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.__lo").alias("__lo_a"),
            F.col("a.__hi").alias("__hi_a"),
            F.col("b.__lo").alias("__lo_b"),
            F.col("b.__hi").alias("__hi_b"),
        )
        .distinct()
    )
    ham = (
        F.bit_count(F.col("__lo_a").bitwiseXOR(F.col("__lo_b")))
        + F.bit_count(F.col("__hi_a").bitwiseXOR(F.col("__hi_b")))
    ).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= d_max)
        .select("id_a", "id_b", "hamming")
    )


def _kmeans_candidate_frame(
    emb: DataFrame, k: int, id_col: str, vec_col: str, round_digits: int
) -> DataFrame:
    """(id, __sid, __dist, __rn) — every vector's distance to each of the
    k lowest-id seeds, ranked (dist, sid).  The shared core of
    kmeans_assign_step and the cluster-quality reads below."""
    # NULL vectors cannot be assigned — dropped (oracle filters identically)
    e = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    seeds = (
        e.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col).alias("__sid"), F.col("__v").alias("__sv"))
    )
    dist = F.round(
        F.aggregate(
            F.zip_with("__v", "__sv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        round_digits,
    )
    d = e.crossJoin(F.broadcast(seeds)).withColumn("__dist", dist)
    w = Window.partitionBy(id_col).orderBy("__dist", "__sid")
    return d.withColumn("__rn", F.row_number().over(w))


def kmeans_silhouette(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: for each
    vector, a = distance to its own seed, b = distance to the nearest
    OTHER seed, s = (b - a) / max(a, b) on the exact micro grid (s = 0
    when both distances are 0 — the degenerate duplicate-seed case).
    The O(n*k) centroid form of the O(n^2) pairwise silhouette — the
    clustering-quality number an IVF/partitioning decision actually
    reads at scale, computable in one pass over the assignment frame.
    Output: (cluster_id, n_members, mean_silhouette_micro)."""
    r = _kmeans_candidate_frame(emb, k, id_col, vec_col, round_digits)
    per = (
        r.filter(F.col("__rn") <= 2)
        .groupBy(id_col)
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("__sid"))).alias("__cid"),
            F.max(F.when(F.col("__rn") == 1, F.col("__dist"))).alias("__a"),
            F.max(F.when(F.col("__rn") == 2, F.col("__dist"))).alias("__b"),
        )
    )
    mx = F.greatest("__a", "__b")
    sm = F.when(mx == 0, F.lit(0).cast("long")).otherwise(
        F.floor((F.col("__b") - F.col("__a")) / mx * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
    )
    return (
        per.withColumn("__sm", sm)
        .groupBy(F.col("__cid").cast("long").alias("cluster_id"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.expr("sum(__sm) div count(*)").cast("long").alias(
                "mean_silhouette_micro"
            ),
        )
    )


def cluster_label_purity(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 4,
) -> DataFrame:
    """Majority-label purity per k-means cluster (the label-agreement
    read a curation pipeline uses to decide whether embedding clusters
    track a supervised facet).  NULL-labeled vectors are excluded before
    assignment so n_members is the labeled population.  Ties on the
    majority label break label-ascending.  Output: (cluster_id,
    n_members, top_label, purity_micro)."""
    labeled = emb.filter(F.col(label_col).isNotNull())
    r = _kmeans_candidate_frame(labeled, k, id_col, vec_col, round_digits)
    assign = (
        r.filter(F.col("__rn") == 1)
        .select(id_col, F.col("__sid").alias("__cid"))
        .join(labeled.select(id_col, label_col), id_col)
    )
    grp = assign.groupBy("__cid", label_col).agg(
        F.count("*").cast("long").alias("__c")
    )
    w = Window.partitionBy("__cid").orderBy(
        F.col("__c").desc(), F.col(label_col).asc()
    )
    top = grp.withColumn("__rn", F.row_number().over(w))
    totals = grp.groupBy("__cid").agg(F.sum("__c").alias("__n"))
    return (
        top.filter(F.col("__rn") == 1)
        .join(totals, "__cid")
        .select(
            F.col("__cid").cast("long").alias("cluster_id"),
            F.col("__n").cast("long").alias("n_members"),
            F.col(label_col).alias("top_label"),
            F.expr("__c * 1000000 div __n").cast("long").alias("purity_micro"),
        )
    )


def _scan_top_k(scored: DataFrame, order, score_col: str, k: int) -> DataFrame:
    """Top-k cut of a quantized serving scan's (query_id, neighbor_id,
    score_col) rows ranked by (`order`, neighbor_id asc): a partial top-k
    per (query, input partition) first, then the global merge — never an
    unpartitioned window, and the shuffle carries at most k rows per
    (query, partition)."""
    by = (order, F.col("neighbor_id").asc())
    w_local = Window.partitionBy("query_id", "__pid").orderBy(*by)
    pruned = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= k)
    )
    w_global = Window.partitionBy("query_id").orderBy(*by)
    return (
        pruned.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score_col, F.col("rank").cast("int"))
    )


def _recall_vs_exact(
    emb: DataFrame, k: int, every: int, id_col: str, vec_col: str, scan
) -> DataFrame:
    """Per-query recall@k of a quantized top-k `scan` (called like
    int8_dot_top_k) against the exact cosine top-k, every `every`-th id
    a query.  Output: (query_id, n_exact, n_overlap)."""
    q = emb.filter((F.col(id_col) % every) == 0)
    ids = dict(query_id=id_col, cand_id=id_col, vec_col=vec_col)
    pair = ("query_id", "neighbor_id")
    exact = brute_force_top_k(q, emb, k=k, round_digits=4, **ids).select(*pair)
    approx = scan(q, emb, k=k, **ids).select(*pair)
    hits = exact.join(approx, list(pair)).groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_overlap")
    )
    n_exact = exact.groupBy("query_id").agg(F.count("*").cast("long").alias("n_exact"))
    return (
        n_exact.join(hits, "query_id", "left")
        .na.fill({"n_overlap": 0})
        .select("query_id", "n_exact", F.col("n_overlap").cast("long"))
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization: the cheapest vector-compression tier —
# 64-dim float32 -> 64 bits (32x), scored by XOR+popcount.  The serving
# pattern below matryoshka/int8: scan the whole candidate set with bit ops,
# optionally rerank survivors exactly.
# ---------------------------------------------------------------------------


def _sign_bit_halves(vec, dim: int) -> list:
    """Pack sign bits (x > 0) of a `dim`-sized float array column into
    32-bit halves, each an MSB-first fold acc*2+bit — values stay under
    2^32, so the fold never overflows a BIGINT even under ANSI mode
    (a single 64-bit pack would wrap on bit 63)."""
    halves = []
    for lo in range(0, dim, 32):
        hi = min(lo + 32, dim)
        idx = F.sequence(F.lit(hi - 1), F.lit(lo), F.lit(-1))
        halves.append(
            F.aggregate(
                idx,
                F.lit(0).cast("long"),
                lambda acc, i: acc * 2
                + F.when(F.element_at(vec, i + 1) > 0, F.lit(1)).otherwise(F.lit(0)),
            )
        )
    return halves


def binary_packed_candidates(
    candidates: DataFrame,
    dim: int,
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bit-packed candidate frame (neighbor_id, __ch0..__chH) for
    binary_hamming_top_k's `shared_packed` — pack the corpus once per
    session (localCheckpoint at the call site) instead of once per scan.
    Queries repack per call (they're tiny and broadcast anyway)."""
    return candidates.filter(F.col(vec_col).isNotNull()).select(
        F.col(cand_id).alias("neighbor_id"),
        *[
            h.alias(f"__ch{j}")
            for j, h in enumerate(_sign_bit_halves(F.col(vec_col), dim))
        ],
    )


def binary_hamming_top_k(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    dim: int,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    shared_packed: DataFrame | None = None,
) -> DataFrame:
    """Top-k nearest candidates per query under HAMMING distance between
    sign-bit quantized vectors (self-matches on id equality excluded;
    NULL vectors dropped).  Ties break neighbor-id-ascending.

    Scale shape: entirely JVM-side — sign bits pack once per side into
    32-bit halves, the (small) packed query set broadcasts onto a single
    scan of the candidates, distance is XOR+popcount per half, and the
    top-k cut is two windows: a partial top-k per (query, input
    partition) first, then the global merge — never an unpartitioned
    window, and the shuffle carries at most k rows per (query,
    partition).  This is the binary-quantization serving scan: at 100 TB
    the candidate pass is a sequential popcount scan, exactly what the
    bit-packing buys.

    `shared_packed` optionally supplies binary_packed_candidates'
    pre-packed corpus so repeated scans skip the candidate pack pass;
    results identical (tests/test_shared_quant_builds.py)."""
    qp = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id).alias("query_id"),
        *[
            h.alias(f"__qh{j}")
            for j, h in enumerate(_sign_bit_halves(F.col(vec_col), dim))
        ],
    )
    cp = (
        shared_packed
        if shared_packed is not None
        else binary_packed_candidates(candidates, dim, cand_id, vec_col)
    )
    n_halves = (dim + 31) // 32
    ham = None
    for j in range(n_halves):
        term = F.bit_count(F.col(f"__qh{j}").bitwiseXOR(F.col(f"__ch{j}")))
        ham = term if ham is None else ham + term
    scored = cp.join(F.broadcast(qp), F.col("query_id") != F.col("neighbor_id"))
    return _scan_top_k(
        scored.withColumn("hamming", ham.cast("int")), F.col("hamming").asc(), "hamming", k
    )


def binary_quant_recall(
    emb: DataFrame,
    k: int = 10,
    every: int = 50,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the sign-bit Hamming scan against exact cosine top-k,
    per query (every `every`-th id is a query; the standard quality gate
    before shipping a quantized index tier).  Output: (query_id,
    n_exact, n_overlap) — n_overlap of the k binary hits land in the
    exact top-k.  Both sides use the deterministic neighbor-id tie
    order, so the sets are exact and oracle-stable."""
    scan = functools.partial(binary_hamming_top_k, dim=dim)
    return _recall_vs_exact(emb, k, every, id_col, vec_col, scan)


# ---------------------------------------------------------------------------
# int8 scalar-quantization serving tier: the 4x-compression middle rung
# between binary (32x, binary_hamming_top_k) and full-precision — scored by
# exact INTEGER dot products over 0..255 codes.
# ---------------------------------------------------------------------------


def _int8_stats_arrays(emb: DataFrame, vec_col: str) -> DataFrame:
    """ONE row of (vmins, vmaxs) arrays — the per-dimension affine
    quantizer bounds over `emb` (the same global (min, max) audit frame
    embedding_int8_stats reports).  array_sort on (pos, ...) structs
    gives a deterministic dimension order, not collect_list's arrival
    order."""
    ex = emb.filter(F.col(vec_col).isNotNull()).select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x")
    )
    stats = ex.groupBy("pos").agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
    return stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "vmin", "vmax"))).alias("__st")
    ).select(
        F.transform(F.col("__st"), lambda s: s["vmin"]).alias("__vmins"),
        F.transform(F.col("__st"), lambda s: s["vmax"]).alias("__vmaxs"),
    )


def _apply_int8_codes(
    emb: DataFrame, arrs: DataFrame, id_col: str, vec_col: str, out_id: str
) -> DataFrame:
    """(out_id, c): per-dimension affine int8 codes under the broadcast
    quantizer bounds `arrs` — q_i = floor((x_i - vmin_i)/span_i * 255
    + 0.5), 0 on a zero-span dimension.  The TRAINED bounds apply to
    every side (queries quantize with the candidate-set quantizer, the
    serving contract), which is why stats and coding are split."""

    def quant(x, i):
        vmin = F.element_at(F.col("__vmins"), i + 1)
        vmax = F.element_at(F.col("__vmaxs"), i + 1)
        span = vmax - vmin
        return (
            F.when(span == 0, F.lit(0).cast("long"))
            .otherwise(
                F.floor((x - vmin) / span * F.lit(255.0) + F.lit(0.5)).cast("long")
            )
        )

    return (
        emb.filter(F.col(vec_col).isNotNull())
        .crossJoin(F.broadcast(arrs))
        .select(
            F.col(id_col).alias(out_id),
            F.transform(F.col(vec_col).cast("array<double>"), quant).alias("c"),
        )
    )


def int8_candidate_codes(
    candidates: DataFrame,
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(quantizer-bounds frame, coded-candidates frame) for
    int8_dot_top_k's `shared_codes` — the candidate-side build is the
    dominant cost of the scan (per-dim min/max stats + affine coding of
    the whole corpus), and a session running several int8 scans over one
    corpus (bench's min-of-N protocol, a serving tier answering many
    query batches) should pay it once.  localCheckpoint both frames at
    the call site; queries are still coded per call (they must use THIS
    quantizer — the serving contract)."""
    arrs = _int8_stats_arrays(candidates, vec_col)
    cc = _apply_int8_codes(candidates, arrs, cand_id, vec_col, "neighbor_id").select(
        "neighbor_id", F.col("c").alias("__cc")
    )
    return arrs, cc


def int8_dot_top_k(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    shared_codes: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Top-k candidates per query by exact INTEGER dot product of int8
    codes (self-matches excluded, ties neighbor-id-ascending).  Same
    serving scan shape as binary_hamming_top_k: packed queries broadcast
    over one candidate pass, partial-then-global top-k windows, all
    JVM-side; scores are BIGINT-exact (codes <= 255, so a 64-dim dot
    <= 64 * 255^2), hence oracle-stable with no snapping at all.

    `shared_codes` optionally supplies the (bounds, coded-candidates)
    pair from int8_candidate_codes so repeated scans of one corpus skip
    the stats + coding passes; results are identical (pinned by
    tests/test_shared_quant_builds.py)."""
    if shared_codes is None:
        arrs = _int8_stats_arrays(candidates, vec_col).localCheckpoint(eager=False)
        cc = _apply_int8_codes(
            candidates, arrs, cand_id, vec_col, "neighbor_id"
        ).select("neighbor_id", F.col("c").alias("__cc"))
    else:
        arrs, cc = shared_codes
    qc = _apply_int8_codes(queries, arrs, query_id, vec_col, "query_id").select(
        "query_id", F.col("c").alias("__qc")
    )
    dot = _int_dot(F.col("__qc"), F.col("__cc"))
    scored = cc.join(F.broadcast(qc), F.col("query_id") != F.col("neighbor_id"))
    return _scan_top_k(
        scored.withColumn("dot_q8", dot), F.col("dot_q8").desc(), "dot_q8", k
    )


def int8_quant_recall(
    emb: DataFrame,
    k: int = 10,
    every: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the int8 dot-product scan against exact cosine top-k
    per query — the quality gate for the 4x tier, closing the
    quantization ladder next to binary_quant_recall (32x) and
    matryoshka_prefix_recall (dimension truncation).  Both sides pin the
    neighbor-id tie order.  Output: (query_id, n_exact, n_overlap)."""
    return _recall_vs_exact(emb, k, every, id_col, vec_col, int8_dot_top_k)


def pca_power_integer(
    emb: DataFrame,
    dims: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 1_000_000,
) -> DataFrame:
    """Top principal direction of the embedding corpus (a dims-prefix
    slice) by fixed-iteration power method, computed ENTIRELY on integer
    grids so a SQL oracle can unroll identical iterations (the
    pagerank_integer treatment applied to a dense spectral read):

      c[r,j]  = floor(x[r,j] * 1e6 + 0.5)                (component grid)
      C[j,k]  = sum_r c[r,j] * c[r,k]                    (exact BIGINT)
      Cn      = C div max(1, max|C| div 1e5)             (~1e5 scale)
      v_0     = [1e6] * dims
      v_{t+1} = (Cn v_t * 1e6) div max(1, max|Cn v_t|)   (re-scale each step)

    Integer division truncates toward zero identically in Spark (div)
    and DuckDB (//) for SIGNED operands (verified -7//2 = -3 in both),
    so the signed iteration is bit-exact cross-engine.  Overflow bounds:
    the iteration matvec is |Cn v| <= dims * 1e5 * 1e6 = 1.6e12,
    * 1e6 = 1.6e18 < 2^63 at any corpus size; the COVARIANCE BUILD is
    the row-count-bounded leg — each per-row product is <= grid^2 for
    unit-scale components, so the exact BIGINT sum holds up to
    rows <= 2^63 / grid^2 (~9.2e6 rows at the default 1e6 grid).
    `grid` is therefore the row-count knob, traded against component
    resolution: grid=1e3 bounds ~9.2e12 rows (a 100 TB corpus) at 1e-3
    component resolution — still ~1e3x finer than the int8 serving
    tier.  Both engines take the grid as the same literal, so any
    choice stays bit-exact cross-engine; pick it per corpus size rather
    than per run (a data-dependent grid would make results
    row-count-sensitive).

    Why a pipeline wants it: the leading PCA direction drives whitening,
    embedding-drift reads ("did the index's principal axis move after
    re-embedding") and Matryoshka-style dimension auditing — and the
    usual implementation (numpy eig on a collected matrix) has no
    distributed, oracle-checkable form.

    Scale shape: ONE self-join at (row x dims^2) grain builds C —
    map-side combined to a dims^2-row frame, broadcast everywhere after
    — then `iters` joins over dims-row frames (driver never collects).
    dims is the 100 TB knob: cost is linear in rows at fixed dims.

    Returns (dim 1-based, loading_micro) — the unnormalized direction
    on a 1e6 grid; callers normalize/sign-flip as needed."""
    # covariance WITHOUT a self-join: each row emits its dims^2 snapped
    # component products via nested array transforms (pure codegen), and
    # ONE map-side-combined aggregation collapses them to the dims^2-row
    # C frame — no row-grain shuffle at any corpus size (the first cut
    # joined ex with itself on the row id: 60 SMJs / 82 exchanges in the
    # audited plan vs 1 exchange here)
    cm = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(
            F.explode(
                F.expr(
                    f"flatten(transform(slice({vec_col}, 1, {dims}), (xj, j) -> "
                    f"transform(slice({vec_col}, 1, {dims}), (xk, k) -> "
                    "struct(j + 1 AS j, k + 1 AS k, "
                    f"CAST(floor(CAST(xj AS DOUBLE) * {float(grid)} + 0.5) AS BIGINT)"
                    f" * CAST(floor(CAST(xk AS DOUBLE) * {float(grid)} + 0.5) AS BIGINT)"
                    " AS p))))"
                )
            ).alias("__e")
        )
        .groupBy(F.col("__e.j").alias("j"), F.col("__e.k").alias("k"))
        .agg(F.sum("__e.p").cast("long").alias("cv"))
    )
    mx = cm.agg(F.max(F.abs(F.col("cv"))).cast("long").alias("m"))
    cn = (
        cm.crossJoin(F.broadcast(mx))
        .select(
            "j", "k",
            F.expr("cv div greatest(m div 100000, 1L)").cast("long").alias("cn"),
        )
        .localCheckpoint(eager=False)
    )
    v = cn.select("j").distinct().select(
        "j", F.lit(1_000_000).cast("long").alias("v")
    )
    for _ in range(iters):
        w = (
            cn.join(F.broadcast(v.withColumnRenamed("j", "k")), "k")
            .groupBy("j")
            .agg(F.sum(F.col("cn") * F.col("v")).cast("long").alias("w"))
        )
        mw = w.agg(F.max(F.abs(F.col("w"))).cast("long").alias("mw"))
        v = w.crossJoin(F.broadcast(mw)).select(
            "j",
            F.expr("(w * 1000000) div greatest(mw, 1L)").cast("long").alias("v"),
        )
    return v.select(F.col("j").cast("long").alias("dim"), F.col("v").alias("loading_micro"))
